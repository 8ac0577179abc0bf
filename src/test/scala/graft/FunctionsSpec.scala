package graft

import org.apache.spark.sql.functions._
import graft.functions.{F, Text, Vectors}

class FunctionsSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  test("surrogateKey matches dbt_utils md5 form incl. null sentinel") {
    import spark.implicits._
    val df = Seq((Some("a"), Some(1)), (None, Some(2))).toDF("x", "y")
    val got = df.select(F.surrogateKey($"x", $"y")).as[String].collect()
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(0) == md5hex("a-1"))
    assert(got(1) == md5hex("_dbt_utils_surrogate_key_null_-2"))
  }

  test("dowSundayZero: 2023-01-01 is a Sunday -> 0") {
    import spark.implicits._
    val df = Seq("2023-01-01", "2023-01-02", "2023-01-07").toDF("d")
      .select(F.dowSundayZero($"d".cast("date")).as("dow"))
    assert(df.as[Int].collect().toSeq == Seq(0, 1, 6))
  }

  test("nullIf / safeDiv") {
    import spark.implicits._
    val df = Seq((10.0, 0.0), (10.0, 2.0)).toDF("x", "d")
      .select(F.safeDiv($"x", $"d").as("r"))
    val r = df.collect().map(r => Option(r.get(0)))
    assert(r(0).isEmpty && r(1).contains(5.0))
  }

  test("minhashSig matches the band-key minima; arrayEqCount counts positions") {
    import org.apache.spark.sql.functions.{col, lit, array}
    import spark.implicits._
    val df = Seq("the quick brown fox jumps over the lazy dog")
      .toDF("text")
      .select(Text.shingleSet($"text", 3).as("sh"))
      .select(
        graft.functions.HashExpr.minhashSig(Text.shingleHashes($"sh"), 32).as("sig"),
        Text.minhashBands($"sh", 32, 8).as("bands"))
    val row = df.head()
    val sig = row.getSeq[Long](0)
    val bands = row.getSeq[String](1)
    assert(sig.length == 32)
    // band b encodes minima 4b..4b+3 as "b:m_m_m_m" — positional parity
    bands.zipWithIndex.foreach { case (b, i) =>
      val expected = s"$i:" + sig.slice(4 * i, 4 * i + 4).mkString("_")
      assert(b == expected, s"band $i diverged from the signature")
    }
    val eq = spark.range(1).select(graft.functions.HashExpr.arrayEqCount(
      array(lit(1L), lit(2L), lit(3L), lit(9L)),
      array(lit(1L), lit(5L), lit(3L))).as("c")).head().getInt(0)
    assert(eq == 2, "eq-count over min length with two matches")
  }

  test("text token/fingerprint/shingles") {
    import spark.implicits._
    val df = Seq("  Hello   World hello ").toDF("text")
    val row = df.select(
      Text.tokenCount($"text").as("n"),
      Text.normalized($"text").as("norm"),
      Text.shingleSet($"text", 2).as("sh")).head()
    assert(row.getAs[Int]("n") == 3)
    assert(row.getAs[String]("norm") == "hello world hello")
    assert(row.getSeq[String](2).sorted == Seq("hello world", "world hello"))
  }

  test("langId picks the marker-heaviest language") {
    import spark.implicits._
    val df = Seq(
      "the cat is in the house and it is warm",
      "der hund ist nicht mit der katze und das ist gut",
      "el perro es de la casa y los gatos",
      "le chien est dans une maison pour les chats").toDF("text")
    val got = df.select(Text.langId($"text")).as[String].collect().toSeq
    assert(got == Seq("en", "de", "es", "fr"))
  }

  test("vector dot/cosine exact on known values") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val row = df.select(
      Vectors.dot($"a", $"b").as("dot"),
      round(Vectors.cosine($"a", $"b"), 9).as("cos")).head()
    assert(row.getDouble(0) == 32.0)
    assert(math.abs(row.getDouble(1) - 0.974631846) < 1e-8)
  }

  test("fdot (codegen expression) is bit-identical to the HOF dot") {
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    // the composable form the codegen expression replaces
    def hof(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    def bitIdentical(df: DataFrame, fused: Column, prettyName: String): Unit = {
      val out = df.select(hof($"a", $"b").as("hof"), fused.as("fused"))
      assert(out.queryExecution.analyzed.toString.contains(prettyName))
      out.collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
    }
    val floats = (0 until 50).map(i =>
      (Seq.tabulate(64)(j => ((i * 31 + j * 7) % 100 / 37.0f) - 1.0f),
       Seq.tabulate(64)(j => ((i * 13 + j * 3) % 100 / 41.0f) - 1.0f))).toDF("a", "b")
    bitIdentical(floats, Vectors.fdot($"a", $"b"), "float_dot")
    bitIdentical(floats, Vectors.dot($"a", $"b"), "double_dot")
    // products past 2^53 round, so a different summation order shows
    val rnd = new scala.util.Random(7)
    val longs = (0 until 50).map(_ =>
      (Seq.fill(64)(rnd.nextLong() >> 22), Seq.fill(64)(rnd.nextLong() >> 22))).toDF("a", "b")
    bitIdentical(longs, graft.operators.KMeans.idot($"a", $"b"), "long_dot")
    val doubles = (0 until 50).map(_ =>
      (Seq.fill(64)(rnd.nextGaussian() * 1e3), Seq.fill(64)(rnd.nextGaussian()))).toDF("a", "b")
    bitIdentical(doubles, Vectors.dot($"a", $"b"), "double_dot")
  }

  test("hyperplaneBucket is deterministic") {
    import spark.implicits._
    val df = Seq(Seq.fill(8)(0.5f), Seq.fill(8)(-0.5f)).toDF("v")
    val b1 = df.select(Vectors.hyperplaneBucket($"v", 8, 4, 42)).as[String].collect()
    val b2 = df.select(Vectors.hyperplaneBucket($"v", 8, 4, 42)).as[String].collect()
    assert(b1.toSeq == b2.toSeq)
    assert(b1(0) != b1(1)) // opposite vectors land on opposite sides
    assert(b1(0).length == 4 && b1(0).forall(c => c == '0' || c == '1'))
  }
}
