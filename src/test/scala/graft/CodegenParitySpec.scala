package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.{BloomExpr, HashExpr, MediaHeader, VecExpr}

/** Every graft scalar expression gives the same rows compiled and
  * interpreted. An expression's `doGenCode` and its `eval` are two entry
  * points to one algorithm; this spec evaluates each over the edge inputs
  * (null arrays, null elements, empty arrays, token arrays shorter than the
  * shingle size, ragged pairs) once with every projection generated
  * (`CODEGEN_ONLY`, no fallback) and once with none (`NO_CODEGEN`,
  * whole-stage codegen off), and requires equal results column by column.
  *
  * Inputs come from an RDD-backed relation, so the optimizer cannot fold a
  * projection over literals or a local relation and evaluate it
  * interpreted in both modes. */
class CodegenParitySpec extends SparkSpec {

  private val Modes = Seq(
    "codegen" -> Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Evaluate `cols` over `df` in both modes; each column must agree and
    * must not be null on every row (an all-null column would compare
    * equal without running either body). */
  private def assertParity(df: DataFrame, cols: (String, Column)*): Unit = {
    val byMode = Modes.map { case (mode, conf) =>
      withConf(conf) {
        val q = df.select(cols.map { case (name, c) => c.as(name) }: _*)
        val stages = q.queryExecution.executedPlan.collect {
          case w: WholeStageCodegenExec => w
        }
        assert(stages.nonEmpty == (mode == "codegen"),
          s"$mode: whole-stage codegen stages ${stages.size}")
        mode -> q.collect().toSeq
      }
    }.toMap
    cols.map(_._1).zipWithIndex.foreach { case (name, i) =>
      val compiled = byMode("codegen").map(_.get(i))
      val interpreted = byMode("interpreted").map(_.get(i))
      assert(compiled == interpreted, s"$name: codegen $compiled, interpreted $interpreted")
      assert(compiled.exists(_ != null), s"$name: null on every row")
    }
  }

  private lazy val tokenRows = frame(
    StructType(Seq(StructField("t", ArrayType(StringType, containsNull = true)))),
    Row(null),
    Row(Seq.empty[String]),
    Row(Seq("solo")),
    Row(Seq("a", null, "b")),
    Row(Seq(null, null)),
    Row(Seq("the", "quick", "brown", "the", "quick", "brown", "fox")),
    Row(Seq("x", "y", "z", "the", "b")))

  test("token-array expressions: shingles, hashes, rolling hash, set counts") {
    assertParity(tokenRows,
      "shingle_set_3" -> HashExpr.shingleSet(tokenRows("t"), 3),
      "shingle_set_1" -> HashExpr.shingleSet(tokenRows("t"), 1),
      "array_hash60" -> HashExpr.arrayHash60(tokenRows("t")),
      "array_hash60_prefix" -> HashExpr.arrayHash60(tokenRows("t"), "simhash|"),
      "rolling_hash60" -> HashExpr.rollingHash60(tokenRows("t")),
      "count_in_set" -> HashExpr.countInSet(tokenRows("t"), Seq("the", "b", "x")))
  }

  test("rolling_hash60 is null on a null element in both modes") {
    val df = frame(
      StructType(Seq(StructField("t", ArrayType(StringType, containsNull = true)))),
      Row(Seq("a", null)), Row(Seq("a", "b")))
    assertParity(df, "rolling_hash60" -> HashExpr.rollingHash60(df("t")))
    val got = df.select(HashExpr.rollingHash60(df("t"))).collect().map(_.get(0))
    assert(got(0) == null && got(1) != null)
  }

  private lazy val longRows = {
    val L = ArrayType(LongType, containsNull = true)
    frame(StructType(Seq(StructField("h", L), StructField("g", L))),
      Row(null, Seq(1L)),
      Row(Seq.empty[Long], Seq.empty[Long]),
      Row(Seq(1L, null, 3L), Seq(1L, 2L, 3L)),
      Row(Seq(5L, 6L), null),
      Row(Seq(0x0fffffffffffffffL, 42L, -7L, Long.MaxValue), Seq(0x0fffffffffffffffL, 41L, -7L)),
      Row(Seq(123456789L, 987654321L, 123456789L), Seq(123456789L, null, 123456789L, 4L)))
  }

  test("long-array expressions: simhash, minhash, eq-count, bigint dot") {
    assertParity(longRows,
      "simhash_60" -> HashExpr.simhash(longRows("h"), 60),
      "simhash_7" -> HashExpr.simhash(longRows("h"), 7),
      "minhash_sig" -> HashExpr.minhashSig(longRows("h"), 16),
      "minhash_band_keys" -> HashExpr.minhashBandKeys(longRows("h"), 16, 4),
      "array_eq_count" -> HashExpr.arrayEqCount(longRows("h"), longRows("g")),
      "long_dot" -> VecExpr.dot(longRows("h"), longRows("g")))
  }

  test("float and double expressions: weighted dot, float dot, double dot") {
    val F = ArrayType(FloatType, containsNull = true)
    val D = ArrayType(DoubleType, containsNull = true)
    val df = frame(
      StructType(Seq(StructField("v", F), StructField("w", F),
        StructField("d", D), StructField("e", D))),
      Row(null, Seq(1f), null, Seq(1.0)),
      Row(Seq.empty[Float], Seq.empty[Float], Seq.empty[Double], Seq.empty[Double]),
      Row(Seq(0.1f, null, 0.3f), Seq(0.7f, 0.2f, null), Seq(0.1, null, 0.3), Seq(0.7, 0.2, 9.0)),
      Row(Seq(1.5f, -2.25f, 3.125f, 7f), Seq(0.5f, 4f), Seq(1e-3, 2.5), Seq(3.0, -1.0, 8.0)),
      Row(Seq(0.3f, 0.6f), null, Seq(0.3, 0.6), null))
    assertParity(df,
      "float_dot_weights" -> HashExpr.floatDotWeights(df("v"), Array(0.5, -1.25, 2.0)),
      "float_dot" -> VecExpr.dot(df("v"), df("w")),
      "double_dot" -> VecExpr.dot(df("d"), df("e")))
  }

  test("media_header and bloom_might_contain") {
    val png = ByteBuffer.allocate(33)
    png.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    png.putInt(13).put("IHDR".getBytes("ASCII")).putInt(640).putInt(480)
    val wav = ByteBuffer.allocate(44).order(ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes("ASCII")).putInt(36).put("WAVE".getBytes("ASCII"))
    wav.put("fmt ".getBytes("ASCII")).putInt(16).putShort(1).putShort(2)
    wav.putInt(44100).putInt(44100 * 4).putShort(4).putShort(16)
    wav.put("data".getBytes("ASCII")).putInt(0)
    val jpeg = Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x0b, 0x08, 0x01, 0x2c, 0x00, 0xc8,
      0x01, 0x01, 0x00).map(_.toByte)
    val gif = "GIF89a".getBytes("ASCII") ++ Array[Byte](10, 0, 20, 0)
    val bloom = BloomFilter.create(64)
    Seq(1L, 2L, 1L << 40).foreach(k => bloom.putLong(k))
    val bc = spark.sparkContext.broadcast(bloom)
    try {
      val df = frame(
        StructType(Seq(StructField("b", BinaryType), StructField("k", LongType))),
        Row(null, null),
        Row(Array.emptyByteArray, 1L),
        Row(png.array(), 2L),
        Row(wav.array(), 3L),
        Row(jpeg, 1L << 40),
        Row(gif, 99L),
        Row("noise".getBytes("ASCII"), -1L))
      assertParity(df,
        "media_header" -> MediaHeader.mediaHeader(df("b")),
        "bloom_might_contain" -> BloomExpr.mightContain(df("k"), bc))
    } finally bc.destroy()
  }
}
