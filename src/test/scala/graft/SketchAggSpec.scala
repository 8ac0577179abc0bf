package graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MisraGriesAgg, SketchAgg}
import graft.queries.TextQueries

/** Misra–Gries heavy-hitter aggregate: the superset guarantee, the size
  * bound, and partition-order invariance of the VERIFIED two-pass result
  * (the sketch's extra candidates may vary with partitioning; the final
  * recounted heavy-hitter set must not). */
class SketchAggSpec extends SparkSpec {

  private def candidates(values: Seq[String], k: Int, parts: Int): Seq[String] = {
    import spark.implicits._
    values.toDF("v").repartition(parts)
      .agg(SketchAgg.misraGries($"v", k).as("c"))
      .head().getSeq[String](0)
  }

  test("superset guarantee: every item with freq > n/(k+1) survives") {
    // adversarial tail: 3 heavy items drowned in 600 near-distinct values
    val heavy = Seq.fill(120)("alpha") ++ Seq.fill(90)("beta") ++ Seq.fill(70)("gamma")
    val noise = (0 until 600).map(i => s"noise$i")
    val data = new scala.util.Random(7).shuffle(heavy ++ noise)
    val n = data.size
    for (parts <- Seq(1, 7, 32)) {
      val cand = candidates(data, k = 16, parts = parts)
      assert(cand.size <= 16, s"summary exceeded k at parts=$parts")
      for (h <- Seq("alpha", "beta", "gamma"))
        if (Seq("alpha" -> 120, "beta" -> 90, "gamma" -> 70)
            .toMap.apply(h) > n / 17.0)
          assert(cand.contains(h), s"lost heavy hitter $h at parts=$parts")
    }
  }

  test("two-pass query result is exact and partition-invariant") {
    val dir = "/root/testdata/sf0.001"
    val base = TextQueries.queries("text_heavy_hitters")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(base.nonEmpty, "expected at least one heavy hitter at sf0.001")
    // exactness: recompute ground truth with the full-vocab aggregate
    import spark.implicits._
    val toks = Tables(spark, dir, "documents")
      .select(explode(graft.functions.Text.tokens(
        graft.functions.Text.normalized($"text"))).as("tok"))
    val n = toks.count()
    val truth = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * 32 > n)
      .select($"tok", $"cnt").as[(String, Long)].collect().toMap
    assert(base.map(r => r.head.toString -> r(1).asInstanceOf[Long]).toMap == truth)
  }

  test("merge keeps at most k counters; two-pass verify yields the exact " +
      "heavy-hitter set even when candidates churn") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed 40-distinct stream with k=8: only v0 exceeds n/k; the sketch
    // must track it through merges, and the exact recount must reject
    // every over-counted extra candidate
    val data = Seq.fill(200)("v0") ++ (0 until 390).map(i => s"v${1 + i % 39}")
    val n = data.size
    val cand = candidates(data, k = 8, parts = 16)
    assert(cand.size <= 8)
    assert(cand.contains("v0"), "the one true heavy hitter must survive")
    // two-pass verify = exact recount of candidates + threshold filter:
    // the result must equal the exact heavy-hitter set, whatever extra
    // candidates the sketch carried
    val df = data.toDF("v").repartition(16)
    val verified = df.filter(col("v").isin(cand: _*))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 8 > n)
      .as[(String, Long)].collect().toMap
    assert(verified == Map("v0" -> 200L),
      s"exact recount must reject sketch over-counts: $verified")
  }

  test("long-keyed variant: superset + size bound + two-pass exactness " +
      "over random skewed long streams, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 10) {
      val k = 4 + rnd.nextInt(12)
      val nVals = 5 + rnd.nextInt(60)
      // keys include a high-bit component so packing-scale magnitudes
      // (the basket pair layout: a<<32|b) are exercised, not just tiny ints
      val data = (0 until 400 + rnd.nextInt(400)).map { _ =>
        val v = math.min((-math.log(rnd.nextDouble()) * 4).toLong, nVals - 1L)
        (v << 32) | (v + 1L)
      }
      val n = data.size
      val parts = 1 + rnd.nextInt(24)
      val df = data.toDF("v").repartition(parts)
      val cand = df.agg(SketchAgg.misraGries($"v", k).as("c"))
        .head().getSeq[Long](0)
      assert(cand.size <= k, s"trial $trial: summary exceeded k=$k")
      assert(cand == cand.sorted, s"trial $trial: eval must emit sorted keys")
      val verified = df.filter($"v".isin(cand: _*))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * k > n)
        .as[(Long, Long)].collect().toMap
      val exact = data.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * k > n }.toMap
      assert(verified === exact,
        s"trial $trial (k=$k, parts=$parts, n=$n): $verified != $exact")
    }
  }

  test("one aggregate: the child's type picks the output element type and " +
      "the counter map, and a serialize/deserialize round trip keeps the counters") {
    import spark.implicits._
    def outType(df: org.apache.spark.sql.DataFrame): DataType =
      df.agg(SketchAgg.misraGries($"v", 4).as("c")).schema("c").dataType
    assert(outType(Seq("a", "b", "a").toDF("v")) == ArrayType(StringType, containsNull = false))
    assert(outType(Seq(1L, 2L, 1L).toDF("v")) == ArrayType(LongType, containsNull = false))

    val cases = Seq(
      (StringType, Seq("x", "y", "x", "z", "x", "y").map(UTF8String.fromString),
        "misra_gries", Seq("x", "y", "z").map(UTF8String.fromString)),
      (LongType, Seq(7L << 32 | 8L, -3L, 7L << 32 | 8L, 5L, 7L << 32 | 8L, -3L),
        "misra_gries_long", Seq(-3L, 5L, 7L << 32 | 8L)))
    for ((t, input, name, sortedKeys) <- cases) {
      val agg = MisraGriesAgg(BoundReference(0, t, nullable = true), k = 8)
      assert(agg.dataType == ArrayType(t, containsNull = false))
      assert(agg.prettyName == name)
      val buf = input.foldLeft(agg.createAggregationBuffer())(
        (b, v) => agg.update(b, InternalRow(v)))
      assert(buf.isInstanceOf[mutable.LongMap[_]] == (t == LongType), s"$t counter map")
      assert(buf.size == 3)
      val back = agg.deserialize(agg.serialize(buf))
      assert(back.isInstanceOf[mutable.LongMap[_]] == (t == LongType), s"$t after serde")
      assert(back.toMap == buf.toMap, s"$t: counters changed in the round trip")
      assert(agg.eval(back).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toSeq[Any](t) == sortedKeys)
    }
  }
}
