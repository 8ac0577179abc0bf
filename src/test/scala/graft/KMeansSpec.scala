package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.KMeans

class KMeansSpec extends SparkSpec {

  /** 3 planted clusters in 4-d with small deterministic noise. */
  private def planted = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    // ids 0..2 are one point of each cluster (the deterministic init picks
    // them up), the rest cycle through clusters
    val rows = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("fit recovers planted clusters; assignment matches membership") {
    val emb = planted
    val cents = KMeans.fit(emb, "vec_id", "embedding", k = 3, iterations = 3)
    assert(cents.count() == 3)
    val q = emb.select(col("vec_id").as("id"), KMeans.quantize(col("embedding")).as("qv"))
    val assigned = KMeans.assign(q, cents).collect().map(r => r.getLong(0) -> r.getLong(1))
    // every point lands with its planted cluster's seed point (id % 3)
    assert(assigned.forall { case (id, cent) => cent == id % 3 },
      s"misassigned: ${assigned.filterNot { case (id, c) => c == id % 3 }.take(5).toSeq}")
  }

  test("fit is deterministic under repartition (integer-sum centroids)") {
    def run(parts: Int) =
      KMeans.fit(planted.repartition(parts), "vec_id", "embedding", 3, 2)
        .orderBy("cent_id").collect().map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.toSeq
          case x => x
        })
    assert(run(2).toSeq == run(13).toSeq,
      "centroids changed under a different partition layout — sums must be exact")
  }

  test("plan depth is constant in iteration count (per-round checkpoint)") {
    // Without the per-round localCheckpoint, iteration i's plan nests all
    // i−1 prior assign+update plans (the round-4 geometric-lineage shape).
    // With it, the returned state is a k-row scan whose plan size cannot
    // depend on how many Lloyd rounds produced it.
    def planSize(iters: Int): Int =
      KMeans.fit(planted, "vec_id", "embedding", 3, iters)
        .queryExecution.optimizedPlan.collect { case p => p }.size
    val at2 = planSize(2)
    val at10 = planSize(10)
    assert(at10 == at2,
      s"plan grew with iterations: $at2 nodes at 2 iters, $at10 at 10")
    assert(at2 <= 3, s"checkpointed state should be a flat scan, got $at2 nodes")
    // and 10 rounds still converge to the planted clusters
    val cents = KMeans.fit(planted, "vec_id", "embedding", 3, 10)
    val q = planted.select(col("vec_id").as("id"), KMeans.quantize(col("embedding")).as("qv"))
    val assigned = KMeans.assign(q, cents).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(assigned.forall { case (id, cent) => cent == id % 3 })
  }

  test("empty clusters carry their previous centroid forward") {
    import spark.implicits._
    // k=4 but only 3 distinct locations: one centroid starves and must
    // keep its init vector instead of nulling out
    val degenerate = (0 until 30).map { i =>
      (i.toLong, Array.fill(4)(0f).updated(i % 3, 1f))
    }.toDF("vec_id", "embedding")
    val cents = KMeans.fit(degenerate, "vec_id", "embedding", k = 4, iterations = 2)
    assert(cents.count() == 4)
    assert(cents.filter(col("cvec").isNull).count() == 0)
  }

  test("fitSub trains each subspace exactly as fit trains it alone") {
    import spark.implicits._
    // two subspaces: the planted clusters, and the same points reversed
    val emb = planted
    val subVec = Seq(col("embedding"), reverse(col("embedding")))
    val sub = emb.select(col("vec_id").as("id"),
        explode(array(subVec.zipWithIndex.map { case (v, j) =>
          struct(lit(j).as("j"), KMeans.quantize(v).as("qv")) }: _*)).as("s"))
      .select($"id", $"s.j".as("j"), $"s.qv".as("qv"))
    val cents = KMeans.fitSub(sub, 3, 2)
    def rows(df: DataFrame) = df.orderBy("cent_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    subVec.zipWithIndex.foreach { case (v, j) =>
      val alone = KMeans.fit(emb.select($"vec_id", v.as("embedding")),
        "vec_id", "embedding", 3, 2)
      assert(rows(cents.filter($"j" === j).select("cent_id", "cvec")) == rows(alone),
        s"subspace $j diverged from a single-codebook fit")
    }
    assert(cents.filter($"j" === 0).agg(sum("n_members")).head().getLong(0) == 90L)
  }

  test("fitSub refuses an id space that cannot seed every codebook") {
    import spark.implicits._
    // ids offset from 0: the first-k-ids init finds no seeds at all
    val sub = (0 until 30).flatMap(i => (0 until 2).map(j =>
      (100L + i, j, Seq.fill(4)((i % 3 + 1).toLong)))).toDF("id", "j", "qv")
    val err = intercept[IllegalArgumentException](KMeans.fitSub(sub, 3, 2))
    assert(err.getMessage.contains("[0, 3)"), err.getMessage)
  }
}
