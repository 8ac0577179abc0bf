package graft

import org.apache.spark.sql.functions._
import graft.queries.SimilarityQueries

/** Governance of the minhash band-bucket stream (VERDICT r15 #1): the
  * last exact family without a mass fence. PERF.md round 16 measured the
  * band-join candidate mass FLAT on every graded corpus (0.09 pairs/doc,
  * max bucket 19 of 500 k docs at skew10), so the fence's failure mode
  * must be constructed: a duplicate-saturated corpus where one band value
  * collects a data-proportional bucket. Contract pinned here:
  *  - the exact band join refuses past `graft.maxBandPairsPerDoc`,
  *    naming the capped twins and the override knob;
  *  - the capped twin runs at ANY density: buckets ≤ BandDfCap pair
  *    exactly, hot buckets pair only on identical full signatures (the
  *    duplicate-cluster recovery path);
  *  - dominance: capped pairs ⊆ exact pairs (a sig-identical pair shares
  *    every band), graded by dedup_minhash_capped_recall as integers;
  *  - equality wherever no bucket exceeds the cap — every graded corpus.
  */
class BandFenceSpec extends SparkSpec {
  import spark.implicits._

  /** 150 identical docs (one hot cluster per band), 60 unique docs (cold
    * singleton buckets), one exact-duplicate pair (a cold 2-doc bucket —
    * the cold pair path), and one NEAR-duplicate of the hot cluster
    * (J ≈ 0.78, differing signature — pairs the exact join can reach
    * through the hot buckets but the capped twin deliberately gives up,
    * the measured recall cost). */
  private lazy val saturatedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("bandsat").toString
    val hot = (1 to 150).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog today"))
    val uniq = (201 to 260).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val coldDup = Seq(
      (301L, "zeta eta theta iota kappa lambda"),
      (302L, "zeta eta theta iota kappa lambda"))
    val nearDup = Seq(
      (401L, "the quick brown fox jumps over the lazy dog tomorrow"))
    (hot ++ uniq ++ coldDup ++ nearDup).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact band-join keys refuse on a saturated corpus, naming the twin") {
    // 150 identical docs → every band bucket carries C(150,2) pairs:
    // mass ≈ 8·11175 / 212 docs ≈ 421/doc, honestly over the 64 default.
    for (q <- Seq("dedup_minhash_lsh", "dedup_minhash_estimate",
        "dedup_components_lsh", "dedup_keep_best_lsh")) {
      val e = intercept[IllegalArgumentException](
        SimilarityQueries.queries(q)(spark, saturatedDir))
      assert(e.getMessage.contains("saturated") &&
        e.getMessage.contains("dedup_minhash_lsh_capped") &&
        e.getMessage.contains("graft.maxBandPairsPerDoc"),
        s"unhelpful band fence message for $q: $e")
    }
  }

  test("capped twin runs at saturated density: hot clusters recovered " +
      "via signature identity, cold pairs intact") {
    val out = SimilarityQueries.queries("dedup_minhash_lsh_capped")(
      spark, saturatedDir)
      .select($"doc_a", $"doc_b", $"jaccard").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the hot cluster's C(150,2) identical pairs, via the sig-identity path
    assert(pairs.count { case (a, b) => a <= 150 && b <= 150 } == 150 * 149 / 2,
      "hot-cluster pairs must be recovered through signature identity")
    // the cold 2-doc bucket pairs exactly
    assert(pairs.contains((301L, 302L)), "cold duplicate pair lost")
    // identical docs verify at jaccard 1.0
    assert(out.forall(r => r.getDouble(2) >= 0.5))
  }

  test("dominance + measured recall: capped ⊆ exact, equality only where " +
      "no bucket is hot") {
    // run the exact join deliberately (the documented override contract)
    val wide = spark.newSession()
    wide.conf.set("graft.maxBandPairsPerDoc", "1000000")
    val r = SimilarityQueries.queries("dedup_minhash_capped_recall")(
      wide, saturatedDir).head()
    val (nExact, nCapped, nCommon) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nCommon == nCapped, "containment broken: capped emitted a pair the exact join lacks")
    assert(nCapped == 150 * 149 / 2 + 1, s"capped pair count drifted: $nCapped")
    // the near-duplicate of the hot cluster reaches the exact join through
    // the hot buckets (J ≈ 0.78 → P(shared band) ≈ .97; realized — md5 is
    // deterministic) but not the capped twin: its 150 cluster pairs are
    // the measured recall cost of capping (recall 11176/11326 ≈ 0.987),
    // exactly what the recall key exists to grade
    assert(nExact == nCapped + 150,
      s"fixture recall drifted: exact $nExact vs capped $nCapped (expected +150)")
  }

  test("short-circuit plan assertion (VERDICT r16 #4): where the max-bucket " +
      "probe proves no hot buckets the capped plan COLLAPSES to the exact " +
      "generator's — no bucket-count join, no hot/cold split") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def joinCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    val exactJoins = joinCount(
      SimilarityQueries.queries("dedup_minhash_lsh")(spark, sfDir))
    val cappedHealthy = joinCount(
      SimilarityQueries.queries("dedup_minhash_lsh_capped")(spark, sfDir))
    assert(cappedHealthy == exactJoins,
      s"healthy-corpus capped plan must collapse to the exact shape: " +
        s"$cappedHealthy joins vs the exact generator's $exactJoins")
    val cappedSaturated = joinCount(
      SimilarityQueries.queries("dedup_minhash_lsh_capped")(spark, saturatedDir))
    assert(cappedSaturated > exactJoins,
      "saturated-corpus capped plan must keep the hot/cold machinery")
  }

  test("on a healthy corpus the capped twin IS the exact generator") {
    val exact = SimilarityQueries.queries("dedup_minhash_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = SimilarityQueries.queries("dedup_minhash_lsh_capped")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == capped,
      "capped twin must equal the exact generator where no bucket exceeds the cap")
  }
}
