package graft

/** Physical-plan regression guards. Correctness is the oracle's job; these
  * pin the plan SHAPES the 100 TB scale story depends on, so a refactor
  * that silently turns a broadcast join into a shuffle join, loses a
  * pushed filter, or adds a shuffle to a map-only operator fails CI — not
  * a production run. All assertions run on the executed (post-AQE) plan. */
class PlanAssertionsSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    // collect() — NOT count(), which builds its own aggregate plan and
    // leaves this df's AQE plan unexecuted (isFinalPlan=false).
    df.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan"; assertions
    // must see only what actually ran.
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def countOf(plan: String, op: String): Int =
    op.r.findAllMatchIn(plan).length

  test("j10_star_revenue: all dim joins broadcast, no shuffle join, no cartesian") {
    val plan = planOf("j10_star_revenue")
    assert(countOf(plan, "BroadcastHashJoin") >= 3,
      s"star join should broadcast its dims:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"star join must not shuffle-join or cross-join:\n$plan")
  }

  test("j4_expr_join: the derived priority dim is broadcast, never sort-merged") {
    // The dim is distinct-over-a-fact-scan, so Catalyst's size estimate
    // tracks the FACT table and flipped this join to sort-merge once the
    // fact outgrew the broadcast threshold (measured 3.6x at the sf1
    // decade, VERDICT r10 #6). The domain is 5 priorities — broadcast by
    // construction; the hint must hold at every scale.
    val plan = planOf("j4_expr_join")
    assert(plan.contains("BroadcastHashJoin"),
      s"derived dim must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"expression join fell back to sort-merge:\n$plan")
  }

  test("q1_pricing_summary: filter pushed to scan, columns pruned, codegen on") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate predicate must reach the parquet scan as a PushedFilter:\n$plan")
    assert(!plan.contains("l_comment") && !plan.contains("l_orderkey"),
      s"scan reads columns the query never touches:\n$plan")
    // codegen'd operators carry the `*(stageId)` prefix in the tree string
    assert(plan.contains("*("), "agg pipeline fell out of whole-stage codegen")
    assert(countOf(plan, "HashAggregate") >= 2,
      "aggregate must be partial (map-side) + final, not single-phase")
  }

  test("map-only operators stay shuffle-free") {
    // The only allowed exchange is the rangepartitioning from the final
    // presentation orderBy (deterministic oracle compare) — the operator
    // itself must add no hash shuffle.
    for (name <- Seq("text_repetition", "sample_stratified", "text_pii_redact",
        "text_tokens", "text_quality")) {
      val plan = planOf(name)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name shuffles but should be map-only:\n$plan")
    }
  }

  test("keep-latest dedup costs exactly one hash shuffle") {
    val plan = planOf("p8_dedup_latest")
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"rank-1 window dedup must shuffle once on the key:\n$plan")
  }

  test("decontamination broadcasts the benchmark side") {
    val plan = planOf("text_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny benchmark side must broadcast, not shuffle the corpus:\n$plan")
  }

  test("semi/anti joins stay semi/anti in the physical plan") {
    assert(planOf("j7_semi_join").contains("LeftSemi"),
      "existence filter must plan as a semi join, not a join+distinct")
    assert(planOf("j13_anti_join").contains("LeftAnti"),
      "upsert delete-set must plan as an anti join")
  }

  test("bloom prefilter is a native codegen'd predicate, not a UDF") {
    val plan = planOf("dedup_bloom_prefilter")
    assert(plan.contains("bloom_might_contain"),
      s"prefilter must use the native BloomMightContain expression:\n$plan")
    assert(!plan.contains("UDF") && !plan.contains("BatchEvalPython"),
      s"no UDF eval boundary allowed around the bloom filter:\n$plan")
    assert(plan.contains("*("),
      s"filter stage fell out of whole-stage codegen:\n$plan")
  }

  test("multi-probe ANN broadcasts the probe side and never goes cartesian") {
    val plan = planOf("ann_lsh_multiprobe")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe set (queries × bits+1) must broadcast against the corpus:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"bucket equi-join must not degrade to a product join:\n$plan")
  }

  test("trained IVF: codebook joins broadcast, no product joins") {
    // KMeans assignment + probing cross a k-row codebook against the
    // corpus — broadcast by construction; a shuffle or nested-loop here
    // would put two exchanges per Lloyd iteration on the 100 TB path.
    val plan = planOf("ann_ivf_trained")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"k-row codebook must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"codebook joins must not degrade to cartesian products:\n$plan")
  }

  test("banded dedup scale paths hash-partition their band joins") {
    // The band self-join all three minhash-based keys share
    // (minhashVerifiedPairs) must stay a shuffle_hash-hinted streaming
    // join — never a broadcast of the exploded band index (the round-2
    // size-underestimate trap). dedup_minhash_lsh exposes that join in
    // its own final plan; the components variants run it inside
    // connectedComponents' spilled jobs (their final plan is a flat scan
    // of the spill — itself the designed shape), so they are asserted
    // product-free on what their plan does show.
    val pairPlan = planOf("dedup_minhash_lsh")
    assert(pairPlan.contains("ShuffledHashJoin"),
      s"band self-join should be a shuffled hash join:\n$pairPlan")
    for (name <- Seq("dedup_components_lsh", "dedup_keep_best_lsh")) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: must not product-join:\n$plan")
    }
    // the incremental one-sided probe shares the same contract: a
    // streamed band join (the index side must never be broadcast — it is
    // the INDEX, the side that grows without bound)
    val incPlan = planOf("dedup_minhash_incremental")
    assert(incPlan.contains("ShuffledHashJoin"),
      s"incremental band probe should be a shuffled hash join:\n$incPlan")
    assert(!incPlan.contains("CartesianProduct") &&
      !incPlan.contains("BroadcastNestedLoopJoin"),
      s"dedup_minhash_incremental: must not product-join:\n$incPlan")
  }

  test("domain-mix sampler broadcasts only the per-domain quota table") {
    // the docs-side scan must join the tiny quota relation broadcast
    // (never shuffle the corpus against a 20-row table). The 1-row
    // budget/leftover aggregates legitimately cross as broadcast
    // nested-loops (bounded side, same contract as the k-row codebook);
    // only an unbroadcast CartesianProduct is the scale bug.
    val plan = planOf("sample_domain_mix")
    assert(plan.contains("BroadcastHashJoin"),
      s"quota table should broadcast-hash-join the corpus:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"sample_domain_mix: must not cartesian:\n$plan")
  }

  test("heavy hitters: candidate filter is a pushed predicate, aggregate is partial+final") {
    val plan = planOf("text_heavy_hitters")
    // the ≤k-candidate recount must filter BEFORE the shuffle (map-side
    // INSET predicate), so the groupBy exchanges at most k distinct keys
    assert(plan.contains("Filter tok#") && plan.contains("INSET"),
      s"candidate INSET filter missing:\n$plan")
    assert(countOf(plan, "HashAggregate") >= 2,
      s"recount must be partial (map-side) + final:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"heavy hitters must not join beyond the 1-row broadcast total:\n$plan")
  }

  test("sample_dsir: frequency table broadcasts, no cartesian beyond 1-row totals") {
    val plan = planOf("sample_dsir")
    assert(countOf(plan, "BroadcastHashJoin") >= 1,
      s"bucket-frequency join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"dsir must not shuffle-join the corpus side:\n$plan")
  }

  test("minhash estimation rung: histogram aggregate is partial+final, eq-count codegen'd") {
    val plan = planOf("dedup_minhash_estimate")
    assert(countOf(plan, "HashAggregate") >= 2,
      s"estimate histogram must aggregate partial+final:\n$plan")
    val eqLines = plan.linesIterator.filter(l =>
      l.contains("array_eq_count(") && !l.contains("FileScan")).toSeq
    assert(eqLines.nonEmpty && eqLines.forall(_.contains("*(")),
      s"array_eq_count fell out of whole-stage codegen:\n${eqLines.mkString("\n")}")
  }

  test("curriculum order: no global sort beyond the presentation orderBy") {
    val plan = planOf("train_curriculum_order")
    // exactly ONE rangepartitioning exchange — the deterministic
    // presentation sort every oracle-compared key carries; the operator
    // itself must counting-sort via hash partitions, never range-sort
    // the corpus by score
    assert(countOf(plan, "Exchange rangepartitioning") === 1,
      s"counting-sort ordering must not range-partition the corpus:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(score"),
      s"within-score rank must hash-partition by score:\n$plan")
  }

  test("an_rfm_hist: no global range-sort beyond the presentation orderBy") {
    val plan = planOf("an_rfm_hist")
    // three ntile range-sorts replaced by counting ranks: the only
    // rangepartitioning exchange left is the 64-row presentation sort
    assert(countOf(plan, "Exchange rangepartitioning") === 1,
      s"histogram quartiles must not range-sort the dimension:\n$plan")
  }

  test("dynamic partition pruning fires on a partitioned fact joined to a filtered dim") {
    // The 100 TB idiom: facts land partitioned by a low-cardinality key
    // (here o_orderstatus); a selective dim-side filter must prune fact
    // PARTITIONS at runtime via DPP — without it, every partition of a
    // 100 TB table is scanned to serve a one-status query.
    import org.apache.spark.sql.functions.{col, expr}
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    Tables(spark, sfDir, "orders").write.partitionBy("o_orderstatus")
      .parquet(s"$dir/orders")
    val fact = spark.read.parquet(s"$dir/orders")
    val dim = Tables(spark, sfDir, "nation")
      .select(col("n_name"),
        expr("CASE WHEN n_nationkey % 3 = 0 THEN 'F' WHEN n_nationkey % 3 = 1 THEN 'O' ELSE 'P' END")
          .as("o_orderstatus"))
      .filter(col("n_name") === "FRANCE")
    val q = fact.join(dim, Seq("o_orderstatus"))
      .groupBy(col("o_orderstatus")).count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"partitioned-fact join must carry a dynamic partition pruning subquery:\n$plan")
    q.collect() // execute: the pruned plan must also produce correct rows
  }

  test("sketch expressions keep their projection inside whole-stage codegen") {
    // simhash (inline codegen) and minhash band keys (reference-object
    // dispatch) both must NOT break the surrounding codegen stage.
    for (name <- Seq("dedup_simhash", "dedup_minhash_lsh")) {
      val plan = planOf(name)
      // only application sites matter; scan lines echo pushed DataFilters
      // and exchange lines echo attribute names — neither is codegen-prefixed
      val projLines = plan.linesIterator.filter(l =>
        (l.contains("simhash(") || l.contains("minhash_band_keys(")) &&
          !l.contains("FileScan")).toSeq
      assert(projLines.nonEmpty, s"$name: sketch expression missing from plan:\n$plan")
      assert(projLines.forall(_.contains("*(")),
        s"$name: sketch projection fell out of whole-stage codegen:\n${projLines.mkString("\n")}")
    }
  }

  test("an_funnel: all three step windows share ONE user-key exchange") {
    // the scaladoc's claim — cascading MIN-over-condition windows on the
    // SAME partitioning must not re-shuffle per step; allowed shuffles are
    // the single user hash plus the final single-row collapse
    val plan = planOf("an_funnel")
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"funnel re-shuffles between step windows:\n$plan")
    assert(countOf(plan, "Window") >= 1 && !plan.contains("SortMergeJoin"),
      s"funnel must stay window-based, not self-join:\n$plan")
  }

  test("ts_ewma: 16 lags ride one window sort, keep-latest adds no shuffle") {
    val plan = planOf("ts_ewma")
    assert(countOf(plan, "Exchange hashpartitioning") === 1,
      s"EWMA must shuffle the events table exactly once on user_id:\n$plan")
  }

  test("a_mode / ts_cusum: two-level shape — fact collapse before any window") {
    for (name <- Seq("a_mode", "ts_cusum")) {
      val plan = planOf(name)
      val aggIdx = plan.indexOf("HashAggregate")
      val winIdx = plan.indexOf("Window")
      assert(aggIdx >= 0 && winIdx >= 0 && winIdx < plan.lastIndexOf("HashAggregate"),
        s"$name lost its collapse-then-rank shape:\n$plan")
      // the window must consume the AGGREGATE's output, so the plan tree
      // (printed leaves-last) shows the aggregate BELOW the window
      assert(plan.contains("Window"), s"$name: missing window:\n$plan")
    }
  }

  test("graph_khop: frontier expansion never sort-merges the edge list") {
    // The key returns driver-side counts, so its own plan is a local scan;
    // the join shape lives in the hop. Build the key's third hop exactly
    // as the key does (persisted edges, two checkpointed frontiers before
    // it) and read the plan that hop executes.
    import org.apache.spark.sql.functions.{col, lit, min}
    import graft.queries.GraphQueries
    val e = GraphQueries.edges(spark, sfDir).persist()
    try {
      val seed = e.filter(col("a") % 2 === 1).agg(min(col("a"))).head().getLong(0)
      val init = spark.range(1).select(lit(seed).as("node")).localCheckpoint()
      val frontiers = graft.operators.Iterate.rounds(init, 2)(GraphQueries.khopHopPlan(e, _))
      val hop = GraphQueries.khopHopPlan(e, frontiers)
      hop.collect()
      val plan = hop.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("SortMergeJoin"),
        s"khop sort-merges the edge list against a frontier:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"khop must never cross-join:\n$plan")
    } finally e.unpersist()
  }

  test("new-family scans prune to exactly the touched columns") {
    // events is 6 columns incl. a wide JSON props payload; lineitem is 16.
    // A scan that drags the untouched columns through a 100 TB shuffle is
    // the quiet way these keys would die at scale.
    val funnel = planOf("an_funnel")
    assert(!funnel.contains("props") && !funnel.contains("value"),
      s"an_funnel reads columns it never touches:\n$funnel")
    val basket = planOf("an_basket_pairs")
    assert(!basket.contains("l_comment") && !basket.contains("l_quantity"),
      s"an_basket_pairs drags untouched lineitem columns:\n$basket")
    assert(basket.contains("PushedFilters: [IsNotNull(l_orderkey)")
      || basket.contains("IsNotNull(l_orderkey)"),
      s"basket join keys lost their pushed not-null filters:\n$basket")
    // the pair self-join must stay codegen'd hash-distinct + SMJ: the
    // collect_set/ObjectHashAggregate formulation measured 2.7× worse at
    // sf10 (see orderPairs scaladoc) and must not creep back
    assert(!basket.contains("ObjectHashAggregate"),
      s"an_basket_pairs regressed to object-agg pair generation:\n$basket")
  }

  test("an_abtest: single-row readout is one aggregate pass, no join") {
    val plan = planOf("an_abtest")
    assert(!plan.contains("Join"), s"abtest readout must not join:\n$plan")
    assert(countOf(plan, "Exchange hashpartitioning") <= 1,
      s"abtest should shuffle only to user grain:\n$plan")
  }
}
