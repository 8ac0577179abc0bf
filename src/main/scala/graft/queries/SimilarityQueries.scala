package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.{HashSketch, Text, Vectors}

/** Near-duplicate detection + similarity search — the training-data-pipeline
  * operators: n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine
  * near-dup, and ANN top-k (brute-force baseline + LSH-bucketed scale path).
  *
  * Every hash is md5-derived ([[Vectors.hash60]]), so the DuckDB oracles
  * replay the exact algorithm bit-for-bit — including the LSH banding — and
  * results hash-match despite the operators being "approximate" in recall.
  *
  * Scale notes (100 TB design):
  *  - the inverted-index Jaccard join is exact but its candidate set grows
  *    with shingle collisions; MinHash+LSH bounds work at
  *    O(docs × bands) join keys and is the path at scale;
  *  - SimHash's 4×15-bit banding is pigeonhole-exact for hamming ≤ 3: any
  *    pair within distance 3 shares at least one intact band, so the
  *    band-join loses nothing while avoiding the n² compare — and 32k
  *    buckets per band keep candidate growth near-linear on dissimilar
  *    corpora;
  *  - ANN brute force is the correctness baseline; the hyperplane-LSH
  *    variant shrinks the candidate set to one bucket, with the bit count
  *    derived from corpus size ([[lshBitsFor]]) so bucket size — and with
  *    it per-query cost and pair-generation cost — stays constant as the
  *    corpus grows.
  */
object SimilarityQueries {

  private type Q = (SparkSession, String) => DataFrame

  private[graft] val ShingleN = 3
  private[graft] val Perms = 32
  private[graft] val Bands = 8
  private val JaccardT = 0.5
  // 4 bands × 15 bits over the 60-bit simhash: pigeonhole-complete for
  // hamming ≤ 3 (4 bands, ≤3 flipped bits ⇒ ≥1 band intact) with 2^15 =
  // 32k buckets per band — the r4 8-bit banding capped pruning at 256
  // buckets/band, letting candidates grow ~n²/256 on dissimilar corpora.
  private val SimhashBands = 4
  private val SimhashBandBits = 15
  private val HammingT = 3
  private val CosineT = 0.45
  // same threshold as the exact near-dup baseline: with multi-probe pair
  // generation there is no recall loss to compensate with a looser cut,
  // and a loose cut + transitive grouping collapses the corpus into one
  // mega-group (measured: 0.3 chained 1995 of 2000 sf0.1 vectors into a
  // single component — the classic transitive-collapse failure mode)
  private val SemanticT = CosineT
  private val EmbDim = 64
  private val AnnK = 5
  private val LshSeed = 7

  // ---- fused candidate-pair probes (VERDICT r9 → r10 #1) ---------------
  // The one scale question the decade runs left open: do the banded pair
  // generators still BOUND work as the corpus grows, or does candidate
  // volume go super-linear? Answering it must not cost a second pass, so
  // each pair stage carries an `observe()` metric (the same fused-probe
  // trick as Components' convergence counter): the candidate count is
  // collected DURING the stage's first action, zero extra jobs, and the
  // most recent value is readable per stage name. At 100 TB this is the
  // ops metric a dedup pipeline alarms on — pairs/doc drifting up means
  // the banding assumptions (vocabulary growth, value skew) broke.
  private val pairProbes =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.Observation]
  private def probePairs(df: DataFrame, name: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    pairProbes.put(name, obs)
    df.observe(obs, count(lit(1)).as("pairs"))
  }
  /** Candidate-pair count captured by `name`'s most recent completed run.
    * The metric is posted on the listener bus asynchronously after the
    * action returns, so this waits a few seconds for an in-flight post;
    * None if the stage never ran (or nothing arrives in time). */
  private[graft] def observedPairCount(name: String): Option[Long] =
    pairProbes.get(name).flatMap { o =>
      // positional access: the metrics Row is schema-less on some
      // listener paths, and the probe carries exactly one metric. An
      // EMPTY row means the action's executed plan pruned the observed
      // subtree (e.g. a count() that eliminated the join carrying it) —
      // report None, not a phantom zero.
      try {
        val r = scala.concurrent.Await
          .result(o.future, scala.concurrent.duration.Duration(5, "s"))
        if (r.length == 0) None else Some(r.getLong(0))
      } catch { case _: java.util.concurrent.TimeoutException => None }
    }
  // Scale-aware hyperplane-LSH width (VERDICT r4 #1): a FIXED bit count
  // makes same-bucket pair generation ~n²/2^bits — invisible at test SFs,
  // quadratic (fatal) at 100×. Instead the bucket count tracks the corpus:
  // bits = smallest b with 2^b · targetBucket ≥ n, so expected bucket size
  // stays ~targetBucket and pair work is O(n · targetBucket) — LINEAR in n.
  // 256 per the r8 sweep at the sf1 decade (20k vectors, hamming-1
  // multi-probe, recall@3 vs exact truth — PERF.md): target 64 → 437
  // cand/query, recall 0.48; 128 → 763, 0.56; 256 → 1332, 0.80. The 256
  // point DOMINATES 128 on the measured frontier — +0.24 recall at lower
  // wall (fewer, wider stages) — so it ships (VERDICT r8 #4); candidate
  // work stays O(n · target), linear in corpus size, and the recall
  // ladder (hamming-2 ring, multi-table) remains the escalation path
  // beyond it. Re-proven at the decade after the move (PERF.md r9).
  private[graft] val LshTargetBucket = 256L
  private val LshBitsMin = 2 // floor: tiny corpora still split once or twice
  private val LshBitsMax = 16 // 65k buckets; lift with corpus growth beyond 8M docs
  /** Pure integer ladder — no float log2 — so the DuckDB oracle replays the
    * derivation bit-for-bit (`bitsCte` below is the same MIN-over-range). */
  private[graft] def lshBitsFor(n: Long): Int =
    (LshBitsMin to LshBitsMax)
      .find(b => (1L << b) * LshTargetBucket >= n).getOrElse(LshBitsMax)

  // one count() per (session, dir) per JVM, memoized in [[ProbeCache]]
  // (weak session keys) — the probe is parquet-metadata cheap, but Verify
  // fans 10 similarity queries over the same dir concurrently. (The
  // DataFrame-valued fixture caches can't get this treatment — their
  // values reference the session regardless — and stay documented as
  // bench-harness caches.)
  private def cachedCount(s: SparkSession, dir: String, table: String): Long =
    ProbeCache.cached(s, s"${table}Rows#$dir")(Tables(s, dir, table).count())
  private def corpusCount(s: SparkSession, dir: String): Long =
    cachedCount(s, dir, "embeddings")
  private def docCount(s: SparkSession, dir: String): Long =
    cachedCount(s, dir, "documents")
  private[graft] def lshBits(s: SparkSession, dir: String): Int =
    lshBitsFor(corpusCount(s, dir))

  /** The embedding corpus with its `bits`-wide hyperplane-LSH `bucket` and
    * its norm `nrm` — the frame every LSH-bucketed ANN and semantic-dedup
    * key probes (the table's own columns ride along for callers that
    * filter on them). */
  private def lshEmbeddings(s: SparkSession, dir: String, bits: Int): DataFrame = {
    import s.implicits._
    spread(Tables(s, dir, "embeddings")).select($"*",
      Vectors.hyperplaneBucket($"embedding", EmbDim, bits, LshSeed).as("bucket"),
      Vectors.fnorm($"embedding").as("nrm"))
  }

  /** Multi-probe ring of a `bits`-wide bucket string, one row per probe:
    * the home bucket, then every bucket at hamming distance 1 (bit i
    * flipped, i ascending), then — at `radius` 2 — every bucket at
    * distance 2 (bits i < j flipped). 1 + bits (+ C(bits, 2)) distinct
    * buckets, so no probed neighbor can pair twice with one query. */
  private[graft] def probeRing(bucket: org.apache.spark.sql.Column, bits: Int,
      radius: Int): org.apache.spark.sql.Column = {
    require(radius == 1 || radius == 2, s"probe ring radius must be 1 or 2, got $radius")
    def toggled(b: org.apache.spark.sql.Column, i: Int) = concat(
      substring(b, 1, i),
      when(substring(b, i + 1, 1) === "0", "1").otherwise("0"),
      substring(b, i + 2, bits))
    val ring1 = (0 until bits).map(toggled(bucket, _))
    val ring2 = if (radius == 1) Nil
      else for { i <- 0 until bits; j <- i + 1 until bits } yield toggled(toggled(bucket, i), j)
    explode(array(bucket +: ring1 ++: ring2: _*))
  }

  // Brute-force envelope (VERDICT r5 #1): the all-pairs/full-scan baselines
  // below are the exact oracles behind the recall gates, NOT the scale
  // path — on a 10⁹-row corpus an unfenced O(n²) join launches quietly and
  // never finishes. Like Components' convergence cap, exceeding the
  // envelope fails LOUDLY at plan-build time; a deliberate larger run
  // overrides per session (`spark.conf.set("graft.maxBruteForceRows", n)`)
  // or JVM-wide (-Dgraft.maxBruteForceRows=<n>). Session conf wins: tests
  // and concurrent jobs can widen/narrow their own envelope without
  // mutating global state under every other session's feet (ADVICE r6).
  private val DefaultMaxBruteForceRows = 1000000L
  /** Read a numeric envelope override: session conf first, then system
    * property, then the default. A malformed value names the key instead
    * of surfacing a bare NumberFormatException from plan-build (ADVICE r6). */
  private[graft] def envelope(s: SparkSession, key: String, dflt: Long): Long =
    s.conf.getOption(key).orElse(sys.props.get(key)) match {
      case None => dflt
      case Some(v) => v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be an integer budget, got '$v' — fix the session conf " +
          "or -D override"))
    }
  private[graft] def maxBruteForceRows(s: SparkSession): Long =
    envelope(s, "graft.maxBruteForceRows", DefaultMaxBruteForceRows)
  private def fenceBruteForce(name: String, s: SparkSession, dir: String): Unit = {
    val budget = maxBruteForceRows(s)
    val n = corpusCount(s, dir)
    require(n <= budget,
      s"$name: brute-force baseline fenced at $budget rows " +
        s"(corpus has $n). Use the bucketed scale paths (ann_lsh_bucket / " +
        "ann_lsh_multiprobe / ann_ivf / dedup_semantic), or raise " +
        "graft.maxBruteForceRows to run the exact baseline deliberately.")
  }

  // All-pairs envelope (the skew10 full-suite catch, r15): the row fence
  // above is the right guard for the per-QUERY full scans (cost = queries·n,
  // linear in the corpus), but an ALL-PAIRS baseline costs n²/2 — at the 1M
  // row budget that is 5·10¹¹ dot products launched quietly. Measured on
  // this machine: 2·10⁸ pairs ≈ 6 s (skew1, 20 k vectors), 2·10¹⁰ pairs =
  // 1001 s (skew10, 200 k vectors) — two decades of data, two decades of
  // wall per decade. The budget is therefore on PAIRS, not rows: the 2³⁰
  // default admits every GRADED corpus the linear fences admit (sf0.1
  // gate 2·10⁶ pairs, skew1 2·10⁸ with 5× headroom) and refuses the
  // measured skew10 quadratic. It is deliberately TIGHTER than the old
  // 10⁶-row fence for arbitrary corpora (ADVICE r15): 10⁶ rows is
  // ~5·10¹¹ pairs, so corpora between ~46 k and 10⁶ vectors that the row
  // fence would have admitted now refuse here — that admission was the
  // 1001 s bug, not a capability. Same override contract as the other
  // fences: `graft.maxBruteForcePairs` (session conf or -D) runs the
  // exact baseline deliberately.
  private[graft] def maxBruteForcePairs(s: SparkSession): Long =
    envelope(s, "graft.maxBruteForcePairs", 1L << 30)
  private def fenceAllPairs(name: String, s: SparkSession, dir: String): Unit = {
    val budget = maxBruteForcePairs(s)
    val n = corpusCount(s, dir)
    val pairs = n * (n - 1) / 2
    require(pairs <= budget,
      s"$name: all-pairs baseline fenced at $budget candidate pairs " +
        s"(corpus has $n vectors = $pairs pairs — O(n²) dot products). Use " +
        "the bucketed scale paths (dedup_semantic / dedup_semdedup / " +
        "ann_lsh_bucket), or raise graft.maxBruteForcePairs to run the " +
        "exact baseline deliberately.")
  }

  // Exact-index saturation fence (VERDICT r6 #1): the inverted shingle
  // index is exact but its self-join work is Σ bucket·(bucket−1)/2 — on a
  // bounded-vocabulary corpus the distinct-shingle space saturates and
  // that sum goes super-linear (measured at the sf1 decade: 90× join work
  // for 10× postings, dragging dedup_components to 9.1×). Corpus SIZE is
  // the wrong probe — a healthy corpus grows its shingle space with n, so
  // bucket sizes (and pairs PER DOC) stay flat while total pairs grow
  // linearly. Pairs-per-doc is therefore scale-free: it trips exactly on
  // saturation, never on legitimate growth. Measured: 28 at sf0.01, 253
  // at sf0.1, ~2200 at the saturated sf1 decade — the 1024 default passes
  // every healthy corpus with 4× headroom and refuses the measured
  // failure mode. The probe is ONE shingle+groupBy aggregation pass
  // (cached per session × dir, like corpusCount) — linear cost to refuse
  // a quadratic join.
  private val DefaultMaxExactPairsPerDoc = 1024L
  private[graft] def maxExactPairsPerDoc(s: SparkSession): Long =
    envelope(s, "graft.maxExactPairsPerDoc", DefaultMaxExactPairsPerDoc)
  /** (docs, Σ per-shingle-bucket candidate pairs) for the exact index —
    * two memo keys, one lazy pass (the [[minhashBandStats]] pattern). */
  private[graft] def exactIndexStats(s: SparkSession, dir: String): (Long, Long) = {
    lazy val computed: (Long, Long) = {
      val shd = shingled(s, dir)
      val docs = shd.count()
      val pairWork = shd.select(explode(col("sh")).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0)).cast("long"))
        .head().getLong(0)
      (docs, pairWork)
    }
    (ProbeCache.cached(s, s"exactIndexDocs#$dir")(computed._1),
      ProbeCache.cached(s, s"exactIndexPairWork#$dir")(computed._2))
  }
  private def fenceExactIndex(name: String, s: SparkSession, dir: String): Unit = {
    val budget = maxExactPairsPerDoc(s)
    val (docs, pairWork) = exactIndexStats(s, dir)
    // exact at the boundary (ADVICE r16): mass vs scaled budget
    val perDoc = if (docs == 0) 0.0 else pairWork.toDouble / docs
    require(pairWork <= budget * docs,
      f"$name: exact shingle index is saturated — $pairWork candidate pairs " +
        f"for $docs docs ($perDoc%.2f/doc, budget $budget/doc). A bounded " +
        "shingle vocabulary makes this join quadratic in postings per " +
        "bucket; use the minhash-banded scale paths (dedup_minhash_lsh / " +
        "dedup_components_lsh / dedup_keep_best_lsh), or raise " +
        "graft.maxExactPairsPerDoc to run the exact baseline deliberately.")
  }

  // SimHash saturation fence (VERDICT r9 → r10 #1): the fused pair probes
  // measured the simhash band join QUADRATIC at the sf1 decade — 97 →
  // 941 candidate pairs/doc for 10× docs — and the hamming ≤ 3 OUTPUT
  // itself grew 8×/doc, so no algorithm answers the saturated corpus in
  // linear time. The cause is corpus saturation, not banding width: the
  // pigeonhole construction is pinned at 4 bands for radius 3 (more
  // bands would lose exactness) and 2^15 buckets/band is plenty — it's
  // the bounded 31-word vocabulary that collapses fingerprint DIVERSITY,
  // piling documents onto identical band values. Same probe discipline
  // as [[fenceExactIndex]]: measured candidate density per doc (one
  // cached aggregation pass — Σ c(c−1)/2 over band buckets, exactly what
  // the join would emit), trips only on saturation, never on legitimate
  // growth (a vocabulary-growing corpus keeps band values spread; the
  // driver sf0.1 measures 97/doc vs the 512 default). Production paths
  // on a saturated corpus: dedup_minhash_lsh (flat 0.09 pairs/doc at the
  // same decade) and the banded Jaccard family.
  private val DefaultMaxSimhashPairsPerDoc = 512L
  private[graft] def maxSimhashPairsPerDoc(s: SparkSession): Long =
    envelope(s, "graft.maxSimhashPairsPerDoc", DefaultMaxSimhashPairsPerDoc)
  /** (docs, Σ per-band-bucket candidate pairs) for the simhash band join. */
  private[graft] def simhashIndexStats(s: SparkSession, dir: String): (Long, Long) =
    (docCount(s, dir), ProbeCache.cached(s, s"simhashPairWork#$dir") {
      simhashBanded(s, dir)
        .groupBy(col("band_id"), col("band_val")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0)).cast("long"))
        .head().getLong(0)
    })
  private def fenceSimhash(name: String, s: SparkSession, dir: String): Unit = {
    val budget = maxSimhashPairsPerDoc(s)
    val (docs, pairWork) = simhashIndexStats(s, dir)
    // exact at the boundary (ADVICE r16): mass vs scaled budget
    val perDoc = if (docs == 0) 0.0 else pairWork.toDouble / docs
    require(pairWork <= budget * docs,
      f"$name: simhash band index is saturated — $pairWork candidate pairs " +
        f"for $docs docs ($perDoc%.2f/doc, budget $budget/doc). A bounded " +
        "vocabulary collapses fingerprint diversity, making the 4-band " +
        "pigeonhole join (and the true hamming<=3 pair set itself) " +
        "quadratic; use the minhash-banded scale paths (dedup_minhash_lsh " +
        "/ dedup_components_lsh), or raise graft.maxSimhashPairsPerDoc " +
        "to run the exact-radius join deliberately.")
  }

  def queries: Map[String, Q] = Map(
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_keep_best" -> dedupKeepBest,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_minhash_lsh_capped" -> dedupMinhashLshCapped,
    "dedup_minhash_capped_recall" -> dedupMinhashCappedRecall,
    "dedup_minhash_estimate" -> dedupMinhashEstimate,
    "dedup_simhash" -> dedupSimhash,
    "dedup_components" -> dedupComponents,
    "dedup_components_lsh" -> dedupComponentsLsh,
    "dedup_components_lsh_capped" -> dedupComponentsLshCapped,
    "dedup_keep_best_lsh" -> dedupKeepBestLsh,
    "emb_neardup_cosine" -> embNeardup,
    "ann_cosine_topk" -> annTopK,
    "ann_lsh_bucket" -> annLshBucket,
    "ann_lsh_multiprobe" -> annLshMultiprobe,
    "ann_mips_recall" -> annMipsRecall,
    "ann_mips_aug_recall" -> annMipsAugRecall,
    "ann_filtered" -> annFiltered,
    "ann_ivf" -> annIvf,
    "ann_recall_at_k" -> annRecallAtK,
    "ann_q8_recall" -> annQ8Recall,
    "ann_matryoshka_recall" -> annMatryoshkaRecall,
    "ann_pq_recall" -> annPqRecall,
    "ann_ivfpq_recall" -> annIvfPqRecall,
    "ann_mp2_recall" -> annMp2Recall,
    "ann_mt_recall" -> annMtRecall,
    "ann_ivf_trained" -> annIvfTrained,
    "ann_ivf_incremental" -> annIvfIncremental,
    "ann_ivf_drift" -> annIvfDrift,
    "emb_random_projection" -> embRandomProjection,
    "dedup_semantic" -> dedupSemantic,
    "dedup_threshold_sweep" -> dedupThresholdSweep,
    "dedup_semantic_incremental" -> dedupSemanticIncremental,
    "dedup_minhash_incremental" -> dedupMinhashIncremental,
    "dedup_minhash_incremental_batch" -> dedupMinhashIncrementalBatch,
    "dedup_semantic_incremental_batch" -> dedupSemanticIncrementalBatch,
    "ann_ivf_incremental_batch" -> annIvfIncrementalBatch,
    "dedup_substring_runs" -> dedupSubstringRuns,
    "dedup_semdedup" -> dedupSemdedup
  )

  /** documents/embeddings arrive as ONE parquet file at test scale, so a
    * compute-heavy projection would run in one task. Spread rows across
    * the cluster before per-row-expensive work; at real scale the source
    * has many splits and this shuffle is a no-op cost-wise relative to the
    * projection it parallelizes. (Shared with the text/training packs —
    * r18's `Probe stages` found the same single-task disease on their heavy
    * per-row keys.) */
  private[queries] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  private def shingled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    spread(Tables(s, dir, "documents"))
      .select($"doc_id", Text.shingleSet($"text", ShingleN).as("sh"))
  }

  /** Qualifying Jaccard pairs (doc_a < doc_b, J ≥ t) — shared by the pair
    * query and the component clustering. Exact n-gram Jaccard dedup via
    * inverted shingle index: a pair with jaccard ≥ t shares ≥ 1 shingle,
    * so the shingle self-join finds every qualifying pair without the n²
    * compare.
    *
    * Two pruning/plan refinements (result-identical):
    *  - sizes ride along in the index, so size-incompatible pairs
    *    (|B| < t·|A| ⇒ jaccard < t) drop inside the join, before the
    *    aggregate shuffle, and the final jaccard needs no size lookup joins;
    *  - group keys include both sizes (functionally dependent on the ids) —
    *    the old plan re-joined `shd` twice just to fetch them. */
  private def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fences dedup_ngram_jaccard AND its consumers (dedup_components,
    // dedup_keep_best) — all three inherit the exact index's saturation
    fenceExactIndex("ngram_jaccard exact index", s, dir)
    val shd = shingled(s, dir)
    val inv = shd.select($"doc_id", size($"sh").as("sz"), explode($"sh").as("shingle"))
    // shuffle_hash, not broadcast: the exploded index is ~50x the doc count
    // (Catalyst underestimates post-explode size and would broadcast it;
    // building + shipping that hashed relation measured 10x slower than
    // hash-partitioning both sides, and only gets worse with scale).
    inv.as("a").hint("shuffle_hash")
      .join(inv.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          col("b.sz") >= col("a.sz") * JaccardT && col("a.sz") >= col("b.sz") * JaccardT)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      .select($"doc_a", $"doc_b",
        ($"inter" / ($"sza" + $"szb" - $"inter")).as("jaccard"))
      .filter($"jaccard" >= JaccardT)
  }

  private val dedupNgramJaccard: Q = (s, dir) => {
    import s.implicits._
    ngramJaccardPairs(s, dir).orderBy($"doc_a", $"doc_b")
  }

  // ------------------------------------------- shared-substring detection
  private val SubW = 5       // positioned-shingle width (tokens)
  private val SubMinRun = 12 // report runs of at least this many tokens
  private val SubMaxDf = 64  // stop-shingle cap: df > this ⇒ boilerplate

  /** SUBSTRING-level dedup — detects long VERBATIM shared runs between
    * document pairs (the "Deduplicating Training Data" regime), which the
    * set-based keys cannot see: two docs sharing one 50-token paragraph
    * inside otherwise-different text have low Jaccard but are still
    * training-harmful. Method: positioned [[SubW]]-token shingles, an
    * inverted-index self-join restricted to NON-BOILERPLATE shingles
    * (document frequency ≤ [[SubMaxDf]] — the standard stop-shingle drop,
    * and simultaneously the scale bound: with per-shingle df capped at a
    * constant, Σ pairs ≤ SubMaxDf · total positions, LINEAR in the
    * corpus, unlike the uncapped exact index the saturation fence guards),
    * then maximal-run extraction on each (pair, diagonal) via the classic
    * pos − row_number island trick. A run of k consecutive matching
    * shingle positions certifies a verbatim shared substring of
    * k + [[SubW]] − 1 tokens. Output: pairs sharing ≥ [[SubMinRun]]
    * tokens, with the longest run and run count. At 100 TB the same plan
    * holds: one shuffle to build the index, one bounded self-join, one
    * window per surviving (pair, diagonal). */
  private val dedupSubstringRuns: Q = (s, dir) => {
    import s.implicits._
    val toks = spread(Tables(s, dir, "documents"))
      .select($"doc_id", Text.tokens(Text.normalized($"text")).as("t"))
    val sh = toks.select($"doc_id",
        posexplode(expr(
          s"transform(sequence(1, greatest(size(t) - ${SubW - 1}, 1)), " +
            s"i -> concat_ws(' ', slice(t, i, $SubW)))")).as(Seq("p0", "sh")))
      .select($"doc_id", ($"p0" + 1).as("pos"), $"sh")
    val keep = sh.groupBy($"sh")
      .agg(countDistinct($"doc_id").as("df")).filter($"df" <= SubMaxDf)
      .select($"sh")
    val shf = sh.join(keep.hint("shuffle_hash"), "sh")
    val pairs = probePairs(
      shf.as("a").hint("shuffle_hash").join(shf.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.pos").as("pa"), col("b.pos").as("pb")),
      "dedup_substring_runs")
    val wIsl = Window.partitionBy($"da", $"db", $"diag").orderBy($"pa")
    val runs = pairs.withColumn("diag", $"pa" - $"pb")
      .withColumn("island", $"pa" - row_number().over(wIsl))
      .groupBy($"da", $"db", $"diag", $"island")
      .agg((count(lit(1)) + (SubW - 1)).as("run_tokens"))
      .filter($"run_tokens" >= SubMinRun)
    runs.groupBy($"da", $"db")
      .agg(max($"run_tokens").as("max_run_tokens"), count(lit(1)).as("n_runs"))
      .select($"da".as("doc_id"), $"db".as("dup_id"), $"max_run_tokens", $"n_runs")
      .orderBy($"doc_id", $"dup_id")
  }

  /** (doc_id, component_id) — connected components
    * ([[graft.operators.Components]]) of a (doc_a, doc_b) pair graph, each
    * clustered doc labeled with its canonical (min-id) component. */
  private def components(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    graft.operators.Components
      .connectedComponents(pairs.select($"doc_a".as("src"), $"doc_b".as("dst")))
      .select($"id".as("doc_id"), $"component".as("component_id"))
  }

  /** Near-dup pairs → duplicate GROUPS: one row per clustered doc with its
    * component and group size — the grouping every `dedup_components*` key
    * emits over its own pair graph. This is the step that lets a pipeline
    * keep one doc per group. */
  private def duplicateGroups(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    components(pairs)
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy($"component_id")))
      .orderBy($"doc_id")
  }

  /** Keeper SELECTION — the decision a dedup pipeline actually ships:
    * per duplicate group of `pairs`, keep the RICHEST document (most
    * tokens, deterministic doc_id tiebreak), not the arbitrary min-id
    * member. Composed entirely from proven pieces: the pair graph,
    * connected components, and the token counter; the keeper is ONE hash
    * aggregate per group. Output per group: size + the surviving doc. */
  private def keepBest(s: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val comp = components(pairs)
    val tc = spread(Tables(s, dir, "documents"))
      .select($"doc_id", Text.tokenCount($"text").as("n_tokens"))
    // keeper argmax as ONE hash aggregate (r18, guide §2.3): max over
    // struct(n_tokens, -doc_id) picks most tokens / lowest doc_id on ties —
    // the exact (n_tokens desc, doc_id asc) order the old rank-1 window
    // sorted for, now collapsing map-side with no per-group sort
    comp.join(tc, Seq("doc_id"))
      .groupBy($"component_id")
      .agg(count(lit(1)).as("n_members"),
        (-max(struct($"n_tokens".as("t"), (-$"doc_id").as("nd")))("nd"))
          .as("keep_doc_id"))
      .orderBy($"component_id")
  }

  /** Duplicate groups of the exact-Jaccard pair graph. */
  private val dedupComponents: Q = (s, dir) => duplicateGroups(ngramJaccardPairs(s, dir))

  /** Keeper selection over the exact-Jaccard pair graph. */
  private val dedupKeepBest: Q = (s, dir) => keepBest(s, dir, ngramJaccardPairs(s, dir))

  // ---- minhash-banded family: shared hashed-shingle pipeline ----------
  // (VERDICT r15 → r16 #1.) PERF.md round 16 measured the band-bucket
  // candidate mass Σ_b c_b(c_b−1)/2 FLAT on every graded corpus — 0.09
  // candidate pairs/doc from sf0.01 through skew10, max bucket 19 of
  // 500 k docs — so the family's wall is NOT join mass; stage profiling traced
  // 12.5 of its 15 s at skew10 to the shingle→md5→band computation, which
  // the old pipeline repeated three times (banding + both verify-join
  // sides) and whose 15-char shingle strings it shuffled through the
  // verify joins. The fix is the one the DuckDB oracle made in r11
  // (shinglesHashCte): hash the shingles ONCE into 60-bit longs,
  // localCheckpoint that table, and band + verify off the hashes — the
  // md5 pass runs once instead of three times and the verify shuffle
  // carries 8-byte longs instead of strings. Jaccard over distinct hash
  // sets is exactly what jaccardVerifySql has always graded, so outputs
  // (and every oracle) are unchanged.

  /** (doc_id, hs: distinct 60-bit shingle hashes) — ONE shingle+md5 pass
    * serving banding and both exact-Jaccard verify sides, checkpointed so
    * the three consumers don't recompute it. The Spark twin of the
    * oracle's `shh` CTE. */
  private def hashedShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shingled(s, dir)
      .select($"doc_id", array_distinct(Text.shingleHashes($"sh")).as("hs"))
      .localCheckpoint()
  }

  /** The band-key explode: one row per (doc, band key) of a hashed
    * shingle set `hs`. */
  private def minhashBandRows(hs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    explode(graft.functions.HashExpr.minhashBandKeys(hs, Perms, Bands))

  /** (doc_a, doc_b), doc_a < doc_b, of the (doc_id, keys…) `rows` that
    * agree on every key. Band buckets ARE clusters by construction (that's
    * what LSH is for), so pair generation must stream: a self-join emits
    * pairs lazily and AQE splits hot buckets. A per-bucket collect_list +
    * combinations array would materialize k²/2 pairs of a k-doc cluster in
    * one task. */
  private def sharedKeyPairs(rows: DataFrame, keys: String*): DataFrame =
    rows.as("a").hint("shuffle_hash")
      .join(rows.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))

  /** Candidate pairs → exact-Jaccard-verified pairs (the oracle's
    * jaccardVerifySql shape). `cand`'s two id columns key the (doc_id, hs)
    * hashed-shingle tables `a` and `b` in that order; output is
    * (idA, idB, jaccard). */
  private def jaccardVerify(cand: DataFrame, a: DataFrame, b: DataFrame): DataFrame = {
    import cand.sparkSession.implicits._
    val Array(ida, idb) = cand.columns
    cand
      .join(a.toDF(ida, "hsa"), Seq(ida))
      .join(b.toDF(idb, "hsb"), Seq(idb))
      .withColumn("inter", size(array_intersect($"hsa", $"hsb")))
      .select(col(ida), col(idb),
        ($"inter" / (size($"hsa") + size($"hsb") - $"inter")).as("jaccard"))
      .filter($"jaccard" >= JaccardT)
  }

  // Band-join saturation fence (VERDICT r15 #1): the banded stream was the
  // last exact family without mass governance. On every graded corpus the
  // mass is flat (see above) and this fence never trips; it exists for the
  // corpus class the synthetics can't produce — duplicate-saturated crawls
  // where one band value collects a data-proportional bucket and the
  // self-join goes quadratic. Same per-doc density discipline as
  // fenceSimhash/fenceExactIndex: Σ c(c−1)/2 over band buckets per doc is
  // scale-free — it trips on saturation, never on legitimate growth. The
  // probe is one banding+aggregation pass, memoized per session × dir
  // ([[ProbeCache]]); the 64 default clears the measured graded densities
  // (0.09/doc) by ~700× and refuses a corpus whose hot buckets carry
  // data-proportional pair work. Escape hatch: the hot-band-capped twin
  // (dedup_minhash_lsh_capped / dedup_components_lsh_capped), or raise
  // graft.maxBandPairsPerDoc to run the exact band join deliberately.
  private val DefaultMaxBandPairsPerDoc = 64L
  private[graft] def maxBandPairsPerDoc(s: SparkSession): Long =
    envelope(s, "graft.maxBandPairsPerDoc", DefaultMaxBandPairsPerDoc)
  /** (Σ per-band-bucket candidate pairs, max bucket size) for the minhash
    * band join — ONE banding+aggregation pass fills both memo keys. The
    * pair mass feeds [[fenceBandJoin]]; the max bucket is the capped
    * twin's short-circuit probe (VERDICT r16 #4): max ≤ [[BandDfCap]]
    * proves capped ≡ exact, so the twin can skip its hot/cold machinery.
    * `Text.minhashBands(sh)` = `HashExpr.minhashBandKeys(shingleHashes
    * (sh))`, i.e. the probe buckets on EXACTLY the band keys the joins
    * use — the max it reports is the max the join would see. */
  private[graft] def minhashBandStats(s: SparkSession, dir: String): (Long, Long) = {
    lazy val computed: (Long, Long) = {
      import s.implicits._
      val r = shingled(s, dir)
        .select(explode(Text.minhashBands($"sh", Perms, Bands)).as("band"))
        .groupBy($"band").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)),
          coalesce(max($"c"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    // two keys, one lazy pass: if both are cold the scan runs once; a
    // session holding one key from an older code path back-fills the other
    (ProbeCache.cached(s, s"minhashBandWork#$dir")(computed._1),
      ProbeCache.cached(s, s"minhashMaxBandBucket#$dir")(computed._2))
  }
  /** Σ per-band-bucket candidate pairs for the minhash band join. */
  private[graft] def minhashBandWork(s: SparkSession, dir: String): Long =
    minhashBandStats(s, dir)._1
  private def fenceBandJoin(name: String, s: SparkSession, dir: String): Unit = {
    val budget = maxBandPairsPerDoc(s)
    val docs = docCount(s, dir)
    val work = minhashBandWork(s, dir)
    // exact at the boundary (ADVICE r16, same class as fenceStreamJoin):
    // mass vs scaled budget, not a truncating integer division
    val perDoc = if (docs == 0) 0.0 else work.toDouble / docs
    require(work <= budget * docs,
      f"$name: minhash band index is saturated — $work candidate pairs for " +
        f"$docs docs ($perDoc%.2f/doc, budget $budget/doc). Hot band buckets " +
        "carry data-proportional pair work, making the band self-join " +
        "quadratic; use the hot-band-capped twins (dedup_minhash_lsh_capped " +
        "/ dedup_components_lsh_capped — identical output wherever every " +
        "bucket is under the cap, measured recall where not), or raise " +
        "graft.maxBandPairsPerDoc to run the exact band join deliberately.")
  }

  /** MinHash-banded candidates verified by exact Jaccard — the TEXT pair
    * generator that stays linear when the exact inverted index saturates
    * (a bounded shingle vocabulary caps distinct shingles, so exact-index
    * bucket sizes — and Σc² join work — grow with the corpus; band
    * buckets stay ~constant). Shared by dedup_minhash_lsh, the grouping
    * scale path dedup_components_lsh, keeper selection, and the triangle
    * counter. FENCED on measured band-bucket density ([[fenceBandJoin]]);
    * the capped twin [[minhashVerifiedPairsCapped]] is the governed path
    * past the fence. */
  private[graft] def minhashVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    fenceBandJoin("dedup_minhash_lsh", s, dir)
    minhashBandedPairsUnfenced(s, dir, "dedup_minhash_lsh")
  }

  /** The exact band-join pair generation WITHOUT the saturation fence —
    * shared by the fenced entry point above and the capped twin's
    * short-circuit, which has already PROVED the exact plan safe (the
    * max-bucket probe bounds every bucket's pair fan-out at the cap —
    * precisely the saturation the fence exists to refuse). */
  private def minhashBandedPairsUnfenced(s: SparkSession, dir: String,
      probe: String): DataFrame = {
    import s.implicits._
    val hsh = hashedShingles(s, dir)
    val bands = hsh.select($"doc_id", minhashBandRows($"hs").as("band"))
    val cand = probePairs(sharedKeyPairs(bands, "band"), probe).distinct()
    jaccardVerify(cand, hsh, hsh)
  }

  /** Hot-band-capped twin of [[minhashVerifiedPairs]] — the governed path
    * for duplicate-saturated corpora (VERDICT r15 #1). Band buckets at or
    * under [[BandDfCap]] pair exactly as the exact generator does; docs in
    * buckets OVER the cap pair only when their FULL 32-permutation
    * signatures are identical (sub-banding the hot bucket with all
    * remaining rows — the strictest extra-row split, and the one that is
    * free to verify: 32/32 matching minima estimates J≈1, so those pairs
    * are almost surely in the true output). Work is therefore bounded by
    * cap·postings for cold buckets plus the output itself for hot ones —
    * linear at ANY density. Candidates are a SUBSET of the exact
    * generator's (a sig-identical pair shares every band, so it is banded
    * too), making the dominance contract provable: capped ⊆ exact, with
    * equality wherever no bucket exceeds the cap — which PERF.md round 16 measured
    * to be every graded corpus (max bucket 19 at skew10). Recall where
    * buckets DO saturate is measured, not argued:
    * dedup_minhash_capped_recall grades |capped ∩ exact| / |exact| the way
    * ann_recall_at_k grades the ANN rungs. */
  private[graft] val BandDfCap = 64L
  private[graft] def minhashVerifiedPairsCapped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Short-circuit (VERDICT r16 #4): when the memoized max-bucket probe
    // shows no bucket over the cap, capped ≡ exact by the dominance
    // contract — so the bucket-count join + hot/cold split (measured
    // 1.3–1.4× the exact generator's wall at EVERY graded rung, where max
    // buckets sit far under the cap) runs only where it changes the
    // output. The collapsed plan is safe without the band fence: max ≤
    // cap bounds every bucket's fan-out, which is the very saturation the
    // fence refuses.
    if (minhashBandStats(s, dir)._2 <= BandDfCap)
      return minhashBandedPairsUnfenced(s, dir, "dedup_minhash_lsh_capped")
    val hsh = hashedShingles(s, dir)
    val bands = hsh.select($"doc_id", minhashBandRows($"hs").as("band"))
    val bc = bands.groupBy($"band").agg(count(lit(1)).as("c"))
    val banded = bands.join(bc, Seq("band"))
    val cold = banded.filter($"c" <= BandDfCap).select($"doc_id", $"band")
    val coldPairs = sharedKeyPairs(cold, "band")
    val sigs = hsh.select($"doc_id",
      concat_ws("_", graft.functions.HashExpr.minhashSig($"hs", Perms)).as("sigkey"))
    val hot = banded.filter($"c" > BandDfCap).select($"doc_id", $"band")
      .join(sigs, Seq("doc_id"))
    val hotPairs = sharedKeyPairs(hot, "band", "sigkey")
    val cand = probePairs(coldPairs.unionByName(hotPairs), "dedup_minhash_lsh_capped")
      .distinct()
    jaccardVerify(cand, hsh, hsh)
  }

  /** MinHash + LSH banding: 32 md5-permutations, 8 bands × 4 rows; band
    * bucket-join yields candidates, exact Jaccard verifies. */
  private val dedupMinhashLsh: Q = (s, dir) => {
    import s.implicits._
    minhashVerifiedPairs(s, dir).orderBy($"doc_a", $"doc_b")
  }

  /** The governed twin ([[minhashVerifiedPairsCapped]]): identical output
    * wherever no band bucket exceeds [[BandDfCap]] — every graded corpus —
    * and work linear at any density. */
  private val dedupMinhashLshCapped: Q = (s, dir) => {
    import s.implicits._
    minhashVerifiedPairsCapped(s, dir).orderBy($"doc_a", $"doc_b")
  }

  /** Recall contract for the capped twin, graded the way ann_recall_at_k
    * grades the ANN rungs: the exact banded pairs are the truth (so this
    * key inherits the band fence — on a corpus the fence refuses, the
    * truth itself is the quadratic), the capped pairs are the probe, and
    * the output is the integer triple a dominance check needs. capped ⊆
    * exact by construction, so n_common = n_capped always, and recall =
    * n_common / n_exact is 1.0 wherever every bucket is under the cap. */
  private val dedupMinhashCappedRecall: Q = (s, dir) => {
    import s.implicits._
    val exact = minhashVerifiedPairs(s, dir)
      .select($"doc_a", $"doc_b").withColumn("e", lit(1))
    val capped = minhashVerifiedPairsCapped(s, dir)
      .select($"doc_a", $"doc_b").withColumn("c", lit(1))
    exact.join(capped, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum(coalesce($"e", lit(0))).as("n_exact"),
        sum(coalesce($"c", lit(0))).as("n_capped"),
        sum(when($"e" === 1 && $"c" === 1, 1).otherwise(0)).as("n_common"))
  }

  /** Duplicate grouping over the CAPPED pair graph — the grouping
    * consumer's governed twin (dedup_components_lsh refuses past the band
    * fence naming this). Same components algorithm, same output schema. */
  private val dedupComponentsLshCapped: Q = (s, dir) =>
    duplicateGroups(minhashVerifiedPairsCapped(s, dir))

  /** MinHash ESTIMATION-ACCURACY rung — the dedup family's analog of
    * [[annRecallAtK]]: over every banded candidate pair, the sketch's
    * similarity estimate against the exact truth, AGGREGATED into the
    * accuracy profile a reader actually consumes: one row per n_match
    * level (count of equal signature positions; E[n_match/perms] = true
    * Jaccard — the Broder identity the whole construction rests on) with
    * the pair count and the exact summed intersection/union counts, all
    * integers. sum_inter/sum_union recover the mean true Jaccard per
    * estimate level, so bias anywhere in the permutation family lands in
    * the hash compare.
    *
    * Scale shape: the per-pair fan-out COLLAPSES into a ≤perms+1-key
    * aggregate — output constant in corpus size, per-pair work one
    * zip_with over two 32-long arrays, nothing materialized. The cost
    * left is the banded candidate join itself, the same one the `_lsh`
    * dedup keys pay (their saturated-corpus decade envelope applies). */
  private val dedupMinhashEstimate: Q = (s, dir) => {
    import s.implicits._
    fenceBandJoin("dedup_minhash_estimate", s, dir)
    val hsh = hashedShingles(s, dir)
    // one feature row per doc (hashed shingles + full signature): a single
    // join per pair side instead of separate sig/shingle joins
    val feat = hsh.select($"doc_id",
      graft.functions.HashExpr.minhashSig($"hs", Perms).as("sig"), $"hs")
    val bands = hsh.select($"doc_id", minhashBandRows($"hs").as("band"))
    val cand = sharedKeyPairs(bands, "band").distinct()
    cand
      .join(feat.select($"doc_id".as("doc_a"), $"sig".as("siga"), $"hs".as("sha")),
        Seq("doc_a"))
      .join(feat.select($"doc_id".as("doc_b"), $"sig".as("sigb"), $"hs".as("shb")),
        Seq("doc_b"))
      .withColumn("inter", size(array_intersect($"sha", $"shb")))
      .select(
        graft.functions.HashExpr.arrayEqCount($"siga", $"sigb").as("n_match"),
        $"inter".as("n_inter"),
        (size($"sha") + size($"shb") - $"inter").as("n_union"))
      .groupBy($"n_match")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"n_inter").as("sum_inter"),
        sum($"n_union").as("sum_union"))
      .orderBy($"n_match")
  }

  /** INCREMENTAL text dedup — the third member of the incremental
    * trilogy ([[dedupSemanticIncremental]] for embeddings,
    * [[annIvfIncremental]] for the ANN index, this for MinHash text):
    * match only the APPENDED documents (the newest quarter by id) against
    * the EXISTING corpus's band index, never existing-vs-existing — that
    * work was paid on previous days. MinHash banding is symmetric on band
    * equality, so one-sided probing (incoming bands joined to index
    * bands) is pair-complete for the ≥1-shared-band relation with NO
    * probe ring — cost is O(new · bands · bucket), independent of index
    * size beyond the bucket constant. Candidates verify by exact Jaccard
    * over shingle sets; output is the per-newcomer verdict a daily
    * pipeline consumes: min matched existing id (NULL = genuinely new
    * content) + match count. Oracle replays signatures, bands, the
    * one-sided join, and the verdict bit-for-bit. */
  private val dedupMinhashIncremental: Q = (s, dir) => {
    import s.implicits._
    val split = 3L * docCount(s, dir) / 4L
    val hsh = hashedShingles(s, dir)
    val index = hsh.filter($"doc_id" < split)
    minhashNewcomers(hsh.filter($"doc_id" >= split), index,
      index.select($"doc_id", minhashBandRows($"hs").as("band")))
  }

  /** Per-newcomer verdict over verified (new_id, dup_of) matches: min
    * matched existing id (NULL = genuinely new content) + match count, one
    * row per id of `newIds` — the contract every incremental dedup key
    * emits. */
  private def newcomerVerdict(newIds: DataFrame, matches: DataFrame): DataFrame = {
    import newIds.sparkSession.implicits._
    newIds
      .join(matches.groupBy($"new_id")
        .agg(min($"dup_of").as("dup_of"), count(lit(1)).as("n_matches")),
        Seq("new_id"), "left")
      .select($"new_id", $"dup_of", coalesce($"n_matches", lit(0L)).as("n_matches"))
      .orderBy($"new_id")
  }

  /** The one-sided MinHash probe both incremental text keys share: the
    * newcomers' (doc_id, hs) band keys join the index's (doc_id, band)
    * rows, candidates verify by exact Jaccard against the index's
    * (doc_id, hs), and the verdict is [[newcomerVerdict]]'s. */
  private def minhashNewcomers(newHs: DataFrame, indexHs: DataFrame,
      indexBands: DataFrame): DataFrame = {
    import newHs.sparkSession.implicits._
    val incoming = newHs.select($"doc_id".as("new_id"), minhashBandRows($"hs").as("band"))
    // band buckets are clusters by construction — stream pairs through a
    // self-join (AQE splits hot buckets), same shape as the batch path
    val cand = incoming.hint("shuffle_hash").join(indexBands.toDF("dup_of", "band"), Seq("band"))
      .select($"new_id", $"dup_of").distinct()
    newcomerVerdict(newHs.select($"doc_id".as("new_id")),
      jaccardVerify(cand, newHs, indexHs))
  }

  // ---- appended-batch protocol twins (VERDICT r15 #4) ------------------
  // The incremental keys above derive index AND batch from one corpus
  // read; these twins run the TRUE two-step protocol: batch 1 builds the
  // index and persists it ([[BatchState]]), batch 2 reads the LANDED
  // state back and probes it one-sidedly. The oracles read the same
  // landed files, so a state-WRITE bug — not just probe math — lands in
  // the hash compare. Build/probe are separate seams, so the probe can be
  // timed alone: at a FIXED batch size its wall stays flat against
  // indexes a decade apart (PERF.md round 16, index-size freedom).

  /** Batch-1: band index + hashed-shingle features of docs < `split`,
    * persisted. */
  private[graft] def minhashBatchBuild(s: SparkSession, dir: String, split: Long): Unit = {
    import s.implicits._
    val oldHs = spread(Tables(s, dir, "documents")).filter($"doc_id" < split)
      .select($"doc_id", array_distinct(
        Text.shingleHashes(Text.shingleSet($"text", ShingleN))).as("hs"))
    val landedHs = BatchState.persist(s, "mh_hs", oldHs)
    BatchState.persist(s, "mh_bands",
      landedHs.select($"doc_id", minhashBandRows($"hs").as("band")))
  }

  /** Batch-2: the appended docs probe the LANDED band index; verdict per
    * newcomer, identical contract to [[dedupMinhashIncremental]]. */
  private[graft] def minhashBatchProbe(s: SparkSession, dir: String, split: Long): DataFrame = {
    import s.implicits._
    val newHs = spread(Tables(s, dir, "documents")).filter($"doc_id" >= split)
      .select($"doc_id", array_distinct(
        Text.shingleHashes(Text.shingleSet($"text", ShingleN))).as("hs"))
      .localCheckpoint()
    minhashNewcomers(newHs, s.read.parquet(s"${BatchState.root}/mh_hs"),
      s.read.parquet(s"${BatchState.root}/mh_bands"))
  }

  private val dedupMinhashIncrementalBatch: Q = (s, dir) => {
    val split = 3L * docCount(s, dir) / 4L
    minhashBatchBuild(s, dir, split)
    minhashBatchProbe(s, dir, split)
  }

  /** Batch-1: bucketed embedding index of vectors < `split`, persisted.
    * Bits are frozen at INDEX-build time (lshBitsFor(split)) — the way a
    * real index's geometry is fixed when it is built, not re-derived from
    * a corpus that has since grown. */
  private[graft] def semanticBatchBuild(s: SparkSession, dir: String, split: Long): Unit = {
    import s.implicits._
    val bits = lshBitsFor(split)
    BatchState.persist(s, "sem_index",
      spread(Tables(s, dir, "embeddings")).filter($"vec_id" < split)
        .select($"vec_id".as("dup_of"), $"embedding",
          Vectors.hyperplaneBucket($"embedding", EmbDim, bits, LshSeed).as("bucket")))
  }

  /** Batch-2: appended vectors multi-probe (home + hamming-1 ring) the
    * LANDED bucket index — [[dedupSemanticIncremental]]'s contract with
    * the index side read from persisted state. */
  private[graft] def semanticBatchProbe(s: SparkSession, dir: String, split: Long): DataFrame = {
    import s.implicits._
    val existing = s.read.parquet(s"${BatchState.root}/sem_index")
      .select($"dup_of", $"embedding".as("eb"), $"bucket",
        Vectors.fnorm($"embedding").as("nb"))
    semanticNewcomers(s, dir, split, lshBitsFor(split), existing)
  }

  private val dedupSemanticIncrementalBatch: Q = (s, dir) => {
    val split = 3L * corpusCount(s, dir) / 4L
    semanticBatchBuild(s, dir, split)
    semanticBatchProbe(s, dir, split)
  }

  /** Batch-1: codebook trained on vectors < `split` + its cell occupancy,
    * both persisted — the index artifact a 100 TB IVF maintains. */
  private[graft] def ivfBatchBuild(s: SparkSession, dir: String, split: Long): Unit = {
    import s.implicits._
    import graft.operators.KMeans
    val emb = spread(Tables(s, dir, "embeddings"))
    val cents = BatchState.persist(s, "ivf_cents",
      KMeans.fit(emb.filter($"vec_id" < split), "vec_id", "embedding",
        IvfCentroids, IvfTrainIters))
    val qOld = emb.filter($"vec_id" < split)
      .select($"vec_id".as("id"), KMeans.quantize($"embedding").as("qv"))
    BatchState.persist(s, "ivf_occ",
      KMeans.assign(qOld, cents).groupBy($"cent_id")
        .agg(count(lit(1)).as("n_existing")))
  }

  /** Batch-2: ONLY the appended vectors assign against the LANDED frozen
    * codebook; occupancy joins from the landed counts — O(new · k), the
    * index never re-scans. */
  private[graft] def ivfBatchProbe(s: SparkSession, dir: String, split: Long): DataFrame = {
    import s.implicits._
    import graft.operators.KMeans
    val cents = s.read.parquet(s"${BatchState.root}/ivf_cents")
    val occ = s.read.parquet(s"${BatchState.root}/ivf_occ")
    val qNew = spread(Tables(s, dir, "embeddings")).filter($"vec_id" >= split)
      .select($"vec_id".as("id"), KMeans.quantize($"embedding").as("qv"))
    val inc = KMeans.assign(qNew, cents).groupBy($"cent_id")
      .agg(count(lit(1)).as("n_incremental"))
    occ.join(inc, Seq("cent_id"), "full_outer")
      .select($"cent_id",
        coalesce($"n_existing", lit(0L)).as("n_existing"),
        coalesce($"n_incremental", lit(0L)).as("n_incremental"))
      .orderBy($"cent_id")
  }

  private val annIvfIncrementalBatch: Q = (s, dir) => {
    val split = 3L * corpusCount(s, dir) / 4L
    ivfBatchBuild(s, dir, split)
    ivfBatchProbe(s, dir, split)
  }

  /** Keeper selection at text scale — [[dedupKeepBest]] with the pair
    * graph swapped from the exact inverted index to the minhash-banded
    * generator, completing the scale-path family: every stage (banding,
    * verify, components, token-count ranking) is corpus-size-bounded. */
  private val dedupKeepBestLsh: Q = (s, dir) => keepBest(s, dir, minhashVerifiedPairs(s, dir))

  /** Duplicate GROUPS at text scale: connected components over the
    * MINHASH-BANDED pair graph instead of the exact inverted index.
    * Measured motivation (PERF.md sf1 decade run): the exact index's
    * Σ(bucket²) join work grew 90× for 10× docs once the synthetic
    * 31-word shingle space saturated, dragging dedup_components to 9×;
    * band buckets are corpus-size-free, so this path scales like
    * dedup_minhash_lsh (3.5× for 10×). Oracle-exact: the banding is
    * md5-replayed, so DuckDB derives the identical pair graph. */
  private val dedupComponentsLsh: Q = (s, dir) => duplicateGroups(minhashVerifiedPairs(s, dir))

  /** (doc_id, simhash, band_id, band_val) — the 4×15-bit banding shared
    * by the pair join and the saturation-fence probe. */
  private def simhashBanded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bandMask = (1L << SimhashBandBits) - 1
    val sh = spread(Tables(s, dir, "documents"))
      .select($"doc_id", Text.simhash60($"text").as("simhash"))
    sh.select($"doc_id", $"simhash",
      explode(array((0 until SimhashBands).map { b =>
        struct(lit(b).as("band_id"),
          shiftright($"simhash", SimhashBandBits * b).bitwiseAND(lit(bandMask)).as("band_val"))
      }: _*)).as("band"))
      .select($"doc_id", $"simhash",
        $"band.band_id".as("band_id"), $"band.band_val".as("band_val"))
  }

  /** SimHash near-dup pairs within hamming ≤ 3, candidates via 4×15-bit
    * band join (pigeonhole-complete for that radius). Fenced on measured
    * band-bucket density: a saturated corpus makes both the join AND the
    * true answer quadratic (see [[fenceSimhash]]). */
  private val dedupSimhash: Q = (s, dir) => {
    import s.implicits._
    fenceSimhash("dedup_simhash", s, dir)
    val banded = simhashBanded(s, dir)
    // Self-JOIN, not bucketPairs: simhash band values are data-dependent —
    // near-identical docs (this corpus is heavily clustered) share band
    // values, so a hot bucket holds thousands of docs and a per-bucket
    // combinations array would materialize n²/2 structs in ONE task. The
    // join streams its output and the hamming filter + partial distinct
    // run before the shuffle; AQE can additionally split skewed buckets.
    probePairs(
      banded.as("a").hint("shuffle_hash")
        .join(banded.as("b"),
          col("a.band_id") === col("b.band_id") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming")),
      "dedup_simhash")
      .filter($"hamming" <= HammingT)
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** Embedding near-dup: all pairs with cosine ≥ t (brute-force exact).
    * Norms are precomputed per ROW before the pair join (O(n) work), so the
    * per-pair cost is a single fused dot product. Fenced on the PAIR
    * budget, not rows — the only all-pairs caller in this family (the
    * ann_* fences below guard per-query full scans, which are linear):
    * see [[fenceAllPairs]] for the measured skew10 quadratic. */
  private val embNeardup: Q = (s, dir) => {
    import s.implicits._
    fenceAllPairs("emb_neardup_cosine", s, dir)
    val emb = spread(Tables(s, dir, "embeddings"))
    val a = emb.select($"vec_id".as("vec_a"), $"embedding".as("ea"),
      Vectors.fnorm($"embedding").as("na"))
    val b = emb.select($"vec_id".as("vec_b"), $"embedding".as("eb"),
      Vectors.fnorm($"embedding").as("nb"))
    a.join(b, $"vec_a" < $"vec_b")
      .filter(pairCos >= CosineT)
      .select($"vec_a", $"vec_b")
      .orderBy($"vec_a", $"vec_b")
  }

  /** Brute-force cosine top-k for the first 10 vectors as queries — the
    * exact ANN baseline. Output is rank-only (ints) so the compare is
    * float-free; ties broken by neighbor_id. */
  private val annTopK: Q = (s, dir) => {
    import s.implicits._
    fenceBruteForce("ann_cosine_topk", s, dir)
    topKRanked(fullScanScored(s, dir, $"vec_id" < 10), "cos", AnnK)
      .orderBy($"query_id", $"rank")
  }

  /** LSH-bucketed ANN — the scale path: corpus-derived hyperplane bits
    * ([[lshBitsFor]]) keep bucket size ~[[LshTargetBucket]] at any n;
    * neighbors are ranked only within the query's bucket. */
  private val annLshBucket: Q = (s, dir) => {
    import s.implicits._
    val emb = lshEmbeddings(s, dir, lshBits(s, dir))
    val q = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"bucket", $"nrm".as("qn"))
    val n = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("ne"), $"bucket", $"nrm".as("nn"))
    topKRanked(cosineScored(broadcast(q).join(n, Seq("bucket"))
      .filter($"query_id" =!= $"neighbor_id")), "cos", 3)
      .orderBy($"query_id", $"rank")
  }

  /** Multi-probe LSH — the standard recall knob at fixed bucket cost: each
    * query probes its OWN bucket plus every bucket at hamming distance 1
    * (bits+1 probes), recovering neighbors that a single hyperplane sign
    * flip pushed next door. Per-query candidate count grows to
    * (bits+1)·targetBucket — still constant in corpus size n (bits ~
    * log n, so ~log-linear total), vs brute force's n. Recall lift is
    * MEASURED by `ann_recall_at_k` (method 'lsh_mp') as exact integers. */
  private val annLshMultiprobe: Q = (s, dir) => {
    import s.implicits._
    val bits = lshBits(s, dir)
    val emb = lshEmbeddings(s, dir, bits)
    // each neighbor lives in exactly ONE bucket and the probe set is
    // distinct buckets, so no (query, neighbor) pair can duplicate
    val q = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"),
        probeRing($"bucket", bits, 1).as("bucket"))
    val n = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("ne"),
      $"bucket", $"nrm".as("nn"))
    topKRanked(cosineScored(broadcast(q).join(n, Seq("bucket"))
      .filter($"query_id" =!= $"neighbor_id")), "cos", 3)
      .orderBy($"query_id", $"rank")
  }

  /** Deterministic UNNORMALIZED twin of the embedding corpus: the stored
    * vectors are unit-norm (MIPS would degenerate to cosine), so both
    * MIPS rungs scale each vector by 1 + vec_id mod 7 — an id-derived
    * integer factor both engines replay exactly. Norms then span 1–7 and
    * inner-product ranking genuinely disagrees with cosine ranking. */
  private def scaledEmb(c: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(c.cast("array<double>"), e => e * (lit(1) + pmod(id, lit(7))))

  /** MIPS recall rung — retrieval by raw INNER PRODUCT (what a retrieval
    * stack maximizes when embeddings are unnormalized: dot = cosine ×
    * norm, so high-norm documents should outrank same-direction low-norm
    * ones). Candidates come from DIRECTION-bucketed multi-probe LSH
    * (buckets from the raw unit vectors — scaling never moves a
    * direction bucket) but are RANKED by the scaled dot; the exact truth
    * side is the full-scan scaled-dot top-3 (fenced — the O(n·q)
    * baseline). The emitted hits@3 therefore MEASURES the bias of
    * direction-only bucketing under MIPS: the high-norm neighbor a query
    * needs sits in a DIFFERENT direction bucket and goes missing.
    * [[annMipsAugRecall]] is the paired fix; the two keys share the
    * truth, so their delta is the reduction's measured value. */
  private val annMipsRecall: Q = (s, dir) => {
    import s.implicits._
    fenceBruteForce("ann_mips_recall", s, dir) // truth side full-scans per query
    val bits = lshBits(s, dir)
    val emb = spread(Tables(s, dir, "embeddings")).select($"vec_id",
      scaledEmb($"embedding", $"vec_id").as("sv"),
      Vectors.hyperplaneBucket($"embedding", EmbDim, bits, LshSeed).as("bucket"))
    val q0 = emb.filter($"vec_id" < 50)
    val q = q0.select($"vec_id".as("query_id"), $"sv".as("qe"),
      probeRing($"bucket", bits, 1).as("bucket"))
    val n = emb.select($"vec_id".as("neighbor_id"), $"sv".as("ne"), $"bucket")
    val approx = top3ByCos(broadcast(q).join(n, Seq("bucket"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", Vectors.dot($"qe", $"ne").as("cos"), $"neighbor_id"))
    val truth = top3ByCos(broadcast(q0.select($"vec_id".as("query_id"), $"sv".as("qe")))
      .join(emb.select($"vec_id".as("neighbor_id"), $"sv".as("ne")),
        $"query_id" =!= $"neighbor_id")
      .select($"query_id", Vectors.dot($"qe", $"ne").as("cos"), $"neighbor_id"))
    truth.join(approx.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0))).as("hits_at_3"))
      .orderBy($"query_id")
  }

  /** The MIPS FIX — the asymmetric augmented-vector reduction (Shrivastava
    * & Li / Neyshabur & Srebro, public): append sqrt(M² − ‖x‖²) to every
    * corpus vector (M = the corpus max norm) and 0 to every query, and
    * maximum inner product becomes cosine on the augmented space — every
    * augmented corpus vector has norm exactly M, so direction IS the dot
    * ranking. Buckets are hyperplane-LSH over the (dim+1) augmented
    * vectors with the same seed family and bit ladder; candidates then
    * rank by the raw dot like [[annMipsRecall]], against the SAME exact
    * truth — so the two keys' hits@3 are directly comparable and their
    * delta is the measured value of the reduction. M² rides as one
    * broadcast scalar (exact double max — order-free).
    *
    * Measured finding (sf0.1, norms 1–7, equal probe budget): the
    * reduction makes the RANKING exact under cosine machinery but does
    * NOT lift bucket recall by itself (1.88 vs 1.86 hits@3) — low-norm
    * corpus vectors collapse toward the augmentation axis, so their
    * buckets lose direction selectivity exactly as the MIPS-LSH papers
    * warn; the production lever for recall is probe count/tables (the
    * ann_mp2/ann_mt rungs), with the augmentation supplying the correct
    * geometry to probe IN. A rung that measures where a knob does NOT
    * help is as load-bearing as one that shows it does. */
  private val annMipsAugRecall: Q = (s, dir) => {
    import s.implicits._
    fenceBruteForce("ann_mips_aug_recall", s, dir) // truth side full-scans per query
    val bits = lshBits(s, dir)
    val withSelf = spread(Tables(s, dir, "embeddings"))
      .select($"vec_id", scaledEmb($"embedding", $"vec_id").as("sv"))
      .withColumn("selfdot", Vectors.dot($"sv", $"sv"))
    val base = withSelf
      .crossJoin(broadcast(withSelf.agg(max($"selfdot").as("m2"))))
    def bucketOf(aug: org.apache.spark.sql.Column) = concat_ws("",
      (0 until bits).map(b =>
        (Vectors.dot(aug, lit(graft.functions.HashSketch
          .plane(EmbDim + 1, LshSeed * 1000 + b))) >= 0).cast("int")): _*)
    val nAug = concat($"sv", array(sqrt($"m2" - $"selfdot")))
    val qAug = concat($"sv", array(lit(0.0)))
    val n = base.select($"vec_id".as("neighbor_id"), $"sv".as("ne"),
      bucketOf(nAug).as("bucket"))
    val q = base.filter($"vec_id" < 50)
      .withColumn("qb", bucketOf(qAug))
      .select($"vec_id".as("query_id"), $"sv".as("qe"),
        probeRing($"qb", bits, 1).as("bucket"))
    val approx = top3ByCos(broadcast(q).join(n, Seq("bucket"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", Vectors.dot($"qe", $"ne").as("cos"), $"neighbor_id"))
    val emb = base.select($"vec_id", $"sv")
    val truth = top3ByCos(broadcast(emb.filter($"vec_id" < 50)
        .select($"vec_id".as("query_id"), $"sv".as("qe")))
      .join(emb.select($"vec_id".as("neighbor_id"), $"sv".as("ne")),
        $"query_id" =!= $"neighbor_id")
      .select($"query_id", Vectors.dot($"qe", $"ne").as("cos"), $"neighbor_id"))
    truth.join(approx.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0))).as("hits_at_3"))
      .orderBy($"query_id")
  }

  /** FILTERED vector search — the serving-layer composition a production
    * vector store ships ("nearest neighbors in the SAME category"): the
    * multi-probe LSH candidate join with a metadata predicate (label
    * equality) pushed INTO the join condition, so filtered-out candidates
    * never reach the cosine verify and top-3 ranks are computed within
    * the filtered set. The predicate rides the same hash join as the
    * bucket key — zero extra shuffles vs the unfiltered path; at any
    * selectivity the work can only SHRINK relative to
    * [[annLshMultiprobe]]. Post-filtering (rank first, filter after)
    * would instead silently return < k survivors — the classic filtered-
    * ANN bug this key's oracle would catch. */
  private val annFiltered: Q = (s, dir) => {
    import s.implicits._
    val bits = lshBits(s, dir)
    val emb = lshEmbeddings(s, dir, bits)
    val q = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"),
        $"label".as("ql"), probeRing($"bucket", bits, 1).as("bucket"))
    val n = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("ne"),
      $"bucket", $"nrm".as("nn"), $"label".as("nl"))
    topKRanked(cosineScored(broadcast(q).join(n, Seq("bucket"))
      // equi-predicate on both sides: Catalyst folds it into the hash
      // join keys, so label filtering happens AT the join, not after
      .filter($"ql" === $"nl")
      .filter($"query_id" =!= $"neighbor_id")), "cos", 3)
      .orderBy($"query_id", $"rank")
  }

  /** The PERF.md recall knob made real: hamming ≤ 2 probe ring —
    * 1 + bits + C(bits, 2) buckets per query (37 of 256 at sf1's 8 bits),
    * cost still constant in corpus size n. This key measures what the
    * deeper ring buys as exact-integer recall@3 per query, same contract
    * as [[annQ8Recall]]; SimilarityScaleSpec asserts it dominates the
    * hamming-1 ring at the sf1 decade (more probes only add candidates). */
  private val annMp2Recall: Q = (s, dir) => {
    import s.implicits._
    fenceBruteForce("ann_mp2_recall", s, dir) // exact-truth side is a full scan
    val bits = lshBits(s, dir)
    val emb = lshEmbeddings(s, dir, bits)
    val q = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"),
        probeRing($"bucket", bits, 2).as("bucket"))
    val n = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("ne"),
      $"bucket", $"nrm".as("nn"))
    val approx = top3ByCos(cosineScored(broadcast(q).join(n, Seq("bucket"))
      .filter($"query_id" =!= $"neighbor_id")))
    hitsAt3(approx, exactTruthTop3(s, dir, col("vec_id") < 50))
  }

  /** Exact cosine top-3 ground truth for queries matching `pred` — THE
    * truth side of every recall gate, factored so all gates share one
    * tiebreak/rank-cutoff contract. O(queries · n) full scan → callers
    * must fence it like the other exact baselines.
    *
    * The rank-3 cutoff is a bounded top-k aggregate, not a window (r18,
    * guide §2.3): the window shuffled and sorted ALL queries·corpus
    * scored pairs — the data-proportional term of every recall key at
    * 100 TB — where the aggregate collapses each map partition to ≤3
    * entries per query before the exchange. [[graft.functions.TopKAgg]]
    * reproduces the window's (cos desc, neighbor_id asc) order
    * bit-for-bit, so the emitted truth set is identical. */
  private def exactTruthTop3(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): DataFrame =
    top3ByCos(fullScanScored(s, dir, pred)).withColumn("hit", lit(1))

  /** (query_id, cos, neighbor_id) of every query matching `pred` against
    * every other corpus vector — the O(queries · n) full scan behind the
    * exact baselines (callers fence it). */
  private def fullScanScored(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): DataFrame = {
    import s.implicits._
    val emb = spread(Tables(s, dir, "embeddings"))
      .select($"vec_id", $"embedding", Vectors.fnorm($"embedding").as("nrm"))
    val q = emb.filter(pred)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    val n = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("ne"), $"nrm".as("nn"))
    cosineScored(broadcast(q).join(n, $"query_id" =!= $"neighbor_id"))
  }

  /** Run two INDEPENDENT eager-pipeline builders on concurrent driver
    * threads (r18, guide §2.6 "overlap independent jobs"): each k-means
    * training is a chain of small barrier jobs (per-iteration
    * localCheckpoints), so overlapping two chains back-fills the executor
    * slots the other chain's barriers leave idle. The computations share
    * no state — concurrency cannot change any value. */
  private def concurrently[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fa = Future(a)
    val fb = Future(b)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }

  /** Cosine of a candidate pair carrying the vectors `ea`/`eb` and their
    * precomputed norms `na`/`nb` — the score of the pairwise near-dup keys. */
  private def pairCos: org.apache.spark.sql.Column =
    Vectors.cosinePrenormed(Vectors.fdot(col("ea"), col("eb")), col("na"), col("nb"))

  /** (query_id, cos, neighbor_id) of a candidate frame carrying the query
    * vector `qe` and the neighbor vector `ne` with their precomputed norms
    * `qn`/`nn` — the cosine scoring every float ANN rung ranks by. */
  private def cosineScored(cand: DataFrame): DataFrame =
    cand.select(col("query_id"),
      Vectors.cosinePrenormed(Vectors.fdot(col("qe"), col("ne")), col("qn"), col("nn")).as("cos"),
      col("neighbor_id"))

  /** The `k` best `id`s per `by` by (`score` desc, `id` asc), one
    * (by, id) row each — the bounded top-k aggregate in place of a rank-≤k
    * window (r18, guide §2.3; ordering contract in [[exactTruthTop3]]'s
    * doc). Shared by the recall rungs' top-3 and the IVF cell picks. */
  private def topK(scored: DataFrame, by: String, score: String, id: String,
      k: Int): DataFrame =
    scored.groupBy(col(by))
      .agg(graft.functions.TopKAgg.byScore(col(score), col(id), k).as("__top"))
      .select(col(by), explode(col("__top")("id")).as(id))

  /** rank-≤3 cutoff by (cos desc, neighbor_id asc) over a scored
    * (query_id, cos, neighbor_id) frame. */
  private def top3ByCos(scored: DataFrame): DataFrame =
    topK(scored, "query_id", "cos", "neighbor_id", 3)

  /** rank-≤k rows by (`score` desc, neighbor_id asc) emitted as
    * (query_id, rank, neighbor_id) — [[topK]]'s window-with-rank twin
    * (rank i = array position i−1 of the bounded top-k state). */
  private def topKRanked(scored: DataFrame, score: String, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    scored.groupBy($"query_id")
      .agg(graft.functions.TopKAgg.byScore(col(score), $"neighbor_id", k).as("__top"))
      .select($"query_id", posexplode(col("__top")).as(Seq("__r", "__t")))
      .select($"query_id", ($"__r" + 1).as("rank"), $"__t.id".as("neighbor_id"))
  }

  /** hits@3 of an approx (`by`…, neighbor_id) set against a truth
    * (query_id, neighbor_id, hit) set: one exact-integer row per `by`
    * group, ordered by it. */
  private def hitsAt3(approx: DataFrame, truth: DataFrame,
      by: Seq[String] = Seq("query_id")): DataFrame = {
    import approx.sparkSession.implicits._
    approx.join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy(by.map(col): _*)
      .agg(coalesce(sum($"hit"), lit(0)).cast("int").as("hits_at_3"))
      .orderBy(by.map(col): _*)
  }

  private val LshTables = 4

  /** The LAST rung of the recall ladder: L independent hyperplane tables
    * (distinct seeds) — a true neighbor is missed only if every table
    * separates the pair, so miss probability decays exponentially in L at
    * L× index cost and L probes/query (still constant in corpus size).
    * Candidates are the distinct union of same-bucket pairs across
    * tables; recall contract identical to [[annQ8Recall]]. */
  private val annMtRecall: Q = (s, dir) => {
    import s.implicits._
    fenceBruteForce("ann_mt_recall", s, dir) // exact-truth side is a full scan
    val bits = lshBits(s, dir)
    val emb = spread(Tables(s, dir, "embeddings"))
      .select($"vec_id", $"embedding", Vectors.fnorm($"embedding").as("nrm"),
        array((0 until LshTables).map(t =>
          Vectors.hyperplaneBucket($"embedding", EmbDim, bits, LshSeed + t)): _*)
          .as("buckets"))
    val n = emb.select($"vec_id".as("neighbor_id"), $"buckets")
      .select($"neighbor_id", posexplode($"buckets").as(Seq("t", "bucket")))
    val q = emb.filter($"vec_id" < 50).select($"vec_id".as("query_id"), $"buckets")
      .select($"query_id", posexplode($"buckets").as(Seq("t", "bucket")))
    // distinct BEFORE scoring: a pair co-located in several tables must
    // rank exactly once
    val cand = broadcast(q).join(n, Seq("t", "bucket"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id").distinct()
    val vecs = emb.select($"vec_id", $"embedding", $"nrm")
    val approx = top3ByCos(cosineScored(cand
      .join(vecs.select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn")),
        Seq("query_id"))
      .join(vecs.select($"vec_id".as("neighbor_id"), $"embedding".as("ne"), $"nrm".as("nn")),
        Seq("neighbor_id"))))
    hitsAt3(approx, exactTruthTop3(s, dir, col("vec_id") < 50))
  }

  private val IvfCentroids = 16

  /** IVF query band [lo, hi). 100 queries, not 10: with 3 truth slots per
    * query the rung-vs-rung comparison (trained vs training-free codebook)
    * is read off ~300 integer hits — at 10 queries the 30-hit sample
    * flipped the ordering by noise (measured: trained 0.6 vs 1.1 on
    * [100,110) but 1.38 vs 0.99 on [100,200) at sf0.1). */
  private val IvfQLo = 100
  private val IvfQHi = 200
  private val IvfProbe = 2

  /** IVF-style ANN: a coarse quantizer partitions vectors into centroid
    * cells; a query probes only its `IvfProbe` nearest cells. The
    * "codebook" here is training-free (the first K vectors serve as
    * centroids — deterministic and oracle-replayable); a real deployment
    * swaps in k-means centroids without changing the plan shape:
    * assignment and probing are broadcast joins + bounded top-k
    * aggregates, and the candidate set shrinks from N to N·probe/K. */
  private val annIvf: Q = (s, dir) => {
    import s.implicits._
    val emb = spread(Tables(s, dir, "embeddings"))
      .select($"vec_id", $"embedding", Vectors.fnorm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" < IvfCentroids)
      .select($"vec_id".as("cent_id"), $"embedding".as("ce"), $"nrm".as("cn"))
    // nearest-cell pick as the bounded top-k aggregate (r18, guide §2.3;
    // order contract in exactTruthTop3's doc) — the n·centroids crossed
    // rows collapse map-side instead of shuffling+sorting per vector
    def nearestCents(df: DataFrame, idCol: String, vecCol: String,
        nCol: String, keep: Int): DataFrame =
      topK(df.join(broadcast(cents), col(idCol) =!= lit(-1))
        .select(col(idCol),
          Vectors.cosinePrenormed(Vectors.fdot(col(vecCol), $"ce"), col(nCol), $"cn")
            .as("ccos"),
          $"cent_id"), idCol, "ccos", "cent_id", keep)
    val assigned = nearestCents(emb, "vec_id", "embedding", "nrm", 1)
    val q = emb.filter($"vec_id" >= IvfQLo && $"vec_id" < IvfQHi)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    val probes = nearestCents(
      q.withColumnRenamed("query_id", "vec_id"), "vec_id", "qe", "qn", IvfProbe)
      .withColumnRenamed("vec_id", "query_id")
    val cand = probes
      .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("cent_id"))
      .join(emb.select($"vec_id".as("neighbor_id"), $"embedding".as("ne"), $"nrm".as("nn")),
        Seq("neighbor_id"))
      .join(q.select($"query_id", $"qe", $"qn"), Seq("query_id"))
      .filter($"query_id" =!= $"neighbor_id")
    topKRanked(cosineScored(cand), "cos", 3)
      .orderBy($"query_id", $"rank")
  }

  private val IvfTrainIters = 2

  /** Probe-and-score against a trained codebook: assign the quantized
    * corpus `q` to `cents`, probe each query's IvfProbe nearest cells,
    * rank candidates by integer cosine → (query_id, rank, neighbor_id).
    * Shared by [[annIvfTrained]] and both rungs of [[annIvfDrift]] —
    * broadcast codebook, bounded top-k aggregates, candidates shrink to
    * n·probe/k. */
  private def trainedProbeTop3(s: SparkSession, q: DataFrame,
      cents: DataFrame, queriesPred: org.apache.spark.sql.Column): DataFrame = {
    import s.implicits._
    import graft.operators.KMeans
    val queries = q.filter(queriesPred)
      .select($"id".as("query_id"), $"qv".as("qq"))
    // final rank is a bounded top-k aggregate, not a window (r18, guide
    // §2.3 — same order contract as exactTruthTop3)
    topKRanked(ivfCandidates(q, cents, queries)
      .join(q.select($"id".as("neighbor_id"), $"qv".as("nq")), Seq("neighbor_id"))
      .join(queries, Seq("query_id"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", KMeans.icos($"qq", $"nq").as("cos"), $"neighbor_id"), "cos", 3)
  }

  /** (cent_id, query_id, neighbor_id): each of `queries`' (query_id, qq)
    * probes its [[IvfProbe]] nearest cells of the trained codebook `cents`
    * (integer cosine, bounded top-k pick — the candidate rows collapse
    * map-side instead of shuffling+sorting per query), and every vector of
    * the quantized corpus `q` assigned to a probed cell is a candidate.
    * The coarse stage of [[trainedProbeTop3]] and [[annIvfPqRecall]]. */
  private def ivfCandidates(q: DataFrame, cents: DataFrame, queries: DataFrame): DataFrame = {
    import q.sparkSession.implicits._
    import graft.operators.KMeans
    val assigned = KMeans.assign(q, cents)
    val probes = topK(queries.crossJoin(broadcast(cents))
      .select($"query_id", KMeans.icos($"qq", $"cvec").as("pcos"), $"cent_id"),
      "query_id", "pcos", "cent_id", IvfProbe)
    probes.join(assigned.select($"id".as("neighbor_id"), $"cent_id"), Seq("cent_id"))
  }

  /** IVF with TRAINED centroids — [[graft.operators.KMeans]] (2 Lloyd
    * iterations, deterministic integer-sum centroids) replaces annIvf's
    * training-free first-K codebook; assignment/probing/scoring all run
    * over the quantized vectors so the DuckDB oracle replays the ENTIRE
    * training loop (unrolled CTEs) bit-for-bit. Same plan shape as
    * ann_ivf: broadcast codebook, bounded top-k aggregates, candidates
    * shrink to n·probe/k. */
  private val annIvfTrained: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.KMeans
    val emb = spread(Tables(s, dir, "embeddings"))
    val cents = KMeans.fit(emb, "vec_id", "embedding", IvfCentroids, IvfTrainIters)
    val q = emb.select($"vec_id".as("id"), KMeans.quantize($"embedding").as("qv"))
    trainedProbeTop3(s, q, cents, $"id" >= IvfQLo && $"id" < IvfQHi)
      .orderBy($"query_id", $"rank")
  }

  /** Drift-query band width: queries drawn from the APPENDED cohort
    * (ids ≥ split), where a frozen codebook's age shows first. 100, not
    * 50 — the same sample-size lesson as [[IvfQLo]]/[[IvfQHi]]: at 150
    * hit slots the frozen-vs-fresh ordering can flip on 3 hits of noise
    * (measured at the sf1 decade); 300 slots reads the signal. */
  private val DriftQ = 100

  /** CODEBOOK-DRIFT recall rung (VERDICT r8 #5) — the retrain trigger a
    * 100 TB index needs: [[annIvfIncremental]] monitors occupancy drift,
    * this key measures what that drift COSTS. Two codebooks over one
    * corpus: FROZEN (trained on the existing ¾-prefix, the codebook a
    * daily-append index actually serves) and FRESH (retrained on
    * everything, what a rebuild would buy). Both assign the full corpus
    * and probe the same query band drawn from the appended cohort — the
    * region the frozen codebook never saw — and both are graded as exact
    * integer hits@3 against the shared float-exact truth
    * ([[exactTruthTop3]]). A pipeline reads `avg(fresh) − avg(frozen)`
    * as the recall a retrain would recover and schedules the rebuild
    * when it exceeds the SLA. Cost: two linear trains + two broadcast
    * probe/score passes — flat in index size beyond the corpus scan;
    * decade-measured (PERF.md r9). */
  private val annIvfDrift: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.KMeans
    fenceBruteForce("ann_ivf_drift", s, dir) // float-exact truth side full-scans
    val split = 3L * corpusCount(s, dir) / 4L
    val emb = spread(Tables(s, dir, "embeddings"))
    val q = emb.select($"vec_id".as("id"), KMeans.quantize($"embedding").as("qv"))
    // the two trainings are independent — overlap their barrier chains
    // (r18, guide §2.6 via concurrently)
    val (frozen, fresh) = concurrently(
      KMeans.fit(emb.filter($"vec_id" < split), "vec_id", "embedding",
        IvfCentroids, IvfTrainIters),
      KMeans.fit(emb, "vec_id", "embedding", IvfCentroids, IvfTrainIters))
    val pred = $"id" >= split && $"id" < split + DriftQ
    val approx =
      trainedProbeTop3(s, q, frozen, pred).withColumn("method", lit("frozen"))
        .unionByName(
          trainedProbeTop3(s, q, fresh, pred).withColumn("method", lit("fresh")))
        .select($"method", $"query_id", $"neighbor_id")
    hitsAt3(approx,
      exactTruthTop3(s, dir, col("vec_id") >= split && col("vec_id") < split + DriftQ),
      Seq("method", "query_id"))
  }

  /** INCREMENTAL IVF index maintenance — the mode a 100 TB index actually
    * lives in: the codebook is trained ONCE on the existing corpus (here
    * the first ¾ by id — appends arrive with higher ids) and FROZEN;
    * daily arrivals are assigned against it without retraining, because
    * retraining re-shuffles every stored vector's cell and forces a full
    * index rebuild. Output is the per-cell occupancy split by cohort —
    * exactly what a drift monitor reads to decide when the frozen
    * codebook has aged out (new data piling into few cells) and a
    * scheduled retrain is worth the rebuild. Assignment of the increment
    * is a broadcast join + argmax aggregate over ONLY the new rows — O(new ·
    * k), independent of index size. The DuckDB oracle replays the whole
    * thing: prefix-only Lloyd training, frozen-codebook assignment of all
    * rows, exact integer cohort counts. */
  private val annIvfIncremental: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.KMeans
    val split = 3L * corpusCount(s, dir) / 4L
    val emb = spread(Tables(s, dir, "embeddings"))
    val cents = KMeans.fit(emb.filter($"vec_id" < split), "vec_id", "embedding",
      IvfCentroids, IvfTrainIters)
    val q = emb.select($"vec_id".as("id"), KMeans.quantize($"embedding").as("qv"))
    KMeans.assign(q, cents)
      .groupBy($"cent_id")
      .agg(
        sum(when($"id" < split, 1L).otherwise(0L)).as("n_existing"),
        sum(when($"id" >= split, 1L).otherwise(0L)).as("n_incremental"))
      .orderBy($"cent_id")
  }

  private val ProjDim = 16
  private val ProjSeed = 977

  /** Johnson–Lindenstrauss random projection — seeded dimensionality
    * reduction 64 → 16 dims for the embedding column: y_j = Σ_i x_i·R_ij
    * with R's entries the SAME md5-derived [-1, 1] pseudo-random values
    * as the LSH hyperplanes (`HashSketch.plane`), so the DuckDB oracle
    * re-derives the full projection matrix and every output double
    * bit-for-bit (fused one-pass dots, sequential fold order on both
    * engines). This is the standard pre-ANN shrink at scale: 4× less
    * vector IO for distance work that JL bounds say survives projection —
    * SimilarityScaleSpec measures the survival (cosine correlation
    * original vs projected) rather than assuming it.
    *
    * Output shape is SCALAR rows (vec_id, j, value), one per projected
    * component — the harness's canonical sort can't grade array cells
    * (VERDICT r8 #1), and posexplode of the fused 16-dot Project stays a
    * single narrow codegen'd stage with no shuffle. */
  private val embRandomProjection: Q = (s, dir) => {
    import s.implicits._
    val emb = spread(Tables(s, dir, "embeddings"))
    emb.select($"vec_id",
      posexplode(array((0 until ProjDim).map(j =>
        graft.functions.HashExpr.floatDotWeights($"embedding",
          graft.functions.HashSketch.plane(EmbDim, ProjSeed * 1000 + j))): _*)))
      .select($"vec_id", $"pos".cast("long").as("j"), $"col".as("value"))
      .orderBy($"vec_id", $"j")
  }

  /** (query_id, neighbor_id, cos) of the first 10 vectors of `t` against
    * every other row, by the plain cosine of the vector expression `vec` —
    * the full scan both sides of the q8 and matryoshka rungs rank. */
  private def first10Cosine(t: DataFrame, vec: org.apache.spark.sql.Column): DataFrame =
    broadcast(t.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), vec.as("qv")))
      .join(t.select(col("vec_id").as("neighbor_id"), vec.as("nv")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("qv"), col("nv")).as("cos"))

  /** Matryoshka (truncated-dimension) recall rung — the storage/compute
    * half-step between full vectors and PQ codes (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022): score with only
    * the FIRST d components of each embedding (d = 16 and 32 of 64) and
    * measure hits@3 against the full-dimension exact truth. A serving
    * stack uses the truncated prefix for the cheap first pass (4×/2× less
    * memory bandwidth) and re-ranks survivors at full width; this rung is
    * the measured recall cost of that truncation on THIS corpus, next to
    * [[annQ8Recall]] (quantization) and [[annPqRecall]] (codebooks).
    * Same fenced brute-force measurement class as the other rungs. */
  private val annMatryoshkaRecall: Q = (s, dir) => {
    import s.implicits._
    fenceBruteForce("ann_matryoshka_recall", s, dir)
    val emb = spread(Tables(s, dir, "embeddings")).select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("fe"))
    val truth = top3ByCos(first10Cosine(emb, $"fe")).withColumn("hit", lit(1))
    def hits(d: Int, name: String): DataFrame =
      hitsAt3(top3ByCos(first10Cosine(emb, slice($"fe", 1, d))), truth)
        .withColumnRenamed("hits_at_3", name)
    hits(16, "hits16_at_3")
      .join(hits(32, "hits32_at_3"), Seq("query_id"))
      .orderBy($"query_id")
  }

  /** Int8 symmetric quantization — the embedding STORAGE path at 100 TB:
    * per-vector scale = max |component|, q_i = round(v_i·127/scale), 4×
    * smaller at rest, dequantize on read. This key measures what the
    * compression costs: top-3 neighbors ranked over dequantized vectors
    * vs exact float truth, per query, as oracle-checked integers — the
    * same exact-integer recall contract as [[annRecallAtK]]. All
    * arithmetic (round-half-up, fold order, division tree) is mirrored
    * token-for-token by the DuckDB replay. */
  private val annQ8Recall: Q = (s, dir) => {
    import s.implicits._
    fenceBruteForce("ann_q8_recall", s, dir) // both sides scan the corpus per query
    val emb = spread(Tables(s, dir, "embeddings")).select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("fe"))
    // a REAL array<tinyint> roundtrip — the stored form is bytes, not a
    // simulated rounding (exact over the int lattice, see Vectors.q8*)
    val deq = emb.select($"vec_id", $"fe", Vectors.q8Scale($"fe").as("scale"))
      .select($"vec_id",
        Vectors.q8Dequantize(Vectors.q8Quantize($"fe", $"scale"), $"scale").as("qe"))
    hitsAt3(top3ByCos(first10Cosine(deq, $"qe")),
      top3ByCos(first10Cosine(emb, $"fe")).withColumn("hit", lit(1)))
  }

  private val PqSub = 8 // subspaces (EmbDim / PqSubDim)
  private val PqSubDim = 8 // dims per subspace
  private val PqK = 16 // centroids per subspace codebook

  /** Shared PQ machinery: subvector rows, trained subspace codebooks, the
    * stored code index (8 codes per vector in j order), and the per-query
    * ADC lookup table for queries with id < 10 — used by both the
    * full-scan rung ([[annPqRecall]]) and the IVF-pruned composition
    * ([[annIvfPqRecall]]). */
  private def pqParts(s: SparkSession, q: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    import graft.operators.KMeans
    val sub = q.select($"id", explode(array((0 until PqSub).map(j =>
        struct(lit(j).as("j"), slice($"qv", j * PqSubDim + 1, PqSubDim).as("qv"))): _*))
        .as("s"))
      .select($"id", $"s.j".as("j"), $"s.qv".as("qv"))
    val cents = KMeans.fitSub(sub, PqK, IvfTrainIters)
    val codesArr = KMeans.assignSub(sub, cents)
      .groupBy($"id")
      .agg(transform(array_sort(collect_list(struct($"j", $"cent_id"))),
        x => x("cent_id")).as("codes"))
    val lutArr = sub.filter($"id" < 10)
      .join(broadcast(cents), Seq("j"))
      .select($"id".as("query_id"), $"j", $"cent_id",
        (KMeans.idot($"qv", $"cvec") / $"n_members").as("pdot"))
      .groupBy($"query_id")
      .agg(transform(array_sort(collect_list(struct($"j", $"cent_id", $"pdot"))),
        x => x("pdot")).as("lut"))
    (codesArr, lutArr)
  }

  /** ADC score: sequential left-to-right fold over the candidate's codes
    * against the query's LUT — identical fold order to the oracle's
    * list_sum comprehension, so doubles match bit-for-bit.
    * UNROLLED over the constant 0..PqSub-1 range (r18, guide §4/codegen):
    * the `aggregate(sequence(...))` HOF form is CodegenFallback —
    * interpreted per candidate row, the ADC hot loop at index scale. A
    * static 8-term sum is whole-stage-codegen-friendly and associates
    * left-to-right exactly like the fold: ((((0.0+t₀)+t₁)+…)+t₇). */
  private def adcScore(codes: org.apache.spark.sql.Column,
      lut: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until PqSub).foldLeft(lit(0.0)) { (acc, j) =>
      acc + element_at(lut,
        (lit(j * PqK) + element_at(codes, j + 1).cast("int") + 1))
    }

  /** hits@3 of the ADC-`score`d (query_id, neighbor_id) candidates of the
    * two PQ rungs against the float-exact truth of queries id < 10. */
  private def pqHitsAt3(s: SparkSession, dir: String,
      scored: DataFrame): DataFrame =
    hitsAt3(topK(scored, "query_id", "score", "neighbor_id", 3),
      exactTruthTop3(s, dir, col("vec_id") < 10))

  /** PRODUCT QUANTIZATION recall rung — the fourth member of the
    * compressed-storage family (q8 scalar quantization, JL projection,
    * IVF cells, now PQ): each vector is stored as [[PqSub]] one-byte
    * codes (64× smaller than float32 at rest), one codebook per
    * subspace, and queries score candidates with ASYMMETRIC DISTANCE
    * COMPUTATION — a per-query lookup table of subspace
    * dot-products-to-centroid-means, folded left-to-right over the
    * candidate's codes. This is the storage layout a 10⁹-vector index
    * actually serves from (IVF prunes candidates, PQ pays their memory),
    * measured here the same way as [[annQ8Recall]]: top-3 over the
    * compressed representation vs float-exact cosine truth, per query,
    * as oracle-checked integers.
    *
    * Determinism: all 8 codebooks train in ONE shared job set
    * ([[KMeans.fitSub]] — exact BIGINT sums); LUT values are
    * `idot(q_j, cvec_j) / n_members` with identical operand order on
    * both engines; and the ADC sum is a SEQUENTIAL expression fold over
    * j (never a groupBy SUM of doubles, whose partial-agg order would
    * differ between engines). */
  private val annPqRecall: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.KMeans
    fenceBruteForce("ann_pq_recall", s, dir) // truth side full-scans per query
    val emb = spread(Tables(s, dir, "embeddings"))
    val q = emb.select($"vec_id".as("id"), KMeans.quantize($"embedding").as("qv"))
    val (codesArr, lutArr) = pqParts(s, q)
    val scored = codesArr.select($"id".as("neighbor_id"), $"codes")
      .crossJoin(broadcast(lutArr))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("score", adcScore($"codes", $"lut"))
    pqHitsAt3(s, dir, scored)
  }

  /** IVF-PQ — the COMPOSED serving stack a 10⁹-vector index runs: the
    * coarse trained quantizer prunes each query to its [[IvfProbe]]
    * nearest cells (candidates shrink to n·probe/k), and only those
    * members are ADC-scored over their 8-byte PQ codes. Memory per
    * candidate is the code, not the vector; work per query is
    * probe-bounded, not corpus-bounded. Graded against the same
    * float-exact truth and query band as [[annPqRecall]], so the
    * delta between the two keys IS the recall cost of IVF pruning on
    * top of PQ compression — the two knobs a deployment tunes
    * independently. Every stage replays in the oracle: the full-dim
    * coarse Lloyd chain, the 8 subspace chains, probe selection, and
    * the pruned ADC fold. */
  private val annIvfPqRecall: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.KMeans
    fenceBruteForce("ann_ivfpq_recall", s, dir) // truth side full-scans per query
    val emb = spread(Tables(s, dir, "embeddings"))
    val q = emb.select($"vec_id".as("id"), KMeans.quantize($"embedding").as("qv"))
    // the coarse quantizer and the 8 subspace codebooks train
    // independently — overlap their barrier chains (r18, guide §2.6)
    val (coarse, pq) = concurrently(
      KMeans.fit(emb, "vec_id", "embedding", IvfCentroids, IvfTrainIters),
      pqParts(s, q))
    val (codesArr, lutArr) = pq
    val queries = q.filter($"id" < 10).select($"id".as("query_id"), $"qv".as("qq"))
    val scored = ivfCandidates(q, coarse, queries)
      .join(codesArr.select($"id".as("neighbor_id"), $"codes"), Seq("neighbor_id"))
      .join(broadcast(lutArr), Seq("query_id"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("score", adcScore($"codes", $"lut"))
    pqHitsAt3(s, dir, scored)
  }

  /** Multi-probe LSH candidate pairs with their cosine score — the pair
    * generator [[dedupSemantic]] and [[dedupThresholdSweep]] share: each
    * unordered pair is found EXACTLY once (x's probe ring contains y's
    * home bucket iff the buckets are equal or 1 bit apart, and
    * `vec_a < vec_b` fixes the orientation), so downstream counts need no
    * dedup. */
  private def semanticScoredPairs(s: SparkSession, dir: String,
      probeKey: String): DataFrame = {
    import s.implicits._
    val bits = lshBits(s, dir)
    val emb = lshEmbeddings(s, dir, bits)
    val a = emb.select($"vec_id".as("vec_a"), $"embedding".as("ea"), $"nrm".as("na"),
      probeRing($"bucket", bits, 1).as("bucket"))
    val b = emb.select($"vec_id".as("vec_b"), $"embedding".as("eb"), $"bucket", $"nrm".as("nb"))
    probePairs(
        a.hint("shuffle_hash").join(b, Seq("bucket")).filter($"vec_a" < $"vec_b"),
        probeKey)
      .withColumn("cos", pairCos)
      .select($"vec_a", $"vec_b", $"cos")
  }

  /** SEMANTIC dedup end to end — the composition a 100 TB training
    * pipeline actually runs: LSH-bucketed candidate pairs (never all-pairs;
    * candidates shrink to same-bucket plus the hamming-1 probe ring),
    * cosine-threshold verification, and connected components to turn pairs
    * into duplicate GROUPS with a canonical (min-id) representative to
    * keep. Pair generation is MULTI-PROBE ([[annLshMultiprobe]]'s ring):
    * one hyperplane sign flip would otherwise hide a true near-dup pair in
    * adjacent buckets, and a dedup pipeline can't re-query what it missed.
    * A pair (x,y) is found exactly once — x's probe list contains y's home
    * bucket iff the buckets are equal or differ by one bit, a symmetric
    * relation, and `vec_a < vec_b` picks the single orientation. Cost is
    * (bits+1)·bucket per row — still linear in corpus size.
    * Every stage is the already-proven scale path; this key proves they
    * COMPOSE, oracle-replayed including the recursive-CTE components. */
  private val dedupSemantic: Q = (s, dir) => {
    import s.implicits._
    val pairs = semanticScoredPairs(s, dir, "dedup_semantic")
      .filter($"cos" >= SemanticT)
      .select($"vec_a".as("src"), $"vec_b".as("dst"))
    // semantic graphs can still chain; keep propagation headroom over the
    // default cap (pointer jumping needs O(log diameter) rounds)
    graft.operators.Components.connectedComponents(pairs, maxIterations = 60)
      .select($"id".as("vec_id"), $"component".as("group_id"))
      .withColumn("is_canonical", $"vec_id" === $"group_id")
      .orderBy($"vec_id")
  }

  /** Threshold values for [[dedupThresholdSweep]] (cosine × 100) —
    * bracketing the corpus's near-dup operating point ([[SemanticT]] =
    * 0.45; the synthetic embeddings' similarity tops out ~0.51, so a
    * real-embedding 0.9-ish band would sweep nothing here). */
  private val SweepTs = Seq(30, 35, 40, 45, 48, 50)

  /** Threshold SWEEP — the tuning rung the semantic-dedup family needs
    * before anyone picks [[SemanticT]]: for each candidate threshold, how
    * many pairs would qualify and how many vectors would be touched. One
    * pass over the SAME multi-probe candidate set the production key
    * scores (pairs generated once, thresholds exploded over them — cost
    * is candidates × |thresholds| comparisons, not |thresholds| re-runs
    * of the pair join), aggregated to one integer row per threshold.
    * This is how the dedup aggressiveness/recall knob actually gets set
    * on a new corpus: run the sweep at a sampled scale, read the curve,
    * pin the threshold. */
  private val dedupThresholdSweep: Q = (s, dir) => {
    import s.implicits._
    val scored = semanticScoredPairs(s, dir, "dedup_threshold_sweep")
    scored.select($"vec_a", $"vec_b", $"cos",
        explode(lit(SweepTs.toArray)).as("threshold_pct"))
      .filter($"cos" * 100 >= $"threshold_pct")
      .select($"threshold_pct", explode(array($"vec_a", $"vec_b")).as("id"))
      .groupBy($"threshold_pct")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct($"id").as("n_docs_affected"))
      .orderBy($"threshold_pct")
  }

  /** SemDeDup — cluster-then-prune semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540, public): k-means clusters the corpus, then any
    * WITHIN-CLUSTER pair above the cosine threshold drops the member
    * CLOSER to its centroid — the paper's keep-the-outlier rule, which
    * preserves cluster diversity where min-id keeps would collapse it.
    * Deterministic end to end: the integer-exact Lloyd chain
    * ([[graft.operators.KMeans]]), the fold-order-pinned icos comparisons,
    * and a (closer-centroid, then lower-id) pairwise drop rule.
    *
    * Scale shape — FIXED-k training + LSH-refined cells. The paper's own
    * bottleneck is k-means with k growing in n (assignment is n·k·d ⇒
    * quadratic; an earlier k-ladder draft of this operator measured 23×
    * for 10× vectors at sf10). Instead the codebook stays at
    * [[IvfCentroids]] (training/assignment LINEAR in n) and each
    * semantic cell is REFINED by the first (bits − log2 k) hyperplane-LSH
    * bits — the same per-bit seeds as the ANN family, so the ladder pins
    * E[cell] ≈ [[LshTargetBucket]] at any n without the codebook growing.
    * Pair work stays O(n · target); the prune rule still scores against
    * the SEMANTIC centroid, so the paper's keep-the-outlier semantics
    * are untouched — the refinement only bounds candidate generation. */
  private val dedupSemdedup: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.KMeans
    val emb = spread(Tables(s, dir, "embeddings"))
    val bits = lshBits(s, dir)
    val subBits = math.max(0, bits - 4) // log2(IvfCentroids) = 4
    val q = emb.select($"vec_id".as("id"), KMeans.quantize($"embedding").as("qv"),
      substring(Vectors.hyperplaneBucket($"embedding", EmbDim, bits, LshSeed),
        1, subBits).as("sub"))
    val cents = KMeans.fit(emb, "vec_id", "embedding", IvfCentroids, IvfTrainIters)
    val withC = KMeans.assign(q.select($"id", $"qv"), cents)
      .join(q, Seq("id"))
      .join(cents, Seq("cent_id"))
      .select($"id", concat($"cent_id", lit("_"), $"sub").as("cell"),
        $"qv", KMeans.icos($"qv", $"cvec").as("cosc"))
    val a = withC.select($"cell", $"id".as("va"), $"qv".as("qa"), $"cosc".as("ca"))
    val b = withC.select($"cell", $"id".as("vb"), $"qv".as("qb"), $"cosc".as("cb"))
    val pairs = probePairs(
      a.hint("shuffle_hash").join(b, Seq("cell")).filter($"va" =!= $"vb"),
      "dedup_semdedup")
      .filter(KMeans.icos($"qa", $"qb") >= SemanticT)
    val verdict = pairs.groupBy($"va".as("id"))
      .agg(count(lit(1)).as("n_similar"),
        max(when($"cb" < $"ca" || ($"cb" === $"ca" && $"vb" < $"va"), 1)
          .otherwise(0)).as("drop_flag"))
    withC.select($"id", $"cell")
      .join(verdict, Seq("id"), "left")
      .select($"id".as("vec_id"), $"cell".as("cluster_id"),
        coalesce($"n_similar", lit(0L)).as("n_similar"),
        (coalesce($"drop_flag", lit(0)) === 0).as("is_kept"))
      // semantically always true, but an OPTIMIZER BARRIER: a bare
      // count() over this output would otherwise eliminate the left join
      // against the verdict aggregate (unique keys, no referenced
      // columns) and silently skip the entire pair stage — making both
      // the fused pair probe and any count-driven benchmark measure a
      // query that never ran its pruning work
      .filter($"n_similar" >= 0)
      .orderBy($"vec_id")
  }

  /** INCREMENTAL semantic dedup — the dedup operation a daily ingest
    * actually runs at 100 TB: match only the APPENDED vectors (the newest
    * quarter by id, same prefix convention as [[annIvfIncremental]])
    * against the EXISTING corpus, never existing-vs-existing (that work
    * was already paid on previous days). The incoming side multi-probes
    * (home bucket + hamming-1 ring) against the index side's home buckets
    * — one-sided probing is pair-complete for the ≤1-bit-apart relation —
    * so cost is O(new · (bits+1) · bucket), independent of index size
    * beyond the bucket constant. Output is the per-newcomer verdict a
    * pipeline consumes: min matched existing id (NULL = genuinely new
    * content) + match count. Oracle replays buckets, probe ring, cosine
    * threshold, and the left-join verdict bit-for-bit. */
  private val dedupSemanticIncremental: Q = (s, dir) => {
    import s.implicits._
    val bits = lshBits(s, dir)
    val split = 3L * corpusCount(s, dir) / 4L
    val existing = lshEmbeddings(s, dir, bits).filter($"vec_id" < split)
      .select($"vec_id".as("dup_of"), $"embedding".as("eb"), $"bucket", $"nrm".as("nb"))
    semanticNewcomers(s, dir, split, bits, existing)
  }

  /** The one-sided multi-probe both incremental embedding keys share: the
    * newcomers (vec_id ≥ `split`, bucketed at `bits`) probe home +
    * hamming-1 ring against the (dup_of, eb, bucket, nb) `index`, matches
    * verify by cosine ≥ [[SemanticT]], and the verdict is
    * [[newcomerVerdict]]'s. */
  private def semanticNewcomers(s: SparkSession, dir: String, split: Long, bits: Int,
      index: DataFrame): DataFrame = {
    import s.implicits._
    val newcomers = lshEmbeddings(s, dir, bits).filter($"vec_id" >= split)
    val incoming = newcomers
      .select($"vec_id".as("new_id"), $"embedding".as("ea"), $"nrm".as("na"),
        probeRing($"bucket", bits, 1).as("bucket"))
    val matches = incoming.hint("shuffle_hash").join(index, Seq("bucket"))
      .filter(pairCos >= SemanticT)
    newcomerVerdict(newcomers.select($"vec_id".as("new_id")), matches)
  }

  /** Recall@3 of the two approximate ANN paths against brute-force ground
    * truth (VERDICT r3 item 7) — grades APPROXIMATION QUALITY, not just
    * determinism. One row per (method, query): `hits_at_3` ∈ {0..3} exact
    * integers, oracle-replayable. A bucketing regression that tanks recall
    * now flips integer counts and fails the hash compare. */
  private val annRecallAtK: Q = (s, dir) => {
    import s.implicits._
    fenceBruteForce("ann_recall_at_k", s, dir) // exact-truth side is a full scan
    val approx = annLshBucket(s, dir).withColumn("method", lit("lsh"))
      .unionByName(annLshMultiprobe(s, dir).withColumn("method", lit("lsh_mp")))
      .unionByName(annIvf(s, dir).withColumn("method", lit("ivf")))
      // the TRAINED codebook rung (VERDICT r6 #3): same query set and
      // probe count as 'ivf', so the two rows answer "did training the
      // quantizer buy recall over the first-K stand-in?" — graded against
      // the same float-exact truth (the trained path ranks over q8-style
      // integer vectors; approximation error is exactly what's measured)
      .unionByName(annIvfTrained(s, dir).withColumn("method", lit("ivf_trained")))
      .select($"method", $"query_id", $"neighbor_id")
    hitsAt3(approx,
      exactTruthTop3(s, dir,
        col("vec_id") < 50 || (col("vec_id") >= IvfQLo && col("vec_id") < IvfQHi)),
      Seq("method", "query_id"))
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles — each replays the SAME md5-based algorithm in SQL.
  // ---------------------------------------------------------------------

  /** doc_id + distinct 3-gram shingle list, as a DuckDB CTE body.
    *
    * MATERIALIZED (here and on the `pairs`/`edges` CTEs below — VERDICT
    * r11 #4): DuckDB inlines plain CTEs per consumer, so the quadratic
    * exact-pair verify re-executed once per reference — and once per
    * RECURSION STEP when consumed inside `reach` — blowing the 120 s/key
    * replay budget at zipf0.1 (dedup_components needed a 1276 s pass).
    * The hint pins one execution; it changes replay cost only, never the
    * result. */
  private[queries] val shinglesCte =
    raw"""toks AS (SELECT doc_id,
         |  regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') t
         |  FROM documents),
         |shd AS MATERIALIZED (SELECT doc_id, list_distinct(CASE WHEN len(t) < $ShingleN
         |  THEN [array_to_string(t, ' ')]
         |  ELSE [array_to_string(t[i:i+${ShingleN - 1}], ' ') FOR i IN range(1, len(t) - ${ShingleN - 2})] END) sh
         |  FROM toks)""".stripMargin

  /** 60-bit md5 hash — DuckDB twin of Vectors.hash60. */
  private def hash60Sql(x: String): String =
    s"CAST(CONCAT('0x', SUBSTR(md5($x), 1, 15)) AS BIGINT)"

  /** [[shinglesCte]] + hashed shingle sets for the exact-Jaccard verify:
    * intersecting BIGINT lists is ~4× cheaper than 15-char string lists
    * and the replay is quadratic in candidate count, so the constant IS
    * the budget (VERDICT r11 #4). list_distinct keeps set semantics; a
    * 60-bit collision would surface as a FAIL, never a silent pass.
    * Kept OUT of [[shinglesCte]] because DuckDB 1.0 executes unused
    * MATERIALIZED CTEs — only the verify-bearing oracles pay for it. */
  private[queries] val shinglesHashCte =
    s"""$shinglesCte,
       |shh AS MATERIALIZED (SELECT doc_id,
       |  list_distinct([${hash60Sql("s")} FOR s IN sh]) hs FROM shd)""".stripMargin

  /** MinHash signature → band CTEs over `shh` (REQUIRES
    * [[shinglesHashCte]] upstream) — shared by every minhash-based
    * oracle; candidate generation differs per key (all-pairs banding vs
    * one-sided incremental probing) and composes on top.
    *
    * Derived from the HASHED shingle list, not the strings (r16): the
    * old form re-ran `md5(s)` inside BOTH comprehensions — 32·|sh| md5
    * calls per doc, which priced the skew-corpus replays out of reach
    * (2.5·10⁹ md5s at skew10). `shh` holds the identical hash values
    * computed once, and min over the DISTINCT list equals min over the
    * multiset, so every signature (and band string) is bit-identical. */
  private val minhashSigBandCtes =
    s"""sig AS (SELECT doc_id,
       |  [list_min([((1 + ${hash60Sql("CONCAT('a', p)")} % ${HashSketch.MinHashPrime - 1})
       |              * (h % ${HashSketch.MinHashPrime})
       |              + ${hash60Sql("CONCAT('b', p)")} % ${HashSketch.MinHashPrime})
       |             % ${HashSketch.MinHashPrime} FOR h IN hs]) FOR p IN range(0, $Perms)] sig
       |  FROM shh),
       |bands AS (SELECT doc_id,
       |  unnest([CONCAT(b, ':', array_to_string(sig[4*b+1 : 4*b+4], '_')) FOR b IN range(0, $Bands)]) band
       |  FROM sig)""".stripMargin

  /** MinHash signature → band → distinct candidate pairs, as CTEs over
    * `shd` — shared by the three batch minhash-based oracles. */
  private[queries] val minhashCandCtes =
    s"""$minhashSigBandCtes,
       |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin

  /** Hot-band-capped candidate pairs ([[minhashVerifiedPairsCapped]]):
    * buckets ≤ [[BandDfCap]] pair fully; hot-bucket docs pair only on
    * identical full signatures. Replays the twin bit-for-bit. */
  private[queries] val cappedCandCtes =
    s"""$minhashSigBandCtes,
       |bc AS (SELECT band, COUNT(*) AS c FROM bands GROUP BY band),
       |bd AS (SELECT b.doc_id, b.band, bc.c FROM bands b JOIN bc USING (band)),
       |sk AS (SELECT doc_id, array_to_string(sig, '_') AS sigkey FROM sig),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM bd a JOIN bd b ON a.band = b.band AND a.doc_id < b.doc_id
       |    WHERE a.c <= $BandDfCap
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id
       |    FROM bd a JOIN bd b ON a.band = b.band AND a.doc_id < b.doc_id
       |    JOIN sk x ON x.doc_id = a.doc_id
       |    JOIN sk y ON y.doc_id = b.doc_id
       |    WHERE a.c > $BandDfCap AND x.sigkey = y.sigkey))""".stripMargin

  /** Exact-Jaccard pair set (doc_a, doc_b only) over a named candidate
    * CTE — the jaccardVerifySql arithmetic, reusable where two candidate
    * sets must verify in one oracle (the recall key). */
  private def verifiedPairsSql(cand: String): String =
    s"""SELECT doc_a, doc_b FROM (
       | SELECT c.doc_a, c.doc_b,
       |  CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |    / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) jaccard
       | FROM $cand c JOIN shh x ON c.doc_a = x.doc_id JOIN shh y ON c.doc_b = y.doc_id)
       |WHERE jaccard >= 0.5""".stripMargin

  /** pairs → undirected edges → reachability → min-label components, as
    * CTEs (requires WITH RECURSIVE; expects a `pairs(doc_a, doc_b)` CTE). */
  private val componentsCtes =
    """edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT s AS id, s AS o FROM edges
      |          UNION SELECT r.id, e2.d FROM reach r JOIN edges e2 ON r.o = e2.s),
      |comp AS (SELECT id AS doc_id, MIN(o) AS component_id FROM reach GROUP BY id)""".stripMargin

  private[queries] val jaccardVerifySql =
    """SELECT doc_a, doc_b, jaccard FROM (
      | SELECT c.doc_a, c.doc_b,
      |  CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
      |    / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) jaccard
      | FROM cand c JOIN shh x ON c.doc_a = x.doc_id JOIN shh y ON c.doc_b = y.doc_id)
      |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  private def planeSql(seed: String, i: String): String =
    s"((${hash60Sql(s"CONCAT($seed, '_', $i)")} % 2000001) / 1000000.0 - 1.0)"

  /** Sequential-fold dot product of a double[] with the seed-derived plane. */
  private def planeDotSql(vec: String, seed: String, dim: Int = EmbDim): String =
    s"list_sum([$vec[i + 1] * ${planeSql(seed, "i")} FOR i IN range(0, $dim)])"

  /** CTEs deriving the scale-aware bit count — same integer MIN-over-range
    * ladder as [[lshBitsFor]]. Prepend to any oracle using [[bucketSql]];
    * the `e` CTE must add `, bits` to its FROM. */
  private val bitsCte =
    s"""nb AS (SELECT COUNT(*) n FROM embeddings),
       |bits AS (SELECT COALESCE((SELECT MIN(b)
       |  FROM range($LshBitsMin, ${LshBitsMax + 1}) t(b), nb
       |  WHERE (1::BIGINT << b) * $LshTargetBucket >= nb.n), $LshBitsMax) bits)""".stripMargin

  /** Bucket key over `bits` (a column from [[bitsCte]]) hyperplanes with
    * per-bit seeds `base + b` — replays Vectors.hyperplaneBucket(seed =
    * base/1000). */
  private def bucketSqlAt(vec: String, base: Int): String =
    s"""array_to_string([CASE WHEN ${planeDotSql(vec, s"$base + b")} >= 0
       |  THEN '1' ELSE '0' END FOR b IN range(0, bits)], '')""".stripMargin

  private def bucketSql(vec: String): String = bucketSqlAt(vec, LshSeed * 1000)

  /** Raw inner product — the MIPS score; same sequential fold order as
    * [[graft.functions.Vectors.fdot]], so doubles match exactly. */
  private val dotSql =
    s"list_sum([ea[i + 1] * eb[i + 1] FOR i IN range(0, $EmbDim)])"

  private val cosineSql =
    s"""list_sum([ea[i + 1] * eb[i + 1] FOR i IN range(0, $EmbDim)])
       | / (sqrt(list_sum([ea[i + 1] * ea[i + 1] FOR i IN range(0, $EmbDim)]))
       |    * sqrt(list_sum([eb[i + 1] * eb[i + 1] FOR i IN range(0, $EmbDim)])))""".stripMargin

  /** Single bit-flip of a bucket string at 0-based position `p`. */
  private def flipSql(x: String, p: String): String =
    s"CONCAT(substr($x, 1, $p), CASE substr($x, $p + 1, 1) " +
      s"WHEN '0' THEN '1' ELSE '0' END, substr($x, $p + 2))"

  /** Multi-probe candidate CTEs (own bucket + every hamming-1 bucket),
    * shared by the ann_lsh_multiprobe oracle and the recall gate. */
  private val multiprobeCtes =
    s"""mp_probes AS (SELECT e.vec_id AS query_id, e.emb AS qe,
       |   unnest([e.bucket] || [CONCAT(substr(e.bucket, 1, b),
       |     CASE substr(e.bucket, b + 1, 1) WHEN '0' THEN '1' ELSE '0' END,
       |     substr(e.bucket, b + 2)) FOR b IN range(0, bits.bits)]) AS bucket
       | FROM e, bits WHERE e.vec_id < 50),
       |mp_scored AS (SELECT p.query_id, n.vec_id neighbor_id,
       |   (SELECT $cosineSql FROM (SELECT p.qe ea, n.emb eb)) cos
       |  FROM mp_probes p JOIN e n ON p.bucket = n.bucket AND p.query_id <> n.vec_id)""".stripMargin

  /** Integer dot as double — sequential fold over the same left-to-right
    * order as [[graft.operators.KMeans.idot]], so doubles match exactly. */
  private def idotSql(a: String, b: String, dim: Int = EmbDim): String =
    s"list_sum([CAST($a[i + 1] AS DOUBLE) * CAST($b[i + 1] AS DOUBLE) FOR i IN range(0, $dim)])"

  /** Integer-vector cosine — built from [[idotSql]] folds. */
  private def icosSql(a: String, b: String, dim: Int = EmbDim): String =
    s"""(${idotSql(a, b, dim)}
       | / (sqrt(${idotSql(a, a, dim)})
       |    * sqrt(${idotSql(b, b, dim)})))""".stripMargin

  /** One unrolled Lloyd iteration over CTE `cin` → `<p>c<t>` (replays
    * KMeans.fit/fitSub exactly: rank-1 assignment, exact BIGINT dimension
    * sums, empty clusters carry the previous centroid). `trainQ` names the
    * training-set CTE; `p` prefixes every generated CTE name so several
    * codebooks can train in ONE WITH chain (ann_ivf_drift, ann_pq_recall);
    * `dim` is the vector width; `carryN` additionally carries the exact
    * member count `ncnt` (the `cin` CTE must then provide an initial
    * `ncnt`) — fitSub's mean denominator for ADC scoring. */
  private def lloydCte(t: Int, cin: String, trainQ: String = "q",
      p: String = "", dim: Int = EmbDim, carryN: Boolean = false): String = {
    val cntCte = if (carryN)
      s"""|${p}k$t AS (SELECT cent_id, CAST(COUNT(*) AS BIGINT) n
          |  FROM ${p}a$t GROUP BY 1),""".stripMargin
    else ""
    val cFields = if (carryN)
      s"COALESCE(n.nv, c.cvec) cvec, COALESCE(k.n, c.ncnt) ncnt"
    else "COALESCE(n.nv, c.cvec) cvec"
    val cJoin = if (carryN) s" LEFT JOIN ${p}k$t k USING (cent_id)" else ""
    s"""${p}a$t AS (SELECT id, cent_id FROM (
       |  SELECT $trainQ.id, c.cent_id,
       |   ROW_NUMBER() OVER (PARTITION BY $trainQ.id
       |     ORDER BY ${icosSql(s"$trainQ.qv", "c.cvec", dim)} DESC, c.cent_id) r
       |  FROM $trainQ, $cin c) WHERE r = 1),
       |${p}s$t AS (SELECT a.cent_id, t.range i, CAST(SUM($trainQ.qv[t.range + 1]) AS BIGINT) s
       |  FROM ${p}a$t a JOIN $trainQ ON a.id = $trainQ.id, range(0, $dim) t GROUP BY 1, 2),
       |${p}n$t AS (SELECT cent_id, list(s ORDER BY i) nv FROM ${p}s$t GROUP BY 1),
       |$cntCte
       |${p}c$t AS (SELECT c.cent_id, $cFields
       |  FROM $cin c LEFT JOIN ${p}n$t n USING (cent_id)$cJoin)""".stripMargin
  }

  /** PQ oracle fragment over `qall` → `codes_arr` + `lut_arr`: 8 subspace
    * slices, 8 prefixed dim-8 Lloyd chains with member counts, code
    * assignment, and the per-query (id < 10) ADC lookup table — shared by
    * ann_pq_recall and ann_ivfpq_recall. */
  private lazy val pqOracleCtes: String = {
    val subCtes = (0 until PqSub).map { j =>
      s"q$j AS (SELECT id, qv[${j * PqSubDim + 1}:${(j + 1) * PqSubDim}] qv FROM qall)"
    }.mkString(",\n")
    val initCtes = (0 until PqSub).map { j =>
      s"pj${j}c0 AS (SELECT id cent_id, qv cvec, CAST(1 AS BIGINT) ncnt FROM q$j WHERE id < $PqK)"
    }.mkString(",\n")
    val lloydChains = (0 until PqSub).map { j =>
      lloydCte(1, s"pj${j}c0", s"q$j", s"pj$j", PqSubDim, carryN = true) + ",\n" +
        lloydCte(2, s"pj${j}c1", s"q$j", s"pj$j", PqSubDim, carryN = true)
    }.mkString(",\n")
    val codeCtes = (0 until PqSub).map { j =>
      s"""cd$j AS (SELECT id, $j AS j, cent_id AS code FROM (
         |  SELECT q.id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.id
         |     ORDER BY ${icosSql("q.qv", "c.cvec", PqSubDim)} DESC, c.cent_id) r
         |  FROM q$j q, pj${j}c2 c) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    val lutCtes = (0 until PqSub).map { j =>
      s"""lr$j AS (SELECT q.id query_id, $j AS j, c.cent_id,
         |  ${idotSql("q.qv", "c.cvec", PqSubDim)} / c.ncnt pdot
         |  FROM q$j q, pj${j}c2 c WHERE q.id < 10)""".stripMargin
    }.mkString(",\n")
    val codesUnion = (0 until PqSub).map(j => s"SELECT * FROM cd$j").mkString(" UNION ALL ")
    val lutUnion = (0 until PqSub).map(j => s"SELECT * FROM lr$j").mkString(" UNION ALL ")
    s"""$subCtes,
       |$initCtes,
       |$lloydChains,
       |$codeCtes,
       |$lutCtes,
       |codes AS ($codesUnion),
       |codes_arr AS (SELECT id, list(code ORDER BY j) codes FROM codes GROUP BY id),
       |lutu AS ($lutUnion),
       |lut_arr AS (SELECT query_id, list(pdot ORDER BY j, cent_id) lut FROM lutu GROUP BY query_id)""".stripMargin
  }

  /** The ADC fold — identical order to [[adcScore]]'s expression fold. */
  private def adcScoreSql(lut: String, codes: String): String =
    s"list_sum([$lut[j * $PqK + $codes[j + 1] + 1] FOR j IN range(0, $PqSub)])"

  /** Shared tail of the two PQ oracles: rank `scored` to top-3, derive
    * float-exact truth for the 10-query band, emit integer hits@3. */
  private lazy val pqTruthAndSelect: String =
    s"""top3 AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) rank
       |  FROM scored) WHERE rank <= 3),
       |t_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
       |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
       |  FROM e q JOIN e n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
       |truth AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
       |  FROM t_scored) WHERE rank <= 3)
       |SELECT a.query_id,
       | CAST(COALESCE(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 END), 0) AS INT) hits_at_3
       |FROM top3 a LEFT JOIN truth t
       |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |GROUP BY a.query_id ORDER BY a.query_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "ann_ivf_trained" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
         |q AS (SELECT vec_id id,
         |   [CAST(round(x * ${graft.operators.KMeans.Scale}) AS BIGINT) FOR x IN emb] qv FROM e),
         |c0 AS (SELECT id cent_id, qv cvec FROM q WHERE id < $IvfCentroids),
         |${lloydCte(1, "c0")},
         |${lloydCte(2, "c1")},
         |assign AS (SELECT id, cent_id FROM (
         |  SELECT q.id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.id
         |     ORDER BY ${icosSql("q.qv", "c.cvec")} DESC, c.cent_id) r
         |  FROM q, c2 c) WHERE r = 1),
         |qq AS (SELECT id query_id, qv FROM q WHERE id >= $IvfQLo AND id < $IvfQHi),
         |probes AS (SELECT query_id, cent_id FROM (
         |  SELECT qq.query_id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY qq.query_id
         |     ORDER BY ${icosSql("qq.qv", "c.cvec")} DESC, c.cent_id) r
         |  FROM qq, c2 c) WHERE r <= $IvfProbe),
         |scored AS (SELECT p.query_id, a.id neighbor_id, ${icosSql("x.qv", "y.qv")} cos
         |  FROM probes p JOIN assign a USING (cent_id)
         |  JOIN q x ON x.id = p.query_id
         |  JOIN q y ON y.id = a.id
         |  WHERE p.query_id <> a.id)
         |SELECT query_id, rank, neighbor_id FROM (
         | SELECT query_id, neighbor_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) rank
         | FROM scored) WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Codebook drift: TWO codebooks train in one WITH chain (prefixed
    // lloydCte names) — frozen over the ¾-prefix `qp`, fresh over the
    // whole corpus `qall`; both assign the corpus, probe the appended-
    // cohort query band, and grade integer hits@3 against float-exact
    // truth. Mirrors trainedProbeTop3 + exactTruthTop3 token-for-token.
    "ann_ivf_drift" -> {
      def score(p: String, cb: String): String =
        s"""${p}assign AS (SELECT id, cent_id FROM (
           |  SELECT qall.id, c.cent_id,
           |   ROW_NUMBER() OVER (PARTITION BY qall.id
           |     ORDER BY ${icosSql("qall.qv", "c.cvec")} DESC, c.cent_id) r
           |  FROM qall, $cb c) WHERE r = 1),
           |${p}probes AS (SELECT query_id, cent_id FROM (
           |  SELECT qq.query_id, c.cent_id,
           |   ROW_NUMBER() OVER (PARTITION BY qq.query_id
           |     ORDER BY ${icosSql("qq.qv", "c.cvec")} DESC, c.cent_id) r
           |  FROM qq, $cb c) WHERE r <= $IvfProbe),
           |${p}top3 AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |   ROW_NUMBER() OVER (PARTITION BY query_id
           |     ORDER BY cos DESC, neighbor_id) rank FROM (
           |    SELECT p.query_id, a.id neighbor_id, ${icosSql("x.qv", "y.qv")} cos
           |    FROM ${p}probes p JOIN ${p}assign a USING (cent_id)
           |    JOIN qall x ON x.id = p.query_id
           |    JOIN qall y ON y.id = a.id
           |    WHERE p.query_id <> a.id) s) WHERE rank <= 3)""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
         |nn AS (SELECT 3 * COUNT(*) // 4 AS split FROM embeddings),
         |qall AS (SELECT vec_id id,
         |   [CAST(round(x * ${graft.operators.KMeans.Scale}) AS BIGINT) FOR x IN emb] qv FROM e),
         |qp AS (SELECT qall.* FROM qall, nn WHERE qall.id < nn.split),
         |f0 AS (SELECT id cent_id, qv cvec FROM qp WHERE id < $IvfCentroids),
         |${lloydCte(1, "f0", "qp", "f")},
         |${lloydCte(2, "fc1", "qp", "f")},
         |g0 AS (SELECT id cent_id, qv cvec FROM qall WHERE id < $IvfCentroids),
         |${lloydCte(1, "g0", "qall", "g")},
         |${lloydCte(2, "gc1", "qall", "g")},
         |qq AS (SELECT qall.id query_id, qall.qv FROM qall, nn
         |  WHERE qall.id >= nn.split AND qall.id < nn.split + $DriftQ),
         |${score("fz", "fc2")},
         |${score("fr", "gc2")},
         |approx AS (SELECT 'frozen' AS method, query_id, neighbor_id FROM fztop3
         |  UNION ALL SELECT 'fresh' AS method, query_id, neighbor_id FROM frtop3),
         |t_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
         |  FROM e q JOIN e n ON q.vec_id <> n.vec_id, nn
         |  WHERE q.vec_id >= nn.split AND q.vec_id < nn.split + $DriftQ),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM t_scored) WHERE rank <= 3)
         |SELECT a.method, a.query_id,
         | CAST(COALESCE(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 END), 0) AS INT) hits_at_3
         |FROM approx a LEFT JOIN truth t
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY a.method, a.query_id
         |ORDER BY a.method, a.query_id""".stripMargin
    },

    // Product quantization: 8 independent dim-8 Lloyd chains (prefixed
    // CTEs, member counts carried for the ADC mean), per-subspace code
    // assignment, per-query LUT, and the ADC score as the SAME
    // left-to-right list_sum fold the Spark expression uses.
    "ann_pq_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
         |qall AS (SELECT vec_id id,
         |   [CAST(round(x * ${graft.operators.KMeans.Scale}) AS BIGINT) FOR x IN emb] qv FROM e),
         |$pqOracleCtes,
         |scored AS (SELECT l.query_id, c.id neighbor_id,
         |   ${adcScoreSql("l.lut", "c.codes")} score
         |  FROM codes_arr c, lut_arr l WHERE l.query_id <> c.id),
         |$pqTruthAndSelect""".stripMargin,

    // IVF-PQ composition: the coarse full-dim Lloyd chain prunes each
    // query to IvfProbe cells; only those members are ADC-scored over
    // their codes. Shares every PQ fragment with ann_pq_recall — the
    // keys differ ONLY in the candidate set, so their recall delta is
    // the pruning cost.
    "ann_ivfpq_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
         |qall AS (SELECT vec_id id,
         |   [CAST(round(x * ${graft.operators.KMeans.Scale}) AS BIGINT) FOR x IN emb] qv FROM e),
         |c0 AS (SELECT id cent_id, qv cvec FROM qall WHERE id < $IvfCentroids),
         |${lloydCte(1, "c0", "qall")},
         |${lloydCte(2, "c1", "qall")},
         |assign AS (SELECT id, cent_id FROM (
         |  SELECT qall.id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY qall.id
         |     ORDER BY ${icosSql("qall.qv", "c.cvec")} DESC, c.cent_id) r
         |  FROM qall, c2 c) WHERE r = 1),
         |probes AS (SELECT query_id, cent_id FROM (
         |  SELECT qall.id query_id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY qall.id
         |     ORDER BY ${icosSql("qall.qv", "c.cvec")} DESC, c.cent_id) r
         |  FROM qall, c2 c WHERE qall.id < 10) WHERE r <= $IvfProbe),
         |$pqOracleCtes,
         |scored AS (SELECT p.query_id, a.id neighbor_id,
         |   ${adcScoreSql("l.lut", "c.codes")} score
         |  FROM probes p JOIN assign a USING (cent_id)
         |  JOIN codes_arr c ON c.id = a.id
         |  JOIN lut_arr l ON l.query_id = p.query_id
         |  WHERE p.query_id <> a.id),
         |$pqTruthAndSelect""".stripMargin,

    // Incremental IVF: q is the TRAINING prefix (lloydCte trains over the
    // CTE literally named `q`), qall is the whole corpus assigned against
    // the frozen post-training codebook c2.
    "ann_ivf_incremental" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
         |nn AS (SELECT 3 * COUNT(*) // 4 AS split FROM embeddings),
         |qall AS (SELECT vec_id id,
         |   [CAST(round(x * ${graft.operators.KMeans.Scale}) AS BIGINT) FOR x IN emb] qv FROM e),
         |q AS (SELECT qall.* FROM qall, nn WHERE qall.id < nn.split),
         |c0 AS (SELECT id cent_id, qv cvec FROM q WHERE id < $IvfCentroids),
         |${lloydCte(1, "c0")},
         |${lloydCte(2, "c1")},
         |assign AS (SELECT id, cent_id FROM (
         |  SELECT qall.id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY qall.id
         |     ORDER BY ${icosSql("qall.qv", "c.cvec")} DESC, c.cent_id) r
         |  FROM qall, c2 c) WHERE r = 1)
         |SELECT cent_id,
         | CAST(SUM(CASE WHEN a.id < nn.split THEN 1 ELSE 0 END) AS BIGINT) AS n_existing,
         | CAST(SUM(CASE WHEN a.id >= nn.split THEN 1 ELSE 0 END) AS BIGINT) AS n_incremental
         |FROM assign a, nn GROUP BY cent_id ORDER BY cent_id""".stripMargin,

    "emb_random_projection" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings)
         |SELECT vec_id, t.j,
         | ${planeDotSql("emb", s"${ProjSeed * 1000} + t.j")} AS value
         |FROM e CROSS JOIN range(0, $ProjDim) t(j)
         |ORDER BY vec_id, t.j""".stripMargin,

    "ann_lsh_multiprobe" ->
      s"""WITH $bitsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket FROM embeddings, bits),
         |$multiprobeCtes,
         |ranked AS (SELECT query_id, neighbor_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) rank
         |  FROM mp_scored)
         |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    // the augmented-space replay: selfdots, the corpus max, the dim+1
    // plane dots, asymmetric buckets, probe ring, and the same exact truth
    "ann_mips_aug_recall" ->
      s"""WITH $bitsCte,
         |ar AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) raw FROM embeddings),
         |a0 AS (SELECT vec_id, [x * (1 + vec_id % 7) FOR x IN raw] emb FROM ar),
         |a1 AS (SELECT vec_id, emb,
         |   list_sum([emb[i + 1] * emb[i + 1] FOR i IN range(0, $EmbDim)]) selfdot
         | FROM a0),
         |am AS (SELECT MAX(selfdot) m2 FROM a1),
         |a2 AS (SELECT a1.vec_id, a1.emb,
         |   a1.emb || [sqrt(am.m2 - a1.selfdot)] AS naug,
         |   a1.emb || [0.0] AS qaug
         | FROM a1, am),
         |a3 AS (SELECT vec_id, emb,
         |   array_to_string([CASE WHEN ${planeDotSql("naug", s"${LshSeed * 1000} + b", EmbDim + 1)} >= 0
         |     THEN '1' ELSE '0' END FOR b IN range(0, bits.bits)], '') nbucket,
         |   array_to_string([CASE WHEN ${planeDotSql("qaug", s"${LshSeed * 1000} + b", EmbDim + 1)} >= 0
         |     THEN '1' ELSE '0' END FOR b IN range(0, bits.bits)], '') qbucket
         | FROM a2, bits),
         |aprobes AS (SELECT vec_id AS query_id, emb AS qe,
         |   unnest([qbucket] || [${flipSql("qbucket", "b")} FOR b IN range(0, bits.bits)]) AS bucket
         | FROM a3, bits WHERE vec_id < 50),
         |acand AS (SELECT p.query_id, n.vec_id neighbor_id,
         |   (SELECT $dotSql FROM (SELECT p.qe ea, n.emb eb)) dot
         |  FROM aprobes p JOIN a3 n ON p.bucket = n.nbucket AND p.query_id <> n.vec_id),
         |aapprox AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) rank
         |  FROM acand) WHERE rank <= 3),
         |at_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $dotSql FROM (SELECT q.emb ea, n.emb eb)) dot
         |  FROM a0 q JOIN a0 n ON q.vec_id < 50 AND q.vec_id <> n.vec_id),
         |atruth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) rank
         |  FROM at_scored) WHERE rank <= 3)
         |SELECT t.query_id,
         | CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_3
         |FROM atruth t LEFT JOIN aapprox a
         |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // direction-bucketed candidates ranked by raw DOT, graded against the
    // exact full-scan dot top-3 — the MIPS bias measurement
    "ann_mips_recall" ->
      s"""WITH $bitsCte,
         |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) raw FROM embeddings),
         |e AS (SELECT vec_id, [x * (1 + vec_id % 7) FOR x IN raw] emb,
         |   ${bucketSql("raw")} bucket FROM e0, bits),
         |mips_probes AS (SELECT e.vec_id AS query_id, e.emb AS qe,
         |   unnest([e.bucket] || [${flipSql("e.bucket", "b")}
         |     FOR b IN range(0, bits.bits)]) AS bucket
         | FROM e, bits WHERE e.vec_id < 50),
         |mips_cand AS (SELECT p.query_id, n.vec_id neighbor_id,
         |   (SELECT $dotSql FROM (SELECT p.qe ea, n.emb eb)) dot
         |  FROM mips_probes p JOIN e n ON p.bucket = n.bucket AND p.query_id <> n.vec_id),
         |approx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) rank
         |  FROM mips_cand) WHERE rank <= 3),
         |t_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $dotSql FROM (SELECT q.emb ea, n.emb eb)) dot
         |  FROM e q JOIN e n ON q.vec_id < 50 AND q.vec_id <> n.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) rank
         |  FROM t_scored) WHERE rank <= 3)
         |SELECT t.query_id,
         | CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_3
         |FROM truth t LEFT JOIN approx a
         |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the multiprobe candidate join with the label predicate inside the
    // join — filtered-ANN, ranks computed within the filtered set
    "ann_filtered" ->
      s"""WITH $bitsCte,
         |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket FROM embeddings, bits),
         |p AS (SELECT e.vec_id AS query_id, e.label ql, e.emb AS qe,
         |   unnest([e.bucket] || [CONCAT(substr(e.bucket, 1, b),
         |     CASE substr(e.bucket, b + 1, 1) WHEN '0' THEN '1' ELSE '0' END,
         |     substr(e.bucket, b + 2)) FOR b IN range(0, bits.bits)]) AS bucket
         | FROM e, bits WHERE e.vec_id < 50),
         |sc AS (SELECT p.query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT p.qe ea, n.emb eb)) cos
         |  FROM p JOIN e n ON p.bucket = n.bucket AND p.ql = n.label
         |    AND p.query_id <> n.vec_id),
         |ranked AS (SELECT query_id, neighbor_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) rank
         |  FROM sc)
         |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    // The exact-family replays generate candidates from an INVERTED INDEX
    // (pairs sharing >= 1 shingle, size-compatible) instead of all pairs:
    // both are NECESSARY conditions of jaccard >= 0.5 (zero shared
    // shingles means J = 0; J <= min/max means min >= max/2 — the same
    // prefilter the Spark key plans at :358), so cand stays a superset of
    // the qualifying pairs and the verify filter decides membership
    // identically. Measured on zipf0.1: 675k probes vs 12.5M all-pairs
    // (18x), max shingle df 336; on the fixed sf0.01 gate corpus 14k vs
    // 125k (9x). The SPARK key remains the documented all-pairs baseline.
    "dedup_ngram_jaccard" ->
      s"""WITH $shinglesHashCte,
         |post AS (SELECT doc_id, len(hs) n, unnest(hs) h FROM shh),
         |cand AS (SELECT DISTINCT x.doc_id doc_a, y.doc_id doc_b
         |  FROM post x JOIN post y ON x.h = y.h AND x.doc_id < y.doc_id
         |  AND y.n * 2 >= x.n AND x.n * 2 >= y.n)
         |$jaccardVerifySql""".stripMargin,

    "dedup_substring_runs" ->
      raw"""WITH toks AS (SELECT doc_id,
           |  regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') t
           |  FROM documents),
           |shp AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+${SubW - 1}], ' ') AS sh
           |  FROM (SELECT doc_id, t,
           |    unnest(generate_series(1, GREATEST(len(t) - ${SubW - 1}, 1))) AS i FROM toks)),
           |keep AS (SELECT sh FROM shp GROUP BY sh HAVING COUNT(DISTINCT doc_id) <= $SubMaxDf),
           |shf AS (SELECT s.doc_id, s.pos, s.sh FROM shp s JOIN keep USING (sh)),
           |pr AS (SELECT a.doc_id da, b.doc_id db, a.pos pa, b.pos pb
           |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id),
           |isl AS (SELECT da, db, pa - pb AS diag, pa,
           |  pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS island
           |  FROM pr),
           |runs AS (SELECT da, db, CAST(COUNT(*) + ${SubW - 1} AS BIGINT) AS run_tokens
           |  FROM isl GROUP BY da, db, diag, island
           |  HAVING COUNT(*) + ${SubW - 1} >= $SubMinRun)
           |SELECT da AS doc_id, db AS dup_id, MAX(run_tokens) AS max_run_tokens,
           | CAST(COUNT(*) AS BIGINT) AS n_runs
           |FROM runs GROUP BY 1, 2 ORDER BY doc_id, dup_id""".stripMargin,

    "dedup_components" ->
      s"""WITH RECURSIVE $shinglesHashCte,
         |post AS (SELECT doc_id, len(hs) n, unnest(hs) h FROM shh),
         |cand AS (SELECT DISTINCT x.doc_id doc_a, y.doc_id doc_b
         |  FROM post x JOIN post y ON x.h = y.h AND x.doc_id < y.doc_id
         |  AND y.n * 2 >= x.n AND x.n * 2 >= y.n),
         |pairs AS MATERIALIZED ($jaccardVerifySql),
         |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (SELECT s AS id, s AS o FROM edges
         |          UNION SELECT r.id, e.d FROM reach r JOIN edges e ON r.o = e.s),
         |comp AS (SELECT id AS doc_id, MIN(o) AS component_id FROM reach GROUP BY id)
         |SELECT doc_id, component_id,
         | COUNT(*) OVER (PARTITION BY component_id) AS n_members
         |FROM comp ORDER BY doc_id""".stripMargin,

    "dedup_keep_best" ->
      s"""WITH RECURSIVE $shinglesHashCte,
         |post AS (SELECT doc_id, len(hs) n, unnest(hs) h FROM shh),
         |cand AS (SELECT DISTINCT x.doc_id doc_a, y.doc_id doc_b
         |  FROM post x JOIN post y ON x.h = y.h AND x.doc_id < y.doc_id
         |  AND y.n * 2 >= x.n AND x.n * 2 >= y.n),
         |pairs AS MATERIALIZED ($jaccardVerifySql),
         |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (SELECT s AS id, s AS o FROM edges
         |          UNION SELECT r.id, e.d FROM reach r JOIN edges e ON r.o = e.s),
         |comp AS (SELECT id AS doc_id, MIN(o) AS component_id FROM reach GROUP BY id),
         |tc AS (SELECT doc_id,
         |   CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
         |  FROM documents),
         |ranked AS (SELECT c.component_id, c.doc_id,
         |   ROW_NUMBER() OVER (PARTITION BY c.component_id
         |     ORDER BY t.n_tokens DESC, c.doc_id) rn
         |  FROM comp c JOIN tc t ON c.doc_id = t.doc_id)
         |SELECT component_id, COUNT(*) AS n_members,
         | MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id
         |FROM ranked GROUP BY component_id ORDER BY component_id""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $shinglesHashCte,
         |$minhashCandCtes
         |$jaccardVerifySql""".stripMargin,

    "dedup_minhash_lsh_capped" ->
      s"""WITH $shinglesHashCte,
         |$cappedCandCtes
         |$jaccardVerifySql""".stripMargin,

    "dedup_minhash_capped_recall" ->
      s"""WITH $shinglesHashCte,
         |$minhashSigBandCtes,
         |ecand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |bc AS (SELECT band, COUNT(*) AS c FROM bands GROUP BY band),
         |bd AS (SELECT b.doc_id, b.band, bc.c FROM bands b JOIN bc USING (band)),
         |sk AS (SELECT doc_id, array_to_string(sig, '_') AS sigkey FROM sig),
         |ccand AS (SELECT DISTINCT doc_a, doc_b FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |    FROM bd a JOIN bd b ON a.band = b.band AND a.doc_id < b.doc_id
         |    WHERE a.c <= $BandDfCap
         |  UNION ALL
         |  SELECT a.doc_id, b.doc_id
         |    FROM bd a JOIN bd b ON a.band = b.band AND a.doc_id < b.doc_id
         |    JOIN sk x ON x.doc_id = a.doc_id
         |    JOIN sk y ON y.doc_id = b.doc_id
         |    WHERE a.c > $BandDfCap AND x.sigkey = y.sigkey)),
         |ep AS (${verifiedPairsSql("ecand")}),
         |cp AS (${verifiedPairsSql("ccand")})
         |SELECT CAST(COUNT(e.doc_a) AS BIGINT) AS n_exact,
         |  CAST(COUNT(c.doc_a) AS BIGINT) AS n_capped,
         |  CAST(SUM(CASE WHEN e.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_common
         |FROM ep e FULL JOIN cp c
         |  ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b""".stripMargin,

    "dedup_components_lsh_capped" ->
      s"""WITH RECURSIVE $shinglesHashCte,
         |$cappedCandCtes,
         |pairs AS MATERIALIZED (${verifiedPairsSql("cand")}),
         |$componentsCtes
         |SELECT doc_id, component_id,
         | COUNT(*) OVER (PARTITION BY component_id) AS n_members
         |FROM comp ORDER BY doc_id""".stripMargin,

    // positional signature compare aggregated per estimate level:
    // n_match counts equal minima across the permutations; exact summed
    // overlap rides alongside as integers
    "dedup_minhash_estimate" ->
      s"""WITH $shinglesHashCte,
         |$minhashCandCtes,
         |pair AS (SELECT
         |  CAST(len([p FOR p IN range(1, ${Perms + 1})
         |            IF x.sig[p] = y.sig[p]]) AS INT) AS n_match,
         |  CAST(len(list_intersect(xs.sh, ys.sh)) AS INT) AS n_inter,
         |  CAST(len(xs.sh) + len(ys.sh)
         |       - len(list_intersect(xs.sh, ys.sh)) AS INT) AS n_union
         | FROM cand c
         | JOIN sig x ON c.doc_a = x.doc_id JOIN sig y ON c.doc_b = y.doc_id
         | JOIN shd xs ON c.doc_a = xs.doc_id JOIN shd ys ON c.doc_b = ys.doc_id)
         |SELECT n_match, COUNT(*) AS n_pairs,
         | CAST(SUM(n_inter) AS BIGINT) AS sum_inter,
         | CAST(SUM(n_union) AS BIGINT) AS sum_union
         |FROM pair GROUP BY 1 ORDER BY 1""".stripMargin,

    // Incremental minhash: one-sided banding — incoming (id >= split)
    // probes the index side's bands (id < split); exact-Jaccard verify;
    // per-newcomer verdict with left-join null = genuinely new.
    "dedup_minhash_incremental" ->
      s"""WITH $shinglesHashCte,
         |$minhashSigBandCtes,
         |nn AS (SELECT 3 * COUNT(*) // 4 AS split FROM documents),
         |cand AS (SELECT DISTINCT a.doc_id new_id, b.doc_id dup_of
         |  FROM bands a JOIN bands b ON a.band = b.band, nn
         |  WHERE a.doc_id >= nn.split AND b.doc_id < nn.split),
         |ver AS (SELECT new_id, dup_of FROM (
         |  SELECT c.new_id, c.dup_of,
         |   CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
         |     / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) jaccard
         |  FROM cand c JOIN shd x ON c.new_id = x.doc_id
         |  JOIN shd y ON c.dup_of = y.doc_id) WHERE jaccard >= $JaccardT),
         |m AS (SELECT new_id, MIN(dup_of) dup_of, COUNT(*) n_matches
         |  FROM ver GROUP BY 1),
         |base AS (SELECT doc_id AS new_id FROM documents, nn WHERE doc_id >= nn.split)
         |SELECT b.new_id, m.dup_of,
         | CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches
         |FROM base b LEFT JOIN m USING (new_id) ORDER BY new_id""".stripMargin,

    // appended-batch twin: the INDEX side (bands + hashed shingles) reads
    // the files minhashBatchBuild LANDED — a write bug fails the compare;
    // only the appended batch re-derives from documents
    "dedup_minhash_incremental_batch" ->
      s"""WITH $shinglesHashCte,
         |$minhashSigBandCtes,
         |nn AS (SELECT 3 * COUNT(*) // 4 AS split FROM documents),
         |oldb AS (SELECT doc_id AS dup_of, band FROM ${BatchState.sql("mh_bands")}),
         |oldh AS (SELECT doc_id AS dup_of, hs AS shb FROM ${BatchState.sql("mh_hs")}),
         |newb AS (SELECT b.doc_id AS new_id, b.band FROM bands b, nn
         |  WHERE b.doc_id >= nn.split),
         |cand AS (SELECT DISTINCT new_id, dup_of FROM newb JOIN oldb USING (band)),
         |ver AS (SELECT new_id, dup_of FROM (
         |  SELECT c.new_id, c.dup_of,
         |   CAST(len(list_intersect(x.hs, y.shb)) AS DOUBLE)
         |     / (len(x.hs) + len(y.shb) - len(list_intersect(x.hs, y.shb))) jaccard
         |  FROM cand c JOIN shh x ON c.new_id = x.doc_id
         |  JOIN oldh y ON c.dup_of = y.dup_of) WHERE jaccard >= $JaccardT),
         |m AS (SELECT new_id, MIN(dup_of) dup_of, COUNT(*) n_matches
         |  FROM ver GROUP BY 1),
         |base AS (SELECT doc_id AS new_id FROM documents, nn WHERE doc_id >= nn.split)
         |SELECT b.new_id, m.dup_of,
         | CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches
         |FROM base b LEFT JOIN m USING (new_id) ORDER BY new_id""".stripMargin,

    // appended-batch twin: buckets + vectors of the index side come from
    // the LANDED sem_index; bits replay the INDEX-build-time ladder
    // (lshBitsFor(split)), not the grown corpus
    "dedup_semantic_incremental_batch" ->
      s"""WITH nn AS (SELECT 3 * COUNT(*) // 4 AS split FROM embeddings),
         |bits AS (SELECT COALESCE((SELECT MIN(b)
         |  FROM range($LshBitsMin, ${LshBitsMax + 1}) t(b), nn
         |  WHERE (1::BIGINT << b) * $LshTargetBucket >= nn.split), $LshBitsMax) bits),
         |newv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket
         | FROM embeddings, bits, nn WHERE vec_id >= nn.split),
         |oldv AS (SELECT dup_of AS vec_id, CAST(embedding AS DOUBLE[]) emb, bucket
         | FROM ${BatchState.sql("sem_index")}),
         |probes AS (SELECT n.vec_id, n.emb,
         |   unnest([n.bucket] || [${flipSql("n.bucket", "b")}
         |     FOR b IN range(0, bits.bits)]) AS bucket
         | FROM newv n, bits),
         |m AS (SELECT p.vec_id new_id, o.vec_id dup_of
         |  FROM (SELECT vec_id, emb ea, bucket FROM probes) p
         |  JOIN (SELECT vec_id, emb eb, bucket FROM oldv) o ON p.bucket = o.bucket
         |  WHERE $cosineSql >= $SemanticT)
         |SELECT n.vec_id AS new_id, MIN(m.dup_of) AS dup_of,
         | CAST(COUNT(m.dup_of) AS BIGINT) AS n_matches
         |FROM newv n LEFT JOIN m ON n.vec_id = m.new_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // appended-batch twin: the codebook comes from the LANDED ivf_cents
    // (no Lloyd replay — the write IS the artifact under test); occupancy
    // is RE-DERIVED by assigning the old slice to those centroids, so a
    // bad landed occupancy count fails the compare too
    "ann_ivf_incremental_batch" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
         |nn AS (SELECT 3 * COUNT(*) // 4 AS split FROM embeddings),
         |qall AS (SELECT vec_id id,
         |   [CAST(round(x * ${graft.operators.KMeans.Scale}) AS BIGINT) FOR x IN emb] qv FROM e),
         |c AS (SELECT cent_id, cvec FROM ${BatchState.sql("ivf_cents")}),
         |assign AS (SELECT id, cent_id FROM (
         |  SELECT qall.id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY qall.id
         |     ORDER BY ${icosSql("qall.qv", "c.cvec")} DESC, c.cent_id) r
         |  FROM qall, c) WHERE r = 1)
         |SELECT cent_id,
         | CAST(SUM(CASE WHEN a.id < nn.split THEN 1 ELSE 0 END) AS BIGINT) AS n_existing,
         | CAST(SUM(CASE WHEN a.id >= nn.split THEN 1 ELSE 0 END) AS BIGINT) AS n_incremental
         |FROM assign a, nn GROUP BY cent_id ORDER BY cent_id""".stripMargin,

    "dedup_components_lsh" ->
      s"""WITH RECURSIVE $shinglesHashCte,
         |$minhashCandCtes,
         |pairs AS MATERIALIZED ($jaccardVerifySql),
         |$componentsCtes
         |SELECT doc_id, component_id,
         | COUNT(*) OVER (PARTITION BY component_id) AS n_members
         |FROM comp ORDER BY doc_id""".stripMargin,

    "dedup_keep_best_lsh" ->
      s"""WITH RECURSIVE $shinglesHashCte,
         |$minhashCandCtes,
         |pairs AS MATERIALIZED ($jaccardVerifySql),
         |$componentsCtes,
         |tc AS (SELECT doc_id,
         |   CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
         |  FROM documents),
         |ranked AS (SELECT c.component_id, c.doc_id,
         |   ROW_NUMBER() OVER (PARTITION BY c.component_id
         |     ORDER BY t.n_tokens DESC, c.doc_id) rn
         |  FROM comp c JOIN tc t ON c.doc_id = t.doc_id)
         |SELECT component_id, COUNT(*) AS n_members,
         | MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id
         |FROM ranked GROUP BY component_id ORDER BY component_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id,
         |  regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') t
         |  FROM documents),
         |th AS (SELECT doc_id, [${hash60Sql("CONCAT('simhash|', x)")} FOR x IN t] th FROM toks),
         |sh AS (SELECT doc_id, CAST(list_sum([CASE WHEN
         |    list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END FOR h IN th]) >= 0
         |    THEN (1::BIGINT << j) ELSE 0 END FOR j IN range(0, 60)]) AS BIGINT) simhash
         |  FROM th),
         |banded AS (SELECT doc_id, simhash, b.range band_id,
         |    (simhash >> ($SimhashBandBits * b.range)) & ${(1L << SimhashBandBits) - 1} band_val
         |  FROM sh CROSS JOIN range(0, $SimhashBands) b)
         |SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) hamming
         |FROM banded a JOIN banded b
         |  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingT
         |ORDER BY doc_a, doc_b""".stripMargin,

    "emb_neardup_cosine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings)
         |SELECT a.vec_id vec_a, b.vec_id vec_b
         |FROM (SELECT vec_id, emb ea FROM e) a JOIN (SELECT vec_id, emb eb FROM e) b
         |  ON a.vec_id < b.vec_id
         |WHERE $cosineSql >= $CosineT
         |ORDER BY vec_a, vec_b""".stripMargin,

    "ann_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
         |scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
         |  FROM e q JOIN e n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
         |ranked AS (SELECT query_id, neighbor_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= $AnnK
         |ORDER BY query_id, rank""".stripMargin,

    "ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
         |cents AS (SELECT vec_id cent_id, emb ce FROM e WHERE vec_id < $IvfCentroids),
         |adist AS (SELECT v.vec_id, c.cent_id,
         |   (SELECT $cosineSql FROM (SELECT v.emb ea, c.ce eb)) ccos
         |  FROM e v CROSS JOIN cents c),
         |assign AS (SELECT vec_id, cent_id FROM (
         |  SELECT vec_id, cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) crank
         |  FROM adist) WHERE crank = 1),
         |probes AS (SELECT vec_id query_id, cent_id FROM (
         |  SELECT vec_id, cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) crank
         |  FROM adist WHERE vec_id >= $IvfQLo AND vec_id < $IvfQHi) WHERE crank <= $IvfProbe),
         |scored AS (SELECT p.query_id, a.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
         |  FROM probes p JOIN assign a USING (cent_id)
         |  JOIN e q ON q.vec_id = p.query_id
         |  JOIN e n ON n.vec_id = a.vec_id
         |  WHERE p.query_id <> a.vec_id)
         |SELECT query_id, rank, neighbor_id FROM (
         | SELECT query_id, neighbor_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) rank
         | FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "ann_lsh_bucket" ->
      s"""WITH $bitsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket FROM embeddings, bits),
         |scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
         |  FROM e q JOIN e n ON q.bucket = n.bucket AND q.vec_id < 50 AND q.vec_id <> n.vec_id),
         |ranked AS (SELECT query_id, neighbor_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    // SemDeDup replay: fixed-k unrolled integer Lloyd chain, rank-1
    // assignment, LSH-prefix cell refinement (same per-bit seeds as the
    // ANN bucket oracle), and the pairwise closer-centroid drop rule —
    // fold-order-pinned doubles make the cosc comparisons bit-identical
    "dedup_semdedup" ->
      s"""WITH $bitsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket FROM embeddings, bits),
         |q AS (SELECT vec_id id, substr(bucket, 1, GREATEST(bits.bits - 4, 0)) sub,
         |   [CAST(round(x * ${graft.operators.KMeans.Scale}) AS BIGINT) FOR x IN emb] qv
         | FROM e, bits),
         |c0 AS (SELECT id cent_id, qv cvec FROM q WHERE id < $IvfCentroids),
         |${lloydCte(1, "c0")},
         |${lloydCte(2, "c1")},
         |asg AS (SELECT id, cent_id FROM (
         |  SELECT q.id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.id
         |     ORDER BY ${icosSql("q.qv", "c.cvec")} DESC, c.cent_id) r
         |  FROM q, c2 c) WHERE r = 1),
         |wc AS (SELECT a.id, CONCAT(a.cent_id, '_', q.sub) cell, q.qv,
         |   ${icosSql("q.qv", "c.cvec")} cosc
         |  FROM asg a JOIN q ON a.id = q.id JOIN c2 c ON a.cent_id = c.cent_id),
         |prs AS (SELECT a.id va, b.id vb, a.cosc ca, b.cosc cb
         |  FROM wc a JOIN wc b ON a.cell = b.cell AND a.id <> b.id
         |  WHERE ${icosSql("a.qv", "b.qv")} >= $SemanticT),
         |ver AS (SELECT va id, CAST(COUNT(*) AS BIGINT) n_similar,
         |   MAX(CASE WHEN cb < ca OR (cb = ca AND vb < va) THEN 1 ELSE 0 END) drop_flag
         |  FROM prs GROUP BY 1)
         |SELECT w.id vec_id, w.cell cluster_id,
         | COALESCE(v.n_similar, 0) n_similar,
         | COALESCE(v.drop_flag, 0) = 0 AS is_kept
         |FROM wc w LEFT JOIN ver v ON w.id = v.id
         |ORDER BY vec_id""".stripMargin,

    "dedup_semantic" ->
      s"""WITH RECURSIVE $bitsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket FROM embeddings, bits),
         |ap AS (SELECT e.vec_id, e.emb,
         |   unnest([e.bucket] || [CONCAT(substr(e.bucket, 1, b),
         |     CASE substr(e.bucket, b + 1, 1) WHEN '0' THEN '1' ELSE '0' END,
         |     substr(e.bucket, b + 2)) FOR b IN range(0, bits.bits)]) AS bucket
         | FROM e, bits),
         |pairs AS (SELECT a.vec_id vec_a, b.vec_id vec_b
         |  FROM (SELECT vec_id, emb ea, bucket FROM ap) a
         |  JOIN (SELECT vec_id, emb eb, bucket FROM e) b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE $cosineSql >= $SemanticT),
         |edges AS MATERIALIZED (SELECT vec_a AS s, vec_b AS d FROM pairs
         |          UNION SELECT vec_b, vec_a FROM pairs),
         |reach AS (SELECT s AS id, s AS o FROM edges
         |          UNION SELECT r.id, e2.d FROM reach r JOIN edges e2 ON r.o = e2.s)
         |SELECT id AS vec_id, MIN(o) AS group_id, id = MIN(o) AS is_canonical
         |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,

    // the sweep replays the same probe-ring pair set; thresholds unnest
    // over it and both counts stay exact integers
    "dedup_threshold_sweep" ->
      s"""WITH RECURSIVE $bitsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket FROM embeddings, bits),
         |ap AS (SELECT e.vec_id, e.emb,
         |   unnest([e.bucket] || [CONCAT(substr(e.bucket, 1, b),
         |     CASE substr(e.bucket, b + 1, 1) WHEN '0' THEN '1' ELSE '0' END,
         |     substr(e.bucket, b + 2)) FOR b IN range(0, bits.bits)]) AS bucket
         | FROM e, bits),
         |pairs AS (SELECT a.vec_id vec_a, b.vec_id vec_b, $cosineSql AS cos
         |  FROM (SELECT vec_id, emb ea, bucket FROM ap) a
         |  JOIN (SELECT vec_id, emb eb, bucket FROM e) b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |sw AS (SELECT vec_a, vec_b, cos,
         |   unnest([${SweepTs.mkString(", ")}]) AS threshold_pct FROM pairs),
         |m AS (SELECT threshold_pct, unnest([vec_a, vec_b]) AS id
         |  FROM sw WHERE cos * 100 >= threshold_pct)
         |SELECT CAST(threshold_pct AS INT) AS threshold_pct,
         | CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
         | CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs_affected
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_semantic_incremental" ->
      s"""WITH $bitsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket FROM embeddings, bits),
         |nn AS (SELECT 3 * COUNT(*) // 4 AS split FROM embeddings),
         |newv AS (SELECT e.* FROM e, nn WHERE e.vec_id >= nn.split),
         |oldv AS (SELECT e.* FROM e, nn WHERE e.vec_id < nn.split),
         |probes AS (SELECT n.vec_id, n.emb,
         |   unnest([n.bucket] || [${flipSql("n.bucket", "b")}
         |     FOR b IN range(0, bits.bits)]) AS bucket
         | FROM newv n, bits),
         |m AS (SELECT p.vec_id new_id, o.vec_id dup_of
         |  FROM (SELECT vec_id, emb ea, bucket FROM probes) p
         |  JOIN (SELECT vec_id, emb eb, bucket FROM oldv) o ON p.bucket = o.bucket
         |  WHERE $cosineSql >= $SemanticT)
         |SELECT n.vec_id AS new_id, MIN(m.dup_of) AS dup_of,
         | CAST(COUNT(m.dup_of) AS BIGINT) AS n_matches
         |FROM newv n LEFT JOIN m ON n.vec_id = m.new_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ann_mp2_recall" ->
      s"""WITH $bitsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket FROM embeddings, bits),
         |mp2_probes AS (SELECT e.vec_id AS query_id, e.emb AS qe,
         |   unnest([e.bucket]
         |     || [${flipSql("e.bucket", "b")} FOR b IN range(0, bits.bits)]
         |     || flatten([[${flipSql(flipSql("e.bucket", "i"), "j")}
         |          FOR j IN range(i + 1, bits.bits)] FOR i IN range(0, bits.bits)])) AS bucket
         | FROM e, bits WHERE e.vec_id < 50),
         |mp2_top AS (SELECT query_id, neighbor_id FROM (
         |  SELECT p.query_id, n.vec_id neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
         |     (SELECT $cosineSql FROM (SELECT p.qe ea, n.emb eb)) DESC, n.vec_id) rank
         |  FROM mp2_probes p JOIN e n ON p.bucket = n.bucket AND p.query_id <> n.vec_id)
         | WHERE rank <= 3),
         |t2_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
         |  FROM e q JOIN e n ON q.vec_id < 50 AND q.vec_id <> n.vec_id),
         |t2_truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM t2_scored) WHERE rank <= 3)
         |SELECT a.query_id,
         | CAST(COALESCE(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 END), 0) AS INT) hits_at_3
         |FROM mp2_top a LEFT JOIN t2_truth t
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY a.query_id ORDER BY a.query_id""".stripMargin,

    "ann_mt_recall" ->
      s"""WITH $bitsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   [${(0 until LshTables).map(t =>
              bucketSqlAt("CAST(embedding AS DOUBLE[])", (LshSeed + t) * 1000))
              .mkString(",\n   ")}] buckets
         |  FROM embeddings, bits),
         |mt_n AS (SELECT vec_id AS neighbor_id, t.range AS tt, buckets[t.range + 1] AS bucket
         |  FROM e, range(0, $LshTables) t),
         |mt_q AS (SELECT vec_id AS query_id, t.range AS tt, buckets[t.range + 1] AS bucket
         |  FROM e, range(0, $LshTables) t WHERE vec_id < 50),
         |mt_cand AS (SELECT DISTINCT q.query_id, n.neighbor_id
         |  FROM mt_q q JOIN mt_n n ON q.tt = n.tt AND q.bucket = n.bucket
         |  WHERE q.query_id <> n.neighbor_id),
         |mt_top AS (SELECT query_id, neighbor_id FROM (
         |  SELECT c.query_id, c.neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
         |     (SELECT $cosineSql FROM (SELECT x.emb ea, y.emb eb)) DESC, c.neighbor_id) rank
         |  FROM mt_cand c JOIN e x ON x.vec_id = c.query_id
         |  JOIN e y ON y.vec_id = c.neighbor_id)
         | WHERE rank <= 3),
         |mt_tscored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
         |  FROM e q JOIN e n ON q.vec_id < 50 AND q.vec_id <> n.vec_id),
         |mt_truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM mt_tscored) WHERE rank <= 3)
         |SELECT a.query_id,
         | CAST(COALESCE(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 END), 0) AS INT) hits_at_3
         |FROM mt_top a LEFT JOIN mt_truth t
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY a.query_id ORDER BY a.query_id""".stripMargin,

    "ann_matryoshka_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) fe FROM embeddings),
         |t_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.fe ea, n.fe eb)) cos
         |  FROM e q JOIN e n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM t_scored) WHERE rank <= 3),
         |${Seq(16, 32).map { d =>
            s"""s$d AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
               |   list_sum([q.fe[i + 1] * n.fe[i + 1] FOR i IN range(0, $d)])
               |   / (sqrt(list_sum([q.fe[i + 1] * q.fe[i + 1] FOR i IN range(0, $d)]))
               |      * sqrt(list_sum([n.fe[i + 1] * n.fe[i + 1] FOR i IN range(0, $d)]))) cos
               |  FROM e q JOIN e n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
               |a$d AS (SELECT query_id, neighbor_id FROM (
               |  SELECT query_id, neighbor_id,
               |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
               |  FROM s$d) WHERE rank <= 3),
               |h$d AS (SELECT a.query_id,
               |  CAST(COALESCE(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 END), 0) AS INT) hits${d}_at_3
               | FROM a$d a LEFT JOIN truth t
               |   ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
               | GROUP BY a.query_id)""".stripMargin
          }.mkString(",\n")}
         |SELECT h16.query_id, h16.hits16_at_3, h32.hits32_at_3
         |FROM h16 JOIN h32 USING (query_id) ORDER BY query_id""".stripMargin,

    "ann_q8_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) fe FROM embeddings),
         |d AS (SELECT vec_id, fe,
         |   GREATEST(list_max([abs(x) FOR x IN fe]), 1e-30) AS scale FROM e),
         |q8 AS (SELECT vec_id,
         |   [round(x * 127.0 / scale) * scale / 127.0 FOR x IN fe] AS qe FROM d),
         |t_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.fe ea, n.fe eb)) cos
         |  FROM e q JOIN e n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM t_scored) WHERE rank <= 3),
         |q_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.qe ea, n.qe eb)) cos
         |  FROM q8 q JOIN q8 n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
         |approx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM q_scored) WHERE rank <= 3)
         |SELECT a.query_id,
         | CAST(COALESCE(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 END), 0) AS INT) hits_at_3
         |FROM approx a LEFT JOIN truth t
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY a.query_id ORDER BY a.query_id""".stripMargin,

    "ann_recall_at_k" ->
      s"""WITH $bitsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
         |   ${bucketSql("CAST(embedding AS DOUBLE[])")} bucket FROM embeddings, bits),
         |lsh_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
         |  FROM e q JOIN e n ON q.bucket = n.bucket AND q.vec_id < 50 AND q.vec_id <> n.vec_id),
         |lsh AS (SELECT 'lsh' AS method, query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM lsh_scored) WHERE rank <= 3),
         |$multiprobeCtes,
         |lsh_mp AS (SELECT 'lsh_mp' AS method, query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM mp_scored) WHERE rank <= 3),
         |cents AS (SELECT vec_id cent_id, emb ce FROM e WHERE vec_id < $IvfCentroids),
         |adist AS (SELECT v.vec_id, c.cent_id,
         |   (SELECT $cosineSql FROM (SELECT v.emb ea, c.ce eb)) ccos
         |  FROM e v CROSS JOIN cents c),
         |assign AS (SELECT vec_id, cent_id FROM (
         |  SELECT vec_id, cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) crank
         |  FROM adist) WHERE crank = 1),
         |probes AS (SELECT vec_id query_id, cent_id FROM (
         |  SELECT vec_id, cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) crank
         |  FROM adist WHERE vec_id >= $IvfQLo AND vec_id < $IvfQHi) WHERE crank <= $IvfProbe),
         |ivf_scored AS (SELECT p.query_id, a.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
         |  FROM probes p JOIN assign a USING (cent_id)
         |  JOIN e q ON q.vec_id = p.query_id
         |  JOIN e n ON n.vec_id = a.vec_id
         |  WHERE p.query_id <> a.vec_id),
         |ivf AS (SELECT 'ivf' AS method, query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM ivf_scored) WHERE rank <= 3),
         |q AS (SELECT vec_id id,
         |   [CAST(round(x * ${graft.operators.KMeans.Scale}) AS BIGINT) FOR x IN emb] qv FROM e),
         |c0 AS (SELECT id cent_id, qv cvec FROM q WHERE id < $IvfCentroids),
         |${lloydCte(1, "c0")},
         |${lloydCte(2, "c1")},
         |tr_assign AS (SELECT id, cent_id FROM (
         |  SELECT q.id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.id
         |     ORDER BY ${icosSql("q.qv", "c.cvec")} DESC, c.cent_id) r
         |  FROM q, c2 c) WHERE r = 1),
         |qq AS (SELECT id query_id, qv FROM q WHERE id >= $IvfQLo AND id < $IvfQHi),
         |tr_probes AS (SELECT query_id, cent_id FROM (
         |  SELECT qq.query_id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY qq.query_id
         |     ORDER BY ${icosSql("qq.qv", "c.cvec")} DESC, c.cent_id) r
         |  FROM qq, c2 c) WHERE r <= $IvfProbe),
         |tr_scored AS (SELECT p.query_id, a.id neighbor_id, ${icosSql("x.qv", "y.qv")} cos
         |  FROM tr_probes p JOIN tr_assign a USING (cent_id)
         |  JOIN q x ON x.id = p.query_id
         |  JOIN q y ON y.id = a.id
         |  WHERE p.query_id <> a.id),
         |ivf_tr AS (SELECT 'ivf_trained' AS method, query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM tr_scored) WHERE rank <= 3),
         |approx AS (SELECT * FROM lsh UNION ALL SELECT * FROM lsh_mp
         |           UNION ALL SELECT * FROM ivf UNION ALL SELECT * FROM ivf_tr),
         |t_scored AS (SELECT q.vec_id query_id, n.vec_id neighbor_id,
         |   (SELECT $cosineSql FROM (SELECT q.emb ea, n.emb eb)) cos
         |  FROM e q JOIN e n
         |  ON (q.vec_id < 50 OR (q.vec_id >= $IvfQLo AND q.vec_id < $IvfQHi)) AND q.vec_id <> n.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
         |  FROM t_scored) WHERE rank <= 3)
         |SELECT a.method, a.query_id,
         | CAST(COALESCE(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 END), 0) AS INT) hits_at_3
         |FROM approx a LEFT JOIN truth t
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY a.method, a.query_id
         |ORDER BY a.method, a.query_id""".stripMargin
  )
}
