package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Fence, Tables}
import graft.functions.F

/** Advanced-analytics operators beyond the reference's surface: multi-level
  * aggregation (ROLLUP), event-time session & sliding windows as batch
  * group-bys, exact percentiles, and pivot. Each has an exact DuckDB oracle
  * (the windows are expressed as gaps-and-islands / shifted tumbling
  * buckets; pivot as conditional aggregation).
  */
object AnalyticsQueries {

  private type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "agg_rollup" -> aggRollup,
    "st_session_window" -> stSessionWindow,
    "st_sliding_window" -> stSlidingWindow,
    "p_percentile" -> pPercentile,
    "p_percentile_hist" -> pPercentileHist,
    "pv_pivot" -> pvPivot,
    "a_stats_moments" -> aStatsMoments,
    "a_arg_minmax" -> aArgMinmax,
    "a_hll_exact" -> aHllExact,
    "a_hll_merge" -> aHllMerge,
    "a_bit_aggs" -> aBitAggs,
    "qa_volume_anomaly" -> qaVolumeAnomaly,
    "an_funnel" -> anFunnel,
    "an_retention" -> anRetention,
    "an_markov" -> anMarkov,
    "a_mode" -> aMode,
    "an_rfm" -> anRfm,
    "an_rfm_hist" -> anRfmHist,
    "an_pareto" -> anPareto,
    "an_cohort_ltv" -> anCohortLtv,
    "an_abtest" -> anAbtest,
    "an_basket_pairs" -> anBasketPairs,
    "an_basket_pairs_topk" -> anBasketPairsTopk,
    "an_basket_pairs_topk_auto" -> anBasketPairsTopkAuto,
    "an_attribution" -> anAttribution,
    "an_stickiness" -> anStickiness,
    "an_new_vs_returning" -> anNewVsReturning,
    "an_gini" -> anGini,
    "qa_null_profile" -> qaNullProfile,
    "qa_key_skew" -> qaKeySkew
  )

  /** Shuffle-key skew profile — the "does this key need salting?"
    * diagnostic that pairs with j_salted (the cure) and graph_degree_dist
    * (the graph-side signal): lineitem's join key hashed into 32
    * engine-replayable buckets (md5-based, NOT Spark's internal hash, so
    * DuckDB lands every row in the same bucket), each bucket flagged when
    * it exceeds 2× the mean by exact cross-multiplication
    * (bucket·32 > 2·total). One conditional aggregate; 32 output rows at
    * any corpus size. A hot key shows as a flagged bucket long before it
    * shows as a straggling task. */
  private val qaKeySkew: Q = (s, dir) => {
    import s.implicits._
    val b = Tables(s, dir, "lineitem")
      .select(pmod(graft.functions.Vectors.hash60(
        concat(lit("skew_"), $"l_suppkey".cast("string"))), lit(32)).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_rows"))
    b.withColumn("total", sum($"n_rows").over(Window.partitionBy()))
      .select($"bucket", $"n_rows",
        ($"n_rows" * 32 > $"total" * 2).as("hot"))
      .orderBy($"bucket")
  }

  /** The (l_orderkey, l_partkey) collapse + per-order (part_a < part_b)
    * pair stream both basket keys share: codegen'd hash-distinct, then a
    * co-partitioned self-join per order key — fan-out bounded by order
    * width (a ≤7-line order yields ≤21 pairs), never the parts² explosion
    * a catalog-side self-join would risk.
    *
    * MEASURED dead end (r11): rewriting this as groupBy(order) →
    * collect_set → combination-explode looked strictly better (one
    * Exchange, no per-order sort) and WAS 2× faster at sf0.1gen/sf1 —
    * then 2.7× SLOWER at sf10 (84 s vs 31 s). collect_set plans as
    * ObjectHashAggregate, which exits whole-stage codegen and falls back
    * to SORT-BASED aggregation past
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` in-memory
    * keys — at sf10 that's an external sort of the whole fact table per
    * pass; even with the threshold raised to never-fall-back it measured
    * 50 s (object-agg's per-group array buffers + the codegen break).
    * The distinct+self-join form keeps every operator inside
    * WholeStageCodegen and reuses one Exchange for both join sides. */
  private[graft] def orderPairs(li: DataFrame): DataFrame =
    li.as("x")
      .join(li.as("y"), col("x.l_orderkey") === col("y.l_orderkey")
        && col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("part_a"), col("y.l_partkey").as("part_b"))

  /** The top-20 of `pairs` (part_a, part_b, support) by support, full
    * deterministic tiebreak, each part's own order count from `single`
    * (l_partkey, n_orders) riding along as orders_a / orders_b. */
  private def top20WithSupports(pairs: DataFrame, single: DataFrame): DataFrame =
    pairs
      .join(single.select(col("l_partkey").as("part_a"), col("n_orders").as("orders_a")), "part_a")
      .join(single.select(col("l_partkey").as("part_b"), col("n_orders").as("orders_b")), "part_b")
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(20)
      .select(col("part_a"), col("part_b"), col("support"), col("orders_a"), col("orders_b"))

  /** Market-basket co-occurrence — the top-20 part pairs bought together
    * in one order, with each part's own support riding along (the inputs
    * to confidence/lift, kept as EXACT counts; the consumer divides).
    * One self-join per order key (co-partitioned), one pair aggregate,
    * top-20 by support with a full deterministic tiebreak. The remaining
    * 100 TB cost is the DISTINCT-pair aggregate itself (pair cardinality
    * grows with the catalog; measured 19× for 100× data): this exact
    * count is the baseline; [[anBasketPairsTopk]] is the shipped
    * bounded-state scale path for top-k-only consumers. */
  private val anBasketPairs: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
    val pairs = orderPairs(li)
      .groupBy($"part_a", $"part_b").agg(count(lit(1)).as("support"))
    val single = li.groupBy($"l_partkey").agg(count(lit(1)).as("n_orders"))
    top20WithSupports(pairs, single)
  }

  /** Misra–Gries capacity for [[anBasketPairsTopk]]. The sketch state is
    * ≤K (packed-long pair, count) entries ≈ tens of MB — five orders of
    * magnitude below a 100 TB pair table — and K is the certification
    * dial: everything with support > n/(K+1) is PROVABLY captured, so on
    * a Zipfian co-purchase corpus a much smaller K certifies the full
    * top-20, while this synthetic catalog is nearly FLAT (sf0.1 measures
    * supports {3×2, 2×3571, 1×1.19M}), which needs K+1 > n/2 ≈ 600k for
    * the support-2 tier to certify. 2²⁰ clears that with headroom.
    *
    * MEASURED on Zipf(1) co-purchase data (PERF.md round 12, on the
    * ScaleGen `skew` corpora): the smallest certifying capacity
    * k\* = ⌊n/s20⌋+1 is 681 / 1106 / 1678 across the skew0.01→skew1
    * CENTURY (n = 105 k → 10.9 M pairs) — sub-linear growth, so one
    * fixed K = 2¹² certifies the full top-20 at every scale, 256× below
    * this flat-corpus K — and with K < k\* the operator emitted the
    * certified PREFIX (17 of 20 rows at skew0.1/K=2¹⁰), the documented
    * refusal-by-shrinkage, observed live. PERF.md §r12 has the table. */
  private val BasketTopkK = 1 << 20

  /** Top-20 co-purchase pairs WITHOUT materializing the full pair table —
    * the bounded-state scale path [[anBasketPairs]]'s scaladoc names
    * (VERDICT r10 #2), same superset-then-exact-recount contract as
    * text_heavy_hitters:
    *
    * Pass 1 streams the order-width-bounded pair stream through ONE
    * Misra–Gries aggregate ([[graft.functions.SketchAgg.misraGries]], native
    * mergeable TypedImperativeAggregate over the pair packed into one
    * long): each partition ships a ≤K-entry
    * summary, never the pair table. Pass 2 recounts ONLY the candidates —
    * a broadcast-join filter (≤K keys is too many for `isin` codegen but
    * trivial to broadcast), so the recount groupBy shuffles at most K
    * distinct keys regardless of catalog size.
    *
    * The emitted rows are the CERTIFIED top-20: MG guarantees every pair
    * with true support > n/(K+1) survives pass 1, so the exact-recounted
    * set {support·(K+1) > n} is complete — including every tie at the
    * boundary — and its (support desc, part_a, part_b) top-20 is exactly
    * the true top-20 prefix. On a flat corpus where fewer than 20 pairs
    * clear the bound the operator emits the SHORTER certified prefix
    * rather than partition-order-dependent guesses — that refusal-by-
    * shrinkage is what keeps the result deterministic and hash-gradable
    * (the oracle replays the identical threshold). The ≤K-entry MG
    * summary never leaves the executors (VERDICT r11 #6): it lands as a
    * ONE-ROW localCheckpoint, the candidate set EXPLODES out of that row
    * into a broadcast, and the pair total rides the same row into the
    * certification filter — no data-adjacent driver hop anywhere. */
  private val anBasketPairsTopk: Q = (s, dir) =>
    basketTopkCore(s, dir, BasketTopkK)._1

  /** Candidate-count gate for the recount pass's part filter: when the
    * sketch is small, the recount pair stream is pre-shrunk to orders'
    * rows whose part appears in SOME candidate pair (a broadcast
    * semi-join on ≤2K part ids). Candidate-pair counts are EXACTLY
    * preserved — a candidate pair has both parts in the filter set, so
    * every order row that could form it survives — the filter only stops
    * regenerating the (measured 10×-per-decade, r14) pair mass between
    * cold parts. Above the gate the broadcast of up to 2·2²⁰ part ids
    * stops paying for itself on flat corpora, so the full-stream recount
    * is kept (the fixed 2²⁰ path's plan is unchanged). */
  private val RecountPartFilterMaxK = 1 << 16

  /** K-independent inputs shared across [[basketTopkCore]] passes: the
    * PERSISTED distinct order×part stream and its checkpointed per-part
    * supports. Auto-K builds one and threads it through probe AND
    * escalation so the escalated pass re-sketches from the cache instead
    * of rebuilding the distinct stream and the part supports from parquet
    * (the r14 flat-corpus toll). The holder owns `li`'s lifecycle. */
  private final case class BasketShared(li: DataFrame, single: DataFrame)

  /** Shared sketch→recount machinery for fixed-K, auto-K, and the probe:
    * returns (certified top-20 result at threshold k+1, pair-stream
    * length n, top-20 recounted-candidate supports BEFORE certification —
    * the support law the auto mode reads s′₂₀ from). With
    * `needLaw = false` (the fixed key) the law stays on the executors —
    * n rides the 1-row summary into the certification filter and the
    * returned (n, law) are (-1, empty); `needLaw = true` surfaces the two
    * driver-side scalars the auto decision needs (a 1-row head and a
    * 20-long collect — decision inputs, not data). A caller-owned
    * [[BasketShared]] replaces the per-call li build + part supports;
    * the certified output is k-deterministic either way (every emitted
    * row is exactly recounted), so sharing cannot change the result. */
  private def basketTopkCore(s: SparkSession, dir: String,
      k: Int, needLaw: Boolean = false,
      shared: Option[BasketShared] = None): (DataFrame, Long, Array[Long]) = {
    import s.implicits._
    // the distinct order×part stream is order grain — far smaller than
    // the pair stream it fans into — and is scanned three times (sketch
    // pass, recount pass, per-part supports): cache it, release once the
    // two small checkpointed products below are materialized
    val li = shared.map(_.li).getOrElse(Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct().persist())
    // pack the pair into one 64-bit key (part_a < part_b < 2³² — partkeys
    // are catalog ordinals, 32 bits holds a 4-billion-part catalog): the
    // sketch then hashes primitive longs instead of materialising a
    // "a|b" java String per pair, and the recount joins on a long column
    val pairKey = shiftleft($"part_a", 32) + $"part_b"
    // eager 1-row checkpoint: runs the sketch pass (populating the li
    // cache) and pins the ≤K summary + pair total on the executors
    val summary = orderPairs(li).agg(
      graft.functions.SketchAgg.misraGries(pairKey, k).as("cand"),
      count(lit(1)).as("n_pairs")).localCheckpoint()
    val candDf = summary.select(explode($"cand").as("pair_key"))
    val liRecount =
      if (k > RecountPartFilterMaxK) li
      else li.join(broadcast(candDf.select(explode(array(
          shiftright($"pair_key", 32),
          $"pair_key".bitwiseAND(lit((1L << 32) - 1)))).as("l_partkey"))
        .distinct()), Seq("l_partkey"), "left_semi")
    // exact candidate supports, certification NOT yet applied — ≤K rows
    val recount = orderPairs(liRecount)
      .withColumn("pair_key", pairKey)
      .join(broadcast(candDf), "pair_key")
      .groupBy($"part_a", $"part_b").agg(count(lit(1)).as("support"))
      .localCheckpoint() // eager; ≤K rows
    val (nPairs, law) =
      if (!needLaw) (-1L, Array.empty[Long])
      else (summary.select($"n_pairs").as[Long].head(),
        recount.orderBy($"support".desc, $"part_a", $"part_b")
          .limit(20).select($"support").as[Long].collect())
    val single = shared.map(_.single).getOrElse(
      li.groupBy($"l_partkey").agg(count(lit(1)).as("n_orders"))
        .localCheckpoint()) // eager; part-catalog grain
    if (shared.isEmpty)
      li.unpersist() // every li consumer is materialized above
    val result = top20WithSupports(recount
      .crossJoin(broadcast(summary.select($"n_pairs")))
      .filter($"support" * lit((k + 1).toLong) > $"n_pairs")
      .drop("n_pairs"), single)
    (result, nPairs, law)
  }

  /** Probe capacity for [[basketPairsTopkAutoK]]'s first pass — small
    * enough that the MG state is trivial (2¹⁴ packed-long entries ≈
    * 256 KB/partition, vs the 2²⁰ state behind the measured 2 GiB OOM
    * floor), large enough that on Zipfian co-purchase data the probe
    * pass itself already certifies the full top-20 (measured
    * k\* = 681–2301 across the skew0.01→10 ladder — two decades of
    * headroom below 2¹⁴) so auto stays ONE-pass on the corpora it
    * exists for. */
  private[graft] val BasketProbeK = 1 << 14

  /** AUTO-K basket top-20 (VERDICT r12 #3 / r13 #4) — derives the
    * Misra–Gries capacity from the corpus's own support law instead of
    * hardcoding the flat-corpus worst case [[BasketTopkK]] = 2²⁰ (the
    * documented 2 GiB OOM floor: 32 partitions × 2²⁰ sketch entries is
    * what PERF.md's round-12 memory-pressure run measured dying at 2 GiB).
    *
    * Pass 1: [[basketTopkCore]] at [[BasketProbeK]] — one small-state
    * sketch over the pair stream, one part-filtered exact recount. If
    * the pass certifies a FULL top-20 at its own threshold
    * (support·(probeK+1) > n for all 20), those rows are emitted
    * directly: MG completeness at probeK makes them the true top-20,
    * and certification at the TIGHTER probe threshold implies
    * certification at the oracle's 2²⁰ threshold, so the fixed-K
    * output is identical. ONE pass on any corpus whose law allows it.
    *
    * Escalation (flat/degenerate corpora): K = 4·(⌊n/s′₂₀⌋+1) clamped
    * to [2¹², 2²⁰], where s′₂₀ is the 20th-highest recounted candidate
    * support — a LOWER bound on the true s₂₀ (candidates are a subset,
    * recounts exact), or straight to the cap when the probe surfaced
    * fewer than 20 candidates. PROVABLY the fixed-K output on every
    * corpus:
    *   - unclamped: K ≥ 4·(n/s′₂₀) > n/s₂₀, so the certified set
    *     contains the full true top-20, and both K's deterministic
    *     (support desc, part_a, part_b) top-20 prefixes ARE the true
    *     top-20 (an unclamped K also implies the 2²⁰ set has ≥20 rows:
    *     4·(n/s₂₀) < 2²⁰ ⇒ s₂₀·(2²⁰+1) > n);
    *   - clamped at the cap: literally the fixed-K path.
    * So the auto key shares `an_basket_pairs_topk`'s oracle SQL verbatim
    * and is hash-graded against it. BasketAutoKSpec pins the one-pass
    * accept, both clamp edges, and the probe-underestimate overshoot;
    * PERF.md round 14 measures it on the skew ladder.
    *
    * Flat-corpus toll (VERDICT r14 nit #1): the escalation pass threads
    * the probe's PERSISTED distinct order×part stream and checkpointed
    * per-part supports ([[BasketShared]]) instead of rebuilding both
    * from parquet — the escalated sketch re-scans the cache, so the toll
    * shrinks to the probe's small-K sketch + part-filtered recount.
    * Sharing cannot change the output: both passes read the identical
    * distinct stream, and every emitted row is exactly recounted and
    * certified, making the result K-deterministic. The final result
    * references only localCheckpointed products, so unpersisting after
    * either branch is safe. */
  private[graft] def basketPairsTopkAutoK(s: SparkSession, dir: String,
      probeK: Int = BasketProbeK): (Int, DataFrame) = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct().persist()
    try {
      // eager: first li consumer — populates the cache both passes scan
      val single = li.groupBy($"l_partkey").agg(count(lit(1)).as("n_orders"))
        .localCheckpoint()
      val shared = Some(BasketShared(li, single))
      val (probe, nPairs, law) =
        basketTopkCore(s, dir, probeK, needLaw = true, shared)
      // the probe pass proves its own completeness: 20 certified rows at
      // threshold probeK+1 ⇒ they are the true top-20 ⇒ emit, one pass
      if (law.length == 20 && law.last * (probeK + 1).toLong > nPairs)
        (probeK, probe)
      else {
        val k =
          if (law.length < 20 || law.last <= 0L) BasketTopkK
          else {
            val kStar = nPairs / law.last + 1L
            math.min(BasketTopkK.toLong, math.max(1L << 12, 4L * kStar)).toInt
          }
        (k, basketTopkCore(s, dir, k, shared = shared)._1)
      }
    } finally li.unpersist()
  }

  private val anBasketPairsTopkAuto: Q = (s, dir) =>
    basketPairsTopkAutoK(s, dir)._2

  private lazy val basketTopkOracleSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
      |  COUNT(*) AS support
      | FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |   AND x.l_partkey < y.l_partkey
      | GROUP BY 1, 2),
      |n AS (SELECT CAST(SUM(support) AS BIGINT) AS n_pairs FROM p),
      |s AS (SELECT l_partkey, COUNT(*) AS n_orders FROM li GROUP BY 1)
      |SELECT part_a, part_b, support, sa.n_orders AS orders_a,
      | sb.n_orders AS orders_b
      |FROM p JOIN s sa ON p.part_a = sa.l_partkey
      | JOIN s sb ON p.part_b = sb.l_partkey
      |WHERE support * ${(BasketTopkK + 1).toLong} > (SELECT n_pairs FROM n)
      |ORDER BY support DESC, part_a, part_b LIMIT 20""".stripMargin

  /** Linear multi-touch attribution — each purchase's credit split
    * equally (floor-ppm) across the user's view/click touches in the 7
    * days strictly before it, rolled up per touch type. The floor split
    * under-credits by < n_touches µppm per purchase; that remainder law
    * is spec-pinned rather than hidden in float division.
    *
    * SKEW-SAFE PREFIX-COUNT FORM (r12): the original user-keyed
    * touch ⋈ purchase interval join is QUADRATIC IN THE HUB USER — on
    * the Zipf skew corpus the head user holds ~7 % of all events, so at
    * skew1 one user contributes ~290 k touches × 144 k purchases ≈ 10¹⁰
    * pair combinations through one reducer and the key never finished a
    * bench pass (>30 min, vs 2.15 s at skew0.1). The pair table was
    * never needed: per purchase only (n_view, n_click) in the window
    * matter, and those are PREFIX-COUNT DIFFERENCES. Two probe rows per
    * purchase (at p and at p−7d, signs ±1) union with the touch stream;
    * one per-user time-ordered window computes running view/click
    * counts; probes sorted BEFORE touches at equal timestamps make the
    * bounds exactly the oracle's t < p and t ≥ p−7d. Per-type outputs
    * are then closed forms of (n_view, n_click): n_touches = Σ n_type,
    * n_purchases = #{n_type > 0}, credit = Σ n_type·(10⁶ div n_total).
    * Cost: one user-partition window (the hub user is a single LINEAR
    * sorted task, ~n log n in its events, not n²) + a purchase-grain
    * 2-row aggregate — same oracle, same hash. */
  private val anAttribution: Q = (s, dir) => {
    import s.implicits._
    val W = 7L * 86400000000L
    val ev = Tables(s, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tus"))
    val touches = ev.filter($"event_type".isin("view", "click"))
      .select($"user_id", $"tus", lit(1).as("is_touch"),
        lit(null).cast("long").as("purchase_id"), lit(0).as("sign"),
        when($"event_type" === "view", 1L).otherwise(0L).as("v"),
        when($"event_type" === "click", 1L).otherwise(0L).as("c"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"tus".as("p_tus"))
    def probe(at: org.apache.spark.sql.Column, sign: Int) =
      purchases.select($"user_id", at.as("tus"), lit(0).as("is_touch"),
        $"purchase_id", lit(sign).as("sign"),
        lit(0L).as("v"), lit(0L).as("c"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"tus", $"is_touch") // probes first at equal tus → strict bounds
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counts = probe($"p_tus", 1)
      .unionByName(probe($"p_tus" - W, -1))
      .unionByName(touches)
      .select($"purchase_id", $"sign",
        sum($"v").over(w).as("pv"), sum($"c").over(w).as("pc"))
      .filter($"sign" =!= 0)
      .groupBy($"purchase_id")
      .agg(sum($"sign" * $"pv").as("nv"), sum($"sign" * $"pc").as("nc"))
      .filter($"nv" + $"nc" > 0)
      .withColumn("credit_per", expr("1000000 div (nv + nc)"))
    counts
      .select(explode(array(
        struct(lit("view").as("touch_type"), $"nv".as("k")),
        struct(lit("click").as("touch_type"), $"nc".as("k")))).as("s"),
        $"credit_per")
      .select($"s.touch_type".as("touch_type"), $"s.k".as("k"), $"credit_per")
      .filter($"k" > 0)
      .groupBy($"touch_type")
      .agg(sum($"k").as("n_touches"),
        count(lit(1)).as("n_purchases"),
        sum($"k" * $"credit_per").as("credit_ppm_sum"))
      .orderBy($"touch_type")
  }

  /** DAU/MAU stickiness per month as a floor-ppm integer: the average
    * daily active share of the month's actives —
    * Σdau · 10⁶ div (mau · n_days). Two distinct-collapses of the events
    * table (day grain and month grain), both on the same user key, then
    * the arithmetic on the tiny month table; the ×10⁶ is widened like
    * an_pareto's. */
  private val anStickiness: Q = (s, dir) => {
    import s.implicits._
    val ud = userDays(s, dir)
    val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
      .groupBy(date_trunc("month", $"day").cast("date").as("mo"))
      .agg(sum($"dau").as("sum_dau"), count(lit(1)).as("n_days"))
    val mau = ud.select($"user_id", date_trunc("month", $"day").cast("date").as("mo"))
      .distinct()
      .groupBy($"mo").agg(count(lit(1)).as("mau"))
    dau.join(mau, "mo")
      .select($"mo", $"sum_dau", $"n_days", $"mau",
        expr("CAST((CAST(sum_dau AS DECIMAL(38,0)) * 1000000) div (mau * n_days) AS BIGINT)")
          .as("stickiness_ppm"))
      .orderBy($"mo")
  }

  /** Per-customer order summary (o_custkey, `leading`..., cents = lifetime
    * spend in integer cents): one hash aggregate collapses the fact table
    * to customer grain, so the ranks and ntiles that follow sort the
    * customer SUMMARY — 4-5 orders of magnitude smaller than the orders
    * it summarizes — never the fact table. */
  private def customerCents(s: SparkSession, dir: String, leading: Column*): DataFrame = {
    val aggs = leading :+ sum(F.cents(col("o_totalprice"))).as("cents")
    Tables(s, dir, "orders").groupBy(col("o_custkey")).agg(aggs.head, aggs.tail: _*)
  }

  /** The RFM summary: (o_custkey, last_dt, freq, cents). */
  private def customerRfm(s: SparkSession, dir: String): DataFrame =
    customerCents(s, dir, max(col("o_orderdate")).as("last_dt"), count(lit(1)).as("freq"))

  /** The distinct (user_id, day) pairs of the events: each user's active
    * days. */
  private def userDays(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()

  /** Gini coefficient of customer spend — [[anPareto]]'s single-number
    * summary, exact: with spend ranked ascending (ties broken by
    * custkey), G = Σᵢ(2i−n−1)·xᵢ / (n·Σx). Both numerator and
    * denominator ride as exact integers (the numerator is non-negative
    * under ascending rank, so the widened floor-ppm is engine-safe), and
    * the rank runs on the customer SUMMARY with the same
    * counting-histogram escape hatch an_rfm documents. */
  private val anGini: Q = (s, dir) => {
    import s.implicits._
    val per = customerCents(s, dir)
    val w = Window.orderBy($"cents".asc, $"o_custkey".asc)
    per
      .withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_customers"),
        sum($"cents").as("total_cents"),
        sum(expr("(2 * CAST(i AS DECIMAL(38,0)) - 1) * cents")).as("wsum"))
      .select($"n_customers", $"total_cents",
        expr("""CAST(((wsum - CAST(n_customers AS DECIMAL(38,0)) * total_cents)
              |  * 1000000) div (CAST(n_customers AS DECIMAL(38,0)) * total_cents)
              |  AS BIGINT)""".stripMargin).as("gini_ppm"))
  }

  /** Daily acquisition split — each day's actives divided into NEW
    * (first-ever-seen that day) and RETURNING: the growth-accounting
    * ledger every DAU chart decomposes into. Grain drops to (user, day)
    * first; the user's first day is a per-user min re-joined on the same
    * key (co-partitioned, [[anRetention]]'s shape), so the split is one
    * conditional aggregate over the day grain. New-user total ≡ distinct
    * users, spec-pinned. */
  private val anNewVsReturning: Q = (s, dir) => {
    import s.implicits._
    val ud = userDays(s, dir)
    val first = ud.groupBy($"user_id").agg(min($"day").as("first_day"))
    ud.join(first, "user_id")
      .groupBy($"day")
      .agg(sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("n_new"),
        sum(when($"day" =!= $"first_day", 1L).otherwise(0L)).as("n_returning"))
      .orderBy($"day")
  }

  /** Column-level data profile of the orders table — the dbt-docs /
    * data-catalog summary: per column, null count and distinct count in
    * ONE pass (conditional aggregates + count_distinct side by side;
    * Spark plans the distincts as a single expand, not N scans). Output
    * is one row per column via an explode of the aggregate struct. */
  private val qaNullProfile: Q = (s, dir) => {
    import s.implicits._
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"))
    }
    Tables(s, dir, "orders")
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select($"n_rows", explode(array(cols.map(c =>
        struct(lit(c).as("column_name"),
          col(s"${c}_nulls").as("n_null"),
          col(s"${c}_distinct").as("n_distinct"))): _*)).as("r"))
      .select($"r.column_name", $"n_rows", $"r.n_null", $"r.n_distinct")
      .orderBy($"column_name")
  }

  /** A/B experiment readout with an EXACT-INTEGER significance verdict.
    * Users are hash-split into two arms (same md5 convention as
    * sample_hash_split, so assignment is engine-, partitioning- and
    * rerun-stable); conversion = the user ever purchases. The two-
    * proportion z-test fires at |z| > 1.96, decided WITHOUT floats by
    * clearing every denominator from z² > 1.96²·p̂(1−p̂)(1/n₁+1/n₂):
    *
    *   10000·N·(c₁n₂ − c₂n₁)² > 38416·C·(N−C)·n₁·n₂
    *
    * (C = c₁+c₂, N = n₁+n₂) — both sides DECIMAL(38,0)/HUGEINT. The RHS
    * scales ~N⁴/16 (and the LHS can reach ~N³), so 38-digit precision
    * holds to ~10⁸ users per arm in the worst case — still past any
    * realistic experiment, and under ANSI mode an overflow ERRORS rather
    * than silently mis-deciding. One shuffle to user grain, then a single
    * conditional-aggregate row. */
  private val anAbtest: Q = (s, dir) => {
    import s.implicits._
    val users = Tables(s, dir, "events")
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("variant",
        pmod(graft.functions.Vectors.hash60(
          concat(lit("ab_"), $"user_id".cast("string"))), lit(2)))
    users.agg(
      sum(when($"variant" === 0, 1L).otherwise(0L)).as("n_control"),
      sum(when($"variant" === 0, $"conv").otherwise(0L)).as("conv_control"),
      sum(when($"variant" === 1, 1L).otherwise(0L)).as("n_treat"),
      sum(when($"variant" === 1, $"conv").otherwise(0L)).as("conv_treat"))
      .withColumn("diff", expr(
        """CAST(conv_control AS DECIMAL(38,0)) * n_treat
          | - CAST(conv_treat AS DECIMAL(38,0)) * n_control""".stripMargin))
      .withColumn("significant", expr(
        """10000 * CAST(n_control + n_treat AS DECIMAL(38,0)) * diff * diff
          |> 38416 * CAST(conv_control + conv_treat AS DECIMAL(38,0))
          |  * CAST((n_control + n_treat) - (conv_control + conv_treat) AS DECIMAL(38,0))
          |  * CAST(n_control AS DECIMAL(38,0)) * CAST(n_treat AS DECIMAL(38,0))
          |""".stripMargin))
      .drop("diff")
  }

  /** Revenue-concentration deciles (the Pareto/ABC curve): customers
    * ranked by lifetime spend, cut into 10 equal-count buckets, each
    * bucket's share of total revenue as a floor-ppm integer. The ntile
    * sorts [[customerCents]] (at dimension scale the counting-histogram
    * rank replaces it); the running share is cumulative over ONLY 10
    * rows. */
  private val anPareto: Q = (s, dir) => {
    import s.implicits._
    val per = customerCents(s, dir)
    val wRank = Window.orderBy($"cents".desc, $"o_custkey")
    val wCum = Window.orderBy($"decile")
    per
      .withColumn("decile", ntile(10).over(wRank))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"), sum($"cents").as("sum_cents"))
      .withColumn("total", sum($"sum_cents").over(Window.partitionBy()))
      .withColumn("cum_cents", sum($"sum_cents").over(wCum))
      .select($"decile", $"n_customers", $"sum_cents",
        // widen before the ×1e6: corpus-total cents × 1e6 overflows a
        // long past ~9.2e12 total dollars (hit at the sf1 decade)
        expr("CAST((CAST(cum_cents AS DECIMAL(38,0)) * 1000000) div total AS BIGINT)")
          .as("cum_share_ppm"))
      .orderBy($"decile")
  }

  /** Cohort lifetime value — [[anRetention]]'s revenue sibling: customers
    * grouped by FIRST-order month, each cohort's cumulative spend tracked
    * by months-since-acquisition. The fact table collapses to
    * (customer, month) cents in one shuffle; the cohort month is a
    * per-customer min re-joined on the same key; the cumulative sum runs
    * over the tiny (cohort, offset) matrix. Month offset is exact integer
    * calendar arithmetic (months_between on truncated months is whole). */
  private val anCohortLtv: Q = (s, dir) => {
    import s.implicits._
    val cm = Tables(s, dir, "orders")
      .groupBy($"o_custkey",
        date_trunc("month", $"o_orderdate".cast("date")).cast("date").as("mo"))
      .agg(sum(F.cents($"o_totalprice")).as("cents"))
    val cohort = cm.groupBy($"o_custkey").agg(min($"mo").as("cohort_mo"))
    val wCum = Window.partitionBy($"cohort_mo").orderBy($"month_offset")
    cm.join(cohort, "o_custkey")
      .withColumn("month_offset",
        months_between($"mo", $"cohort_mo").cast("int"))
      .groupBy($"cohort_mo", $"month_offset")
      .agg(count(lit(1)).as("n_active"), sum($"cents").as("sum_cents"))
      .withColumn("cum_cents", sum($"sum_cents").over(wCum))
      .orderBy($"cohort_mo", $"month_offset")
  }

  /** Ordered conversion funnel view→click→purchase — the product-analytics
    * staple a clickstream warehouse runs daily. Step k's timestamp is the
    * MIN event of that type STRICTLY AFTER step k-1's timestamp, expressed
    * as three cascading unbounded windows over the SAME user_id
    * partitioning — one Exchange feeds all three Window operators, then the
    * per-user collapse reuses the hash partitioning. No self-joins, no
    * event-to-event sort beyond the single per-user pass; at 100 TB this is
    * one shuffle of the events table. Inter-step latency rides as summed
    * epoch-µs integers (exact; the consumer divides by n_users for the
    * mean), never a float average. */
  private val anFunnel: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
    val staged = Tables(s, dir, "events")
      .select($"user_id", $"event_type", $"ts".cast("timestamp").as("ts"))
      .withColumn("t1", min(when($"event_type" === "view", $"ts")).over(w))
      .withColumn("t2", min(when($"event_type" === "click" && $"ts" > $"t1", $"ts")).over(w))
      .withColumn("t3", min(when($"event_type" === "purchase" && $"ts" > $"t2", $"ts")).over(w))
    val users = staged.groupBy($"user_id")
      .agg(max($"t1").as("t1"), max($"t2").as("t2"), max($"t3").as("t3"))
    users
      .agg(
        count($"t1").as("n1"), count($"t2").as("n2"), count($"t3").as("n3"),
        sum(when($"t2".isNotNull, unix_micros($"t2") - unix_micros($"t1"))).as("lag2"),
        sum(when($"t3".isNotNull, unix_micros($"t3") - unix_micros($"t2"))).as("lag3"))
      .select(explode(array(
        struct(lit("1_view").as("step"), $"n1".as("n_users"),
          lit(null).cast("bigint").as("sum_lag_us")),
        struct(lit("2_click").as("step"), $"n2".as("n_users"),
          $"lag2".as("sum_lag_us")),
        struct(lit("3_purchase").as("step"), $"n3".as("n_users"),
          $"lag3".as("sum_lag_us")))).as("r"))
      .select($"r.step", $"r.n_users", $"r.sum_lag_us")
      .orderBy($"step")
  }

  /** Weekly cohort retention — users bucketed by FIRST-active ISO week,
    * counted in each later week they return. Grain drops to (user, week)
    * FIRST (distinct — one shuffle), the cohort week is a per-user min
    * re-joined on the same key (co-partitioned, no second wide shuffle of
    * raw events), and the offset is exact integer day-arithmetic ÷ 7 (both
    * engines truncate Mondays to Mondays, so the division is exact). Output
    * is O(weeks²) rows at any corpus size. */
  private val anRetention: Q = (s, dir) => {
    import s.implicits._
    val wk = Tables(s, dir, "events")
      .select($"user_id",
        date_trunc("week", $"ts".cast("timestamp")).cast("date").as("wk"))
      .distinct()
    val cohort = wk.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    wk.join(cohort, "user_id")
      .select($"cohort_wk",
        expr("datediff(wk, cohort_wk) div 7").cast("int").as("week_offset"))
      .groupBy($"cohort_wk", $"week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_wk", $"week_offset")
  }

  /** First-order Markov transition matrix over per-user event sequences —
    * the "what do users do next" model behind next-action prediction and
    * anomalous-flow detection. One lead() per user (ts then event_id breaks
    * timestamp ties deterministically), then a hash aggregate on the
    * (from, next) pair; the row-probability is emitted as an exact
    * parts-per-million integer ((n·10⁶) div row_total) — no float division
    * in the graded cells. Transition count = |events| − |users| by
    * construction, spec-pinned. */
  private val anMarkov: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wf = Window.partitionBy($"from_type")
    Tables(s, dir, "events")
      .select($"user_id", $"event_id", $"event_type", $"ts")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type")
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("n_from", sum($"n_trans").over(wf))
      // widened before the ×1e6: transition counts are event-scale, and
      // event-scale × 1e6 passes 2⁶³ near 9.2e12 rows (a 100 TB corpus)
      .withColumn("ppm",
        expr("CAST((CAST(n_trans AS DECIMAL(38,0)) * 1000000) div n_from AS BIGINT)"))
      .select($"from_type", $"next_type", $"n_trans", $"n_from", $"ppm")
      .orderBy($"from_type", $"next_type")
  }

  /** Exact per-group MODE (most frequent value, least-value tiebreak) —
    * the categorical summary statistic next to a_median. Two-level shape:
    * the first hash aggregate collapses the fact table to (group, value)
    * counts — after which the rank-1 window touches only the tiny count
    * table, so the "window" costs nothing at any corpus size. */
  private val aMode: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"cnt".desc, $"o_orderpriority".asc)
    Tables(s, dir, "orders")
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"),
        $"cnt".as("n_mode"))
      .orderBy($"o_orderstatus")
  }

  /** RFM segmentation — recency/frequency/monetary quartiles per customer,
    * the classic CRM mart. Each dimension of [[customerRfm]] gets an
    * ntile(4) with a FULL deterministic order (metric, custkey) so bucket
    * edges are rerun- and engine-stable; for a fact-scale dimension
    * [[anRfmHist]] is the shipped counting-histogram path (hash-identical
    * output, no global range-sort). */
  private val anRfm: Q = (s, dir) => {
    import s.implicits._
    val per = customerRfm(s, dir)
    per
      .withColumn("r_q", ntile(4).over(Window.orderBy($"last_dt".desc, $"o_custkey")))
      .withColumn("f_q", ntile(4).over(Window.orderBy($"freq".desc, $"o_custkey")))
      .withColumn("m_q", ntile(4).over(Window.orderBy($"cents".desc, $"o_custkey")))
      .transform(rfmMatrix)
  }

  /** The 64-cell RFM segment matrix: customers and spend per (r_q, f_q,
    * m_q) quartile triple. */
  private def rfmMatrix(quartiles: DataFrame): DataFrame =
    quartiles.groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))

  /** Exact ntile(4) over ascending (v, ck) WITHOUT a global range-sort —
    * the counting-sort rank construction a_median_hist /
    * train_curriculum_order proved, composed for BOTH domain regimes:
    *
    * Level A (fine domains, e.g. near-unique money totals): the value
    * HISTOGRAM gets the two-level prefix sum — per-block subtotals
    * (v div 2²⁰) cumulated in a tiny global window (block count =
    * domain/2²⁰, driver-scale), then within-block cumulation partitioned
    * by block. No task ever scans more than one block's cells.
    *
    * Level B (coarse domains, e.g. a ≤30-value order count, where one
    * value's tie group is n/30 rows): within-value rank over ck is
    * itself ck-BLOCKED — row_number partitioned by (v, ck-block) plus
    * per-value block offsets from a (v, ckblk) count cumulated over the
    * ≤domain/2²⁰ blocks of each value. A hot value parallelizes across
    * its ck blocks instead of serializing through one task.
    *
    * rank = (#rows with v' < v) + within-value ck rank, then the exact
    * ntile bucket formula (first n mod 4 buckets get ⌈n/4⌉) — bit-equal
    * to `ntile(4) OVER (ORDER BY v, ck)` at any scale, with every
    * window partitioned by a blocked key. `div` truncation on a negated
    * v is monotone non-decreasing, which is all block ordering needs
    * (blocks need not be equal-width around zero).
    *
    * The input carries a `dim` tag and ALL dimensions ride one pass:
    * every window below just adds `dim` to its partitioning, so ranking
    * the three RFM metrics costs one 3n-row stage chain instead of three
    * n-row chains — same shape, one third the stages. `n` is the row
    * count PER dim (every dim ranks the same population). */
  private def histNtile4(d: DataFrame, n: Long): DataFrame = {
    // Degenerate corpus (< 4 rows per dim): the blocked-rank machinery is
    // pointless and its n%4 bucket formula needs n >= 4 — fall back to the
    // plain ntile window (bit-identical semantics, and at this n the
    // global sort it costs is a handful of rows), instead of failing a
    // tiny-sf run the sibling an_rfm would handle (ADVICE r11).
    if (n < 4)
      return d.withColumn("q",
        ntile(4).over(Window.partitionBy(col("dim"))
          .orderBy(col("v"), col("ck"))).cast("int"))
        .select(col("dim"), col("ck"), col("q"))
    val blkW = 1L << 20
    val hist = d.groupBy(col("dim"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("blk", expr(s"v div $blkW"))
    val wBlkAll = Window.partitionBy(col("dim")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blkOff = hist.groupBy(col("dim"), col("blk")).agg(sum(col("c")).as("bc"))
      .withColumn("boff", coalesce(sum(col("bc")).over(wBlkAll), lit(0L)))
      .select(col("dim"), col("blk"), col("boff"))
    val wInBlk = Window.partitionBy(col("dim"), col("blk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val less = hist.join(broadcast(blkOff), Seq("dim", "blk"))
      .withColumn("nless", col("boff") + coalesce(sum(col("c")).over(wInBlk), lit(0L)))
      .select(col("dim"), col("v"), col("nless"))
    val ckb = d.withColumn("ckblk", expr(s"ck div $blkW"))
    val wCkOff = Window.partitionBy(col("dim"), col("v")).orderBy(col("ckblk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ckOff = ckb.groupBy(col("dim"), col("v"), col("ckblk")).agg(count(lit(1)).as("cc"))
      .withColumn("ckoff", coalesce(sum(col("cc")).over(wCkOff), lit(0L)))
      .select(col("dim"), col("v"), col("ckblk"), col("ckoff"))
    val wRn = Window.partitionBy(col("dim"), col("v"), col("ckblk")).orderBy(col("ck"))
    val base = n / 4
    val r = n % 4
    ckb.join(ckOff, Seq("dim", "v", "ckblk"))
      .withColumn("rin", col("ckoff") + row_number().over(wRn).cast("long"))
      .join(less, Seq("dim", "v"))
      .withColumn("rank", col("nless") + col("rin"))
      .withColumn("q", expr(
        s"""CASE WHEN rank <= ${r * (base + 1)}
           | THEN (rank - 1) div ${base + 1} + 1
           | ELSE $r + (rank - ${r * (base + 1)} - 1) div $base + 1
           |END""".stripMargin).cast("int"))
      .select(col("dim"), col("ck"), col("q"))
  }

  /** RFM segmentation at FACT-SCALE dimensions — [[anRfm]]'s output
    * (hash-identical 64-cell matrix; the oracle replays ntile) with the
    * three global ntile range-sorts replaced by [[histNtile4]] counting
    * ranks (VERDICT r10 #3). ntile's (metric DESC, custkey) order maps to
    * ascending (−metric, custkey); recency negates epoch-micros. The only
    * range-sort in the plan is the 64-row presentation orderBy —
    * plan-asserted, same contract as train_curriculum_order. */
  private val anRfmHist: Q = (s, dir) => {
    import s.implicits._
    val per = customerRfm(s, dir)
      // eager localCheckpoint, not persist: the customer summary is
      // scanned by count(), the dims explode, AND the final join, but a
      // persist() here would linger in executor memory for the rest of
      // the session (ADVICE r11) — checkpoint blocks are released when
      // the RDD is collected, no unpersist hook needed
      .localCheckpoint()
    val n = per.count()
    // all three metrics explode into one (dim, v, ck) stream and share a
    // single histNtile4 pass — ntile's (metric DESC, custkey) order is
    // ascending (−metric, custkey)
    val dims = per.select($"o_custkey".as("ck"), explode(array(
      struct(lit("r").as("dim"),
        (-unix_micros($"last_dt".cast("timestamp"))).as("v")),
      struct(lit("f").as("dim"), (-$"freq").as("v")),
      struct(lit("m").as("dim"), (-$"cents").as("v")))).as("s"))
      .select($"s.dim".as("dim"), $"s.v".as("v"), $"ck")
    val wide = histNtile4(dims, n)
      .groupBy($"ck".as("o_custkey"))
      .agg(max(when($"dim" === "r", $"q")).as("r_q"),
        max(when($"dim" === "f", $"q")).as("f_q"),
        max(when($"dim" === "m", $"q")).as("m_q"))
    per.join(wide, "o_custkey")
      .transform(rfmMatrix)
  }

  /** Volume-anomaly monitor — the row-count gate next to qa_drift_psi
    * (distribution) and qa_freshness (recency): each day's event count
    * against its TRAILING-7-day baseline, flagged when it exceeds 3× the
    * trailing mean or falls below ⅓ of it. Every comparison is
    * CROSS-MULTIPLIED (n7·cnt vs 3·sum7) so no division ever touches the
    * verdict — exact integers end to end, same discipline as the PSI
    * monitor. One day-grain aggregate + one 7-row window per source
    * stream; at 100 TB the windowed state is 7 counters per partition key,
    * nothing more. The first days with no full baseline report 'warmup'
    * rather than a fabricated verdict. */
  private val qaVolumeAnomaly: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "events")
      .groupBy($"ts".cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy($"day").rowsBetween(-7, -1)
    daily
      .withColumn("sum7", sum($"n_events").over(w))
      .withColumn("n7", count($"n_events").over(w))
      .withColumn("flag",
        when($"n7" < 7, "warmup")
          .when($"n7" * $"n_events" > $"sum7" * 3, "spike")
          .when($"n7" * $"n_events" * 3 < $"sum7", "drop")
          .otherwise("ok"))
      .select($"day", $"n_events",
        coalesce($"sum7", lit(0L)).as("sum7"), $"n7", $"flag")
      .orderBy($"day")
  }

  /** Bitwise aggregates (bit_or/bit_and/bit_xor) — commutative and
    * associative, so partial/final merge order can't change the result;
    * SQL text uses GROUP BY ALL (the modern dialect shorthand both
    * engines resolve to the non-aggregate select list). */
  private val aBitAggs: Q = (s, dir) => {
    // Per-invocation view name: concurrent runs on one session must not
    // overwrite each other's view (round-2 review lesson). spark.sql
    // analyzes eagerly, so dropping before returning is safe.
    val v = "orders_" + java.util.UUID.randomUUID().toString.replace("-", "")
    Tables(s, dir, "orders").createOrReplaceTempView(v)
    try s.sql(
      s"""SELECT o_orderstatus, bit_or(o_custkey) AS b_or,
         | bit_and(o_custkey) AS b_and, bit_xor(o_custkey) AS b_xor,
         | COUNT(*) AS n
         |FROM $v GROUP BY ALL ORDER BY o_orderstatus""".stripMargin)
    finally s.catalog.dropTempView(v)
  }

  /** ROLLUP over (status, priority): per-group, per-status, and grand
    * totals in one pass (Expand + single shuffle — no re-scan per level). */
  private val aggRollup: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        F.moneySum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** Event-time session windows (30-min inactivity gap) as a batch
    * aggregate — the batch twin of streaming sessionization
    * (graft.streaming.Streams.sessionizeCents). Spark merges events whose
    * timestamp is strictly inside the previous event's [ts, ts+gap). */
  private val stSessionWindow: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        F.moneySum($"value").as("total_value"))
      .select($"user_id", $"w.start".cast("timestamp_ntz").as("session_start"),
        $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start")
  }

  /** Sliding window: 2-day windows advancing by 1 day — every event lands
    * in exactly two windows (Expand, no self-join). */
  private val stSlidingWindow: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy(window($"ts", "2 days", "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .select($"w.start".cast("timestamp_ntz").as("window_start"),
        $"n_events", $"n_users")
      .orderBy($"window_start")
  }

  /** Exact percentiles (linear interpolation) per group.
    *
    * FENCED like a_median (r15, the skew10 full-suite catch): `percentile()`
    * is the SAME value-buffering aggregate class as `median()` — a
    * per-group value→count map rides the shuffle and merges on the
    * reducer, so on a near-unique price domain the state IS the corpus
    * (measured 109 s at skew10's 15 M orders vs 5.7 s at skew1 — the
    * decade is in the map merge, not the math). The probe is one linear
    * approx_count_distinct pass over exactly what the aggregate would
    * buffer; the budget it shares with a_median
    * ([[graft.Fence.MedianStateRows]]) passes the driver sf0.1 gate and
    * skew1 and refuses the skew10-density corpora, naming the
    * bounded-state twin [[pPercentileHist]]. The probe is
    * memoized per session × dir ([[ProbeCache]], VERDICT r15 #5) and its
    * HLL estimate carries ~2% relative error — corpora within that slack
    * of the budget may admit or refuse across regenerations. */
  private val pPercentile: Q = (s, dir) => {
    import s.implicits._
    val orders = Tables(s, dir, "orders")
    val stateRows = ProbeCache.cached(s, s"pPercentileState#$dir") {
      orders
        .agg(approx_count_distinct(struct($"o_orderstatus", $"o_totalprice")).as("d"))
        .head().getLong(0)
    }
    Fence.check(s, Fence.MedianStateRows, "p_percentile", stateRows)(
      s"value-buffering percentile() state is ~$stateRows (group, value) " +
        "entries, ±2% HLL probe error — data-proportional reducer memory",
      "Use the bounded-state exact twin p_percentile_hist (counting-histogram " +
        "quartiles, exact integer cells)",
      "the buffering baseline")
    orders
      .groupBy($"o_orderstatus")
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("median"),
        expr("percentile(o_totalprice, 0.75)").as("p75"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderstatus")
  }

  /** EXACT quartiles at scale — [[pPercentile]]'s values with bounded
    * state, the a_median_hist treatment applied to the interpolating
    * quantile triple. One hash aggregate builds the (status, price-cents)
    * counting histogram — state bounded by the VALUE DOMAIN, not the
    * corpus — then the two-level distributed prefix sum (per-block
    * offsets + within-block cumulative window, so no group's whole value
    * domain serializes through one task) and the classic counting-sort
    * rank pick at the three interpolation positions. Linear interpolation
    * at position (n−1)·k/4 is kept integer-exact by emitting 4× the cent
    * value: p_x4 = 4·v_lo + rem·(v_hi − v_lo) where rem = (n−1)·k mod 4 —
    * every graded cell is a BIGINT, no float crosses the gate (divide by
    * 400 to read dollars). */
  private val pPercentileHist: Q = (s, dir) => {
    import s.implicits._
    val hist = Tables(s, dir, "orders")
      .select($"o_orderstatus",
        F.cents($"o_totalprice").as("v"))
      .groupBy($"o_orderstatus", $"v")
      .agg(count(lit(1)).as("c"))
    val hb = hist.withColumn("blk", expr(s"v div ${1L << 20}"))
    val wBlk = Window.partitionBy($"o_orderstatus").orderBy($"blk")
    val offsets = hb.groupBy($"o_orderstatus", $"blk")
      .agg(sum($"c").as("bc"))
      .withColumn("off", sum($"bc").over(wBlk) - $"bc")
      .select($"o_orderstatus", $"blk", $"off")
    val wIn = Window.partitionBy($"o_orderstatus", $"blk").orderBy($"v")
    val totals = hist.groupBy($"o_orderstatus").agg(sum($"c").as("n"))
    // v at 0-indexed rank r is the least v with cum >= r+1; for quartile k
    // the interpolation pair sits at lo = (n-1)*k div 4 and lo+1 (only
    // consulted when rem > 0, where lo+2 <= n always holds)
    def vAt(offset: Int, k: Int) =
      min(when($"cum" >= expr(s"((n - 1) * $k) div 4 + $offset"), $"v"))
    def px4(k: Int, lo: Column, hi: Column) = {
      val rem = pmod(($"n_orders" - 1) * k, lit(4))
      when(rem === 0, lo * 4).otherwise(lo * 4 + rem * (hi - lo))
    }
    hb.withColumn("incum", sum($"c").over(wIn))
      .join(broadcast(offsets), Seq("o_orderstatus", "blk"))
      .withColumn("cum", $"incum" + $"off")
      .join(broadcast(totals), Seq("o_orderstatus"))
      .groupBy($"o_orderstatus")
      .agg(max($"n").as("n_orders"),
        vAt(1, 1).as("v1lo"), vAt(2, 1).as("v1hi"),
        vAt(1, 2).as("v2lo"), vAt(2, 2).as("v2hi"),
        vAt(1, 3).as("v3lo"), vAt(2, 3).as("v3hi"))
      .select($"o_orderstatus", $"n_orders",
        px4(1, $"v1lo", $"v1hi").as("p25_x4_cents"),
        px4(2, $"v2lo", $"v2hi").as("med_x4_cents"),
        px4(3, $"v3lo", $"v3hi").as("p75_x4_cents"))
      .orderBy($"o_orderstatus")
  }

  /** Pivot: order counts by priority × status → one column per status. */
  private val pvPivot: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .orderBy($"o_orderpriority")
  }

  /** Statistical moments the DETERMINISTIC way: stddev/variance/correlation
    * from exact decimal/integer power sums, converted to double only in the
    * final closed-form formulas. Built-in stddev/corr merge partial states
    * in partition order (float, nondeterministic across engines/runs);
    * exact sums are order-free, so this matches any engine bit-for-bit.
    *
    * Oracle-side subtlety: once a sum's unscaled value exceeds 2^53,
    * DuckDB's direct DECIMAL→DOUBLE cast double-rounds (int128→double,
    * then ÷10^scale) while Spark's BigDecimal path rounds once — a
    * last-ulp divergence that surfaced at sf0.1 on the x² sum. The oracle
    * therefore converts via VARCHAR (strtod: correctly rounded, same as
    * Java) so both engines make ONE rounding from the same exact decimal. */
  private val aStatsMoments: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum(F.money($"o_totalprice")).cast("decimal(38,2)").as("sx"),
        sum(F.money($"o_totalprice") * F.money($"o_totalprice")).cast("decimal(38,4)").as("sxx"),
        sum($"o_custkey").as("sy"),
        sum($"o_custkey" * $"o_custkey").as("syy"),
        sum(F.money($"o_totalprice") * $"o_custkey").cast("decimal(38,2)").as("sxy"))
      .select($"o_orderstatus", $"n",
        ($"sx".cast("double") / $"n").as("mean_price"),
        (($"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"n") / ($"n" - 1))
          .as("var_price"),
        sqrt(($"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"n") / ($"n" - 1))
          .as("std_price"),
        (($"sxy".cast("double") - $"sx".cast("double") * $"sy".cast("double") / $"n")
          / sqrt(($"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"n")
            * ($"syy".cast("double") - $"sy".cast("double") * $"sy".cast("double") / $"n")))
          .as("corr_price_cust"))
      .orderBy($"o_orderstatus")
  }

  // ------------------------------------------------------- arg-min/arg-max
  /** min_by/max_by: per nation, the customer holding the extreme account
    * balance. The ordering value is the STRUCT (acctbal, custkey) —
    * lexicographic comparison makes the pick unique without arithmetic
    * (ADVICE r3: a numeric composite like acctbal·1e7 + custkey lets the
    * tiebreak outweigh a real acctbal difference once custkey exceeds the
    * multiplier/step ratio, and larger multipliers overflow double's 2^53
    * integer range at scale; struct ordering has neither failure mode).
    * One partial+final hash aggregate, same cost as any groupBy. */
  private val aArgMinmax: Q = (s, dir) => {
    import s.implicits._
    val ord = struct($"c_acctbal", $"c_custkey")
    Tables(s, dir, "customer")
      .groupBy($"c_nationkey")
      .agg(max_by($"c_custkey", ord).as("richest_custkey"),
        min_by($"c_custkey", ord).as("poorest_custkey"),
        max($"c_acctbal").cast("double").as("max_acctbal"))
      .orderBy($"c_nationkey")
  }

  // -------------------------------------------------- exact-replayable HLL
  /** HyperLogLog with every value oracle-checkable — unlike
    * approx_count_distinct (whose HLL++ registers no other engine can
    * replay), this builds the sketch from md5-derived hashes so DuckDB
    * reproduces it bit-for-bit: bucket = low 10 hash bits, rho from the
    * bit length of the remaining 50, registers summed EXACTLY as
    * 2^(50-rho) integers (dyadic terms in int64 — no float-order
    * nondeterminism), and one final scalar division/log rounded to 4
    * decimals. Small-range linear counting applies below 2.5m, as in the
    * published algorithm. Plan shape = two hash aggregates (per-bucket
    * max, then the 1024-row register fold) — the same partial/final
    * shape a native HLL aggregate executes, at any scale. */
  private val aHllExact: Q = (s, dir) => {
    import s.implicits._
    val m = HllM
    hllFold(hllRegisters(s, dir))
      .select($"m_used", $"reg_sum",
        round(lit(AlphaM2) / (((lit(m.toLong) - $"m_used").cast("double") * Pow250
          + $"reg_sum".cast("double")) / Pow250), 4).as("est_raw"),
        hllLinear)
      .withColumn("estimate",
        when($"est_raw" <= 2.5 * m && $"m_used" < m, $"est_linear")
          .otherwise($"est_raw"))
  }

  // ---------------------------------------------------- HLL mergeability
  /** The property that makes sketches DISTRIBUTED: per-partition sketches
    * merge by per-bucket register max, losslessly. Registers are built per
    * order status (the "partitions"), merged with max(rho) per bucket, and
    * the merged register sum is emitted next to the directly-built global
    * register sum — equal by construction, and the oracle re-derives both
    * from scratch. This is exactly how a 1000-executor HLL works: each
    * executor owns registers for its split, the final reduce is a 1024-row
    * max — no raw keys ever cross the network. */
  private val aHllMerge: Q = (s, dir) => {
    import s.implicits._
    val regs = hllRegisters(s, dir, $"o_orderstatus")
    val merged = hllFold(regs.groupBy($"bucket").agg(max($"rho").as("rho")))
    val nGroups = regs.select($"o_orderstatus").distinct()
      .agg(count(lit(1)).as("n_groups"))
    merged.crossJoin(broadcast(nGroups))
      .select($"n_groups", $"m_used", $"reg_sum", hllLinear)
  }

  /** HLL register count m: the low 10 hash bits pick the bucket. */
  private val HllM = 1024

  /** HLL registers of the orders' customer keys per (`by`..., bucket):
    * `rho` is the max of 51 − the bit length of the 50 hash bits above
    * the bucket (50 when they are all zero). */
  private def hllRegisters(s: SparkSession, dir: String, by: Column*): DataFrame =
    Tables(s, dir, "orders")
      .select(by :+ graft.functions.Vectors.hash60(
        concat(lit("hll_"), col("o_custkey").cast("string"))).as("hv"): _*)
      .select(by :+ pmod(col("hv"), lit(HllM.toLong)).as("bucket") :+
        expr(s"hv div $HllM").as("rem"): _*)
      .groupBy(by :+ col("bucket"): _*)
      .agg(max(when(col("rem") === 0, 50)
        .otherwise(least(lit(51) - length(bin(col("rem"))), lit(50)))).as("rho"))

  /** Fold one register per bucket into (m_used, reg_sum), the register
    * sum as exact 2^(50-rho) integers. */
  private def hllFold(regs: DataFrame): DataFrame =
    regs.agg(count(lit(1)).as("m_used"),
      sum(expr("shiftleft(cast(1 as bigint), cast(50 - rho as int))")).as("reg_sum"))

  /** Small-range linear counting m·ln(m / (m − m_used)), NULL when every
    * register is occupied: ln(m/0) = Infinity renders engine-dependently
    * in DuckDB, and linear counting does not apply there anyway. */
  private def hllLinear: Column =
    when(col("m_used") < HllM,
      round(lit(HllM.toDouble) * log(lit(HllM.toDouble) / (lit(HllM.toLong) - col("m_used"))
        .cast("double")), 4)).as("est_linear")

  /** 0.7213/(1+1.079/m)·m² for m=1024 (Flajolet et al.'s alpha), computed
    * once and inlined as the SAME double literal into the oracle SQL. */
  private val AlphaM2: Double = 0.7213 / (1.0 + 1.079 / 1024) * (1024.0 * 1024.0)
  private val Pow250: Double = 1125899906842624.0 // 2^50

  def oracle: Map[String, String] = Map(
    "an_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |  FROM events),
        |t AS (SELECT user_id, event_type AS touch_type, tus AS t_tus
        | FROM ev WHERE event_type IN ('view', 'click')),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS p_tus
        | FROM ev WHERE event_type = 'purchase'),
        |pairs AS (SELECT touch_type, purchase_id
        | FROM t JOIN p USING (user_id)
        | WHERE t_tus < p_tus AND t_tus >= p_tus - 604800000000),
        |c AS (SELECT touch_type, purchase_id,
        |  1000000 // COUNT(*) OVER (PARTITION BY purchase_id) AS credit_ppm
        | FROM pairs)
        |SELECT touch_type, COUNT(*) AS n_touches,
        | COUNT(DISTINCT purchase_id) AS n_purchases,
        | CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm_sum
        |FROM c GROUP BY touch_type ORDER BY touch_type""".stripMargin,

    "an_basket_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |  COUNT(*) AS support
        | FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |   AND x.l_partkey < y.l_partkey
        | GROUP BY 1, 2),
        |s AS (SELECT l_partkey, COUNT(*) AS n_orders FROM li GROUP BY 1)
        |SELECT part_a, part_b, support, sa.n_orders AS orders_a,
        | sb.n_orders AS orders_b
        |FROM p JOIN s sa ON p.part_a = sa.l_partkey
        | JOIN s sb ON p.part_b = sb.l_partkey
        |ORDER BY support DESC, part_a, part_b LIMIT 20""".stripMargin,

    // replays the CERTIFIED-prefix contract: MG guarantees completeness of
    // {support·(K+1) > n}, so the oracle computes that set exactly and
    // takes the same deterministic top-20
    "an_basket_pairs_topk" -> basketTopkOracleSql,
    // the auto-K twin shares the fixed-K oracle VERBATIM — the scaladoc
    // proof on basketPairsTopkAutoK is that the derived-K output equals
    // the fixed-K output on every corpus, so one SQL grades both
    "an_basket_pairs_topk_auto" -> basketTopkOracleSql,

    "an_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |d AS (SELECT CAST(date_trunc('month', day) AS DATE) AS mo,
        |  CAST(SUM(dau) AS BIGINT) AS sum_dau, COUNT(*) AS n_days
        | FROM (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day) GROUP BY 1),
        |m AS (SELECT mo, COUNT(*) AS mau FROM
        |  (SELECT DISTINCT user_id, CAST(date_trunc('month', day) AS DATE) AS mo
        |   FROM ud) GROUP BY mo)
        |SELECT d.mo, sum_dau, n_days, mau,
        | CAST((CAST(sum_dau AS HUGEINT) * 1000000) // (mau * n_days) AS BIGINT)
        |   AS stickiness_ppm
        |FROM d JOIN m ON d.mo = m.mo ORDER BY d.mo""".stripMargin,

    "qa_key_skew" ->
      """WITH b AS (SELECT
        |  CAST(CONCAT('0x', SUBSTR(md5(CONCAT('skew_', CAST(l_suppkey AS VARCHAR))),1,15)) AS BIGINT) % 32 AS bucket
        | FROM lineitem),
        |g AS (SELECT bucket, COUNT(*) AS n_rows FROM b GROUP BY bucket),
        |t AS (SELECT *, SUM(n_rows) OVER () AS total FROM g)
        |SELECT bucket, n_rows, n_rows * 32 > total * 2 AS hot
        |FROM t ORDER BY bucket""".stripMargin,

    "an_gini" ->
      """WITH per AS (SELECT o_custkey,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY o_custkey),
        |r AS (SELECT cents,
        |  CAST(ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey ASC) AS BIGINT) AS i
        | FROM per),
        |a AS (SELECT COUNT(*) AS n_customers,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  SUM((2 * CAST(i AS HUGEINT) - 1) * cents) AS wsum
        | FROM r)
        |SELECT n_customers, total_cents,
        | CAST(((wsum - CAST(n_customers AS HUGEINT) * total_cents) * 1000000)
        |   // (CAST(n_customers AS HUGEINT) * total_cents) AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin,

    "an_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id)
        |SELECT day,
        | CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        | CAST(SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
        |FROM ud JOIN f USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin,

    "qa_null_profile" ->
      """WITH a AS (SELECT COUNT(*) AS n_rows,
        |  SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS k1n,
        |  COUNT(DISTINCT o_orderkey) AS k1d,
        |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS k2n,
        |  COUNT(DISTINCT o_custkey) AS k2d,
        |  SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS k3n,
        |  COUNT(DISTINCT o_orderstatus) AS k3d,
        |  SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS k4n,
        |  COUNT(DISTINCT o_totalprice) AS k4d,
        |  SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS k5n,
        |  COUNT(DISTINCT o_orderdate) AS k5d,
        |  SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS k6n,
        |  COUNT(DISTINCT o_orderpriority) AS k6d
        | FROM orders)
        |SELECT column_name, n_rows, CAST(n_null AS BIGINT) AS n_null,
        | CAST(n_distinct AS BIGINT) AS n_distinct FROM (
        | SELECT 'o_orderkey' AS column_name, n_rows, k1n AS n_null, k1d AS n_distinct FROM a
        | UNION ALL SELECT 'o_custkey', n_rows, k2n, k2d FROM a
        | UNION ALL SELECT 'o_orderstatus', n_rows, k3n, k3d FROM a
        | UNION ALL SELECT 'o_totalprice', n_rows, k4n, k4d FROM a
        | UNION ALL SELECT 'o_orderdate', n_rows, k5n, k5d FROM a
        | UNION ALL SELECT 'o_orderpriority', n_rows, k6n, k6d FROM a)
        |ORDER BY column_name""".stripMargin,

    "an_abtest" ->
      """WITH u AS (SELECT user_id,
        |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |  CAST(CONCAT('0x', SUBSTR(md5(CONCAT('ab_', CAST(user_id AS VARCHAR))),1,15)) AS BIGINT) % 2 AS variant
        | FROM events GROUP BY user_id),
        |a AS (SELECT
        |  CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
        |  CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_control,
        |  CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
        |  CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_treat
        | FROM u)
        |SELECT n_control, conv_control, n_treat, conv_treat,
        | 10000 * CAST(n_control + n_treat AS HUGEINT)
        |   * (CAST(conv_control AS HUGEINT) * n_treat - CAST(conv_treat AS HUGEINT) * n_control)
        |   * (CAST(conv_control AS HUGEINT) * n_treat - CAST(conv_treat AS HUGEINT) * n_control)
        | > 38416 * CAST(conv_control + conv_treat AS HUGEINT)
        |   * CAST((n_control + n_treat) - (conv_control + conv_treat) AS HUGEINT)
        |   * CAST(n_control AS HUGEINT) * CAST(n_treat AS HUGEINT) AS significant
        |FROM a""".stripMargin,

    "an_pareto" ->
      """WITH per AS (SELECT o_custkey,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY o_custkey),
        |d AS (SELECT cents,
        |  ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile FROM per),
        |g AS (SELECT decile, COUNT(*) AS n_customers,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents FROM d GROUP BY decile),
        |c AS (SELECT *, SUM(sum_cents) OVER () AS total,
        |  SUM(sum_cents) OVER (ORDER BY decile) AS cum_cents FROM g)
        |SELECT decile, n_customers, sum_cents,
        | CAST((CAST(cum_cents AS HUGEINT) * 1000000) // total AS BIGINT) AS cum_share_ppm
        |FROM c ORDER BY decile""".stripMargin,

    "an_cohort_ltv" ->
      """WITH cm AS (SELECT o_custkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1, 2),
        |cohort AS (SELECT o_custkey, MIN(mo) AS cohort_mo FROM cm GROUP BY 1),
        |g AS (SELECT cohort_mo,
        |  CAST(datediff('month', cohort_mo, mo) AS INT) AS month_offset,
        |  COUNT(*) AS n_active, CAST(SUM(cents) AS BIGINT) AS sum_cents
        | FROM cm JOIN cohort USING (o_custkey) GROUP BY 1, 2)
        |SELECT cohort_mo, month_offset, n_active, sum_cents,
        | CAST(SUM(sum_cents) OVER (PARTITION BY cohort_mo
        |   ORDER BY month_offset) AS BIGINT) AS cum_cents
        |FROM g ORDER BY cohort_mo, month_offset""".stripMargin,

    "an_funnel" ->
      """WITH s1 AS (SELECT user_id, event_type, ts,
        |  MIN(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM events),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t3 FROM s2),
        |u AS (SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
        |  FROM s3 GROUP BY user_id),
        |agg AS (SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3,
        |  CAST(SUM(CASE WHEN t2 IS NOT NULL THEN epoch_us(t2) - epoch_us(t1) END) AS BIGINT) AS lag2,
        |  CAST(SUM(CASE WHEN t3 IS NOT NULL THEN epoch_us(t3) - epoch_us(t2) END) AS BIGINT) AS lag3
        | FROM u)
        |SELECT '1_view' AS step, n1 AS n_users, CAST(NULL AS BIGINT) AS sum_lag_us FROM agg
        |UNION ALL SELECT '2_click', n2, lag2 FROM agg
        |UNION ALL SELECT '3_purchase', n3, lag3 FROM agg
        |ORDER BY step""".stripMargin,

    "an_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk GROUP BY user_id)
        |SELECT cohort_wk,
        | CAST((wk.wk - cohort.cohort_wk) // 7 AS INT) AS week_offset,
        | COUNT(*) AS n_users
        |FROM wk JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin,

    "an_markov" ->
      """WITH nxt AS (SELECT event_type AS from_type,
        |  LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        | FROM events),
        |c AS (SELECT from_type, next_type, COUNT(*) AS n_trans
        | FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT *, CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT) AS n_from FROM c)
        |SELECT from_type, next_type, n_trans, n_from,
        | CAST((CAST(n_trans AS HUGEINT) * 1000000) // n_from AS BIGINT) AS ppm
        |FROM t ORDER BY from_type, next_type""".stripMargin,

    "a_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |  ORDER BY cnt DESC, o_orderpriority ASC) AS rn FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS n_mode
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,

    "an_rfm" ->
      """WITH per AS (SELECT o_custkey, MAX(o_orderdate) AS last_dt,
        |  COUNT(*) AS freq,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY o_custkey),
        |q AS (SELECT cents,
        |  ntile(4) OVER (ORDER BY last_dt DESC, o_custkey) AS r_q,
        |  ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
        |  ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS m_q
        | FROM per)
        |SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
        | CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin,

    // the histogram path must reproduce ntile bit-for-bit: the oracle IS
    // the ntile replay (identical to an_rfm's, INT-cast to match Spark's
    // ntile output type)
    "an_rfm_hist" ->
      """WITH per AS (SELECT o_custkey, MAX(o_orderdate) AS last_dt,
        |  COUNT(*) AS freq,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY o_custkey),
        |q AS (SELECT cents,
        |  CAST(ntile(4) OVER (ORDER BY last_dt DESC, o_custkey) AS INT) AS r_q,
        |  CAST(ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS INT) AS f_q,
        |  CAST(ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS INT) AS m_q
        | FROM per)
        |SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
        | CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin,

    "qa_volume_anomaly" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, n_events,
        |  COALESCE(SUM(n_events) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS sum7,
        |  COUNT(n_events) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n7
        | FROM daily)
        |SELECT day, n_events, CAST(sum7 AS BIGINT) AS sum7, CAST(n7 AS BIGINT) AS n7,
        | CASE WHEN n7 < 7 THEN 'warmup'
        |      WHEN n7 * n_events > sum7 * 3 THEN 'spike'
        |      WHEN n7 * n_events * 3 < sum7 THEN 'drop'
        |      ELSE 'ok' END AS flag
        |FROM w ORDER BY day""".stripMargin,

    "a_bit_aggs" ->
      """SELECT o_orderstatus, bit_or(o_custkey) AS b_or,
        | bit_and(o_custkey) AS b_and, bit_xor(o_custkey) AS b_xor,
        | COUNT(*) AS n
        |FROM orders GROUP BY ALL ORDER BY o_orderstatus""".stripMargin,

    "a_hll_merge" ->
      """WITH h AS (SELECT o_orderstatus,
        |  CAST(CONCAT('0x', SUBSTR(md5('hll_' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM orders),
        |b AS (SELECT o_orderstatus, hv % 1024 AS bucket, hv // 1024 AS rem FROM h),
        |r AS (SELECT o_orderstatus, bucket,
        |  MAX(CASE WHEN rem = 0 THEN 50 ELSE LEAST(51 - length(bin(rem)), 50) END) AS rho
        |  FROM b GROUP BY 1, 2),
        |mrg AS (SELECT bucket, MAX(rho) AS rho FROM r GROUP BY bucket),
        |s AS (SELECT COUNT(*) AS m_used,
        |  CAST(SUM(CAST(1 AS BIGINT) << (50 - rho)) AS BIGINT) AS reg_sum FROM mrg),
        |g AS (SELECT COUNT(DISTINCT o_orderstatus) AS n_groups FROM orders)
        |SELECT n_groups, m_used, reg_sum,
        | CASE WHEN m_used < 1024
        |  THEN round(1024.0 * ln(1024.0 / CAST(1024 - m_used AS DOUBLE)), 4) END AS est_linear
        |FROM s CROSS JOIN g""".stripMargin,

    // DuckDB's arg_max can't order by a STRUCT; the window replay below is
    // the same lexicographic (acctbal, custkey) extreme Spark's
    // max_by/min_by-over-struct picks.
    "a_arg_minmax" ->
      """WITH r AS (SELECT c_nationkey, c_custkey, c_acctbal,
        |  ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey DESC) rmax,
        |  ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC) rmin
        | FROM customer)
        |SELECT c_nationkey,
        | MAX(CASE WHEN rmax = 1 THEN c_custkey END) AS richest_custkey,
        | MAX(CASE WHEN rmin = 1 THEN c_custkey END) AS poorest_custkey,
        | CAST(max(c_acctbal) AS DOUBLE) AS max_acctbal
        |FROM r GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "a_hll_exact" -> {
      s"""WITH h AS (SELECT CAST(CONCAT('0x', SUBSTR(md5('hll_' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
         |  FROM orders),
         |b AS (SELECT hv % 1024 AS bucket, hv // 1024 AS rem FROM h),
         |r AS (SELECT bucket, MAX(CASE WHEN rem = 0 THEN 50 ELSE LEAST(51 - length(bin(rem)), 50) END) AS rho
         |  FROM b GROUP BY bucket),
         |s AS (SELECT COUNT(*) AS m_used,
         |  CAST(SUM(CAST(1 AS BIGINT) << (50 - rho)) AS BIGINT) AS reg_sum FROM r)
         |SELECT m_used, reg_sum,
         | round(CAST($AlphaM2 AS DOUBLE)
         |   / ((CAST(1024 - m_used AS DOUBLE) * $Pow250 + CAST(reg_sum AS DOUBLE)) / $Pow250), 4) AS est_raw,
         | CASE WHEN m_used < 1024
         |  THEN round(1024.0 * ln(1024.0 / CAST(1024 - m_used AS DOUBLE)), 4) END AS est_linear,
         | CASE WHEN round(CAST($AlphaM2 AS DOUBLE)
         |   / ((CAST(1024 - m_used AS DOUBLE) * $Pow250 + CAST(reg_sum AS DOUBLE)) / $Pow250), 4) <= 2560.0
         |   AND m_used < 1024
         |  THEN round(1024.0 * ln(1024.0 / CAST(1024 - m_used AS DOUBLE)), 4)
         |  ELSE round(CAST($AlphaM2 AS DOUBLE)
         |   / ((CAST(1024 - m_used AS DOUBLE) * $Pow250 + CAST(reg_sum AS DOUBLE)) / $Pow250), 4) END AS estimate
         |FROM s""".stripMargin
    },

    "a_stats_moments" ->
      """WITH sums AS (
        | SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sx,
        |  CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sxx,
        |  CAST(SUM(o_custkey) AS DOUBLE) AS sy,
        |  CAST(SUM(o_custkey * o_custkey) AS DOUBLE) AS syy,
        |  CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * o_custkey) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sxy
        | FROM orders GROUP BY 1)
        |SELECT o_orderstatus, n,
        | sx / n AS mean_price,
        | (sxx - sx * sx / n) / (n - 1) AS var_price,
        | sqrt((sxx - sx * sx / n) / (n - 1)) AS std_price,
        | (sxy - sx * sy / n)
        |  / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_price_cust
        |FROM sums ORDER BY o_orderstatus""".stripMargin,

    "agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "st_session_window" ->
      """WITH marks AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        | SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        | FROM marks)
        |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "st_sliding_window" ->
      """WITH assigned AS (
        | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id FROM events
        | UNION ALL
        | SELECT CAST(date_trunc('day', ts) - INTERVAL 1 DAY AS TIMESTAMP), user_id FROM events)
        |SELECT window_start, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM assigned GROUP BY 1 ORDER BY window_start""".stripMargin,

    "p_percentile" ->
      """SELECT o_orderstatus,
        | quantile_cont(o_totalprice, 0.25) AS p25,
        | quantile_cont(o_totalprice, 0.5) AS median,
        | quantile_cont(o_totalprice, 0.75) AS p75,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

    // replays the counting-histogram rank pick: cumulative counts over the
    // cent-value histogram, v at 0-indexed rank r = least v with cum >= r+1,
    // quartile k interpolated at (n-1)*k/4 in exact quarter-cent units
    "p_percentile_hist" ->
      """WITH pph_hist AS (
        | SELECT o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |        COUNT(*) AS c
        | FROM orders GROUP BY 1, 2),
        |pph_cum AS (
        | SELECT o_orderstatus, v,
        |        SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY v) AS cum
        | FROM pph_hist),
        |pph_n AS (SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1),
        |pph_agg AS (
        | SELECT c.o_orderstatus, MAX(n.n) AS n_orders,
        |  MIN(CASE WHEN c.cum >= ((n.n - 1) * 1) // 4 + 1 THEN c.v END) AS v1lo,
        |  MIN(CASE WHEN c.cum >= ((n.n - 1) * 1) // 4 + 2 THEN c.v END) AS v1hi,
        |  MIN(CASE WHEN c.cum >= ((n.n - 1) * 2) // 4 + 1 THEN c.v END) AS v2lo,
        |  MIN(CASE WHEN c.cum >= ((n.n - 1) * 2) // 4 + 2 THEN c.v END) AS v2hi,
        |  MIN(CASE WHEN c.cum >= ((n.n - 1) * 3) // 4 + 1 THEN c.v END) AS v3lo,
        |  MIN(CASE WHEN c.cum >= ((n.n - 1) * 3) // 4 + 2 THEN c.v END) AS v3hi
        | FROM pph_cum c JOIN pph_n n USING (o_orderstatus)
        | GROUP BY 1)
        |SELECT o_orderstatus, n_orders,
        | CASE WHEN (n_orders - 1) * 1 % 4 = 0 THEN v1lo * 4
        |      ELSE v1lo * 4 + ((n_orders - 1) * 1 % 4) * (v1hi - v1lo) END AS p25_x4_cents,
        | CASE WHEN (n_orders - 1) * 2 % 4 = 0 THEN v2lo * 4
        |      ELSE v2lo * 4 + ((n_orders - 1) * 2 % 4) * (v2hi - v2lo) END AS med_x4_cents,
        | CASE WHEN (n_orders - 1) * 3 % 4 = 0 THEN v3lo * 4
        |      ELSE v3lo * 4 + ((n_orders - 1) * 3 % 4) * (v3hi - v3lo) END AS p75_x4_cents
        |FROM pph_agg ORDER BY o_orderstatus""".stripMargin,

    "pv_pivot" ->
      """SELECT o_orderpriority,
        | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        | COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        | COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
  )
}
