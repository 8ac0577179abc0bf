package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Fence, Tables}
import graft.functions.{F, Text, Vectors}

/** Round-3 operator pack: SQL subquery surface (EXISTS / IN / correlated
  * scalar), array higher-order functions, closed-form regression fit,
  * exact median, UNPIVOT, a generated date spine, deterministic hash-based
  * dataset splitting, and a bloom-filter-prefiltered anti-join — the
  * remaining inventory gaps plus the training-data-pipeline primitives a
  * 100 TB corpus build needs (reproducible train/val/test assignment and
  * dedup-against-corpus without shuffling the big side).
  */
object PipelineQueries {

  private type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "sub_exists" -> subExists,
    "sub_in" -> subIn,
    "sub_scalar" -> subScalar,
    "hof_array_pack" -> hofArrayPack,
    "a_regr_fit" -> aRegrFit,
    "a_median" -> aMedian,
    "a_median_hist" -> aMedianHist,
    "pv_unpivot" -> pvUnpivot,
    "g_date_spine" -> gDateSpine,
    "sample_hash_split" -> sampleHashSplit,
    "dedup_bloom_prefilter" -> dedupBloomPrefilter,
    "w3_rank_pack" -> w3RankPack,
    "s_fuzzy_brands" -> sFuzzyBrands,
    "q_topn_group" -> qTopnGroup,
    "inc_agg_merge" -> incAggMerge,
    "inc_cdc_apply" -> incCdcApply,
    "layout_range_bounds" -> layoutRangeBounds,
    "rec_cte_chain" -> recCteChain,
    "p_null_safe_eq" -> pNullSafeEq
  )

  /** Registers `tables` under per-invocation unique view names, runs `f`
    * with the name mapping, then drops the views — the catalog stays clean
    * and concurrent invocations on one session can't collide (same scheme
    * as [[ExtendedQueries]]' SQL-API query). spark.sql analyzes eagerly, so
    * dropping before returning is safe. */
  private def withViews(s: SparkSession, dir: String, tables: Seq[String])(
      f: Map[String, String] => DataFrame): DataFrame = {
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val names = tables.map(t => t -> s"${t}_$suffix").toMap
    names.foreach { case (t, v) => Tables(s, dir, t).createOrReplaceTempView(v) }
    try f(names) finally names.values.foreach(s.catalog.dropTempView)
  }

  // ------------------------------------------------------------ subqueries
  // Catalyst decorrelates all three (RewritePredicateSubquery /
  // RewriteCorrelatedScalarSubquery): EXISTS becomes a left-semi join, IN a
  // left-semi on the key, the correlated scalar an aggregate + left outer
  // join — so the physical plans shuffle once per subquery, never
  // per-row-reexecute, and scale like the joins they compile to.

  /** Correlated EXISTS: customers holding at least one high-value order. */
  private val subExists: Q = (s, dir) => withViews(s, dir, Seq("customer", "orders")) { v =>
    s.sql(s"""
      SELECT c_custkey, c_name FROM ${v("customer")} c
      WHERE EXISTS (SELECT 1 FROM ${v("orders")} o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      ORDER BY c_custkey""")
  }

  /** IN subquery: parts that ever shipped in near-max quantity. */
  private val subIn: Q = (s, dir) => withViews(s, dir, Seq("part", "lineitem")) { v =>
    s.sql(s"""
      SELECT p_partkey, p_name FROM ${v("part")}
      WHERE p_partkey IN (SELECT l_partkey FROM ${v("lineitem")} WHERE l_quantity >= 49)
      ORDER BY p_partkey""")
  }

  /** Correlated scalar subquery: each customer's largest order (NULL for
    * customers with no orders — the left-outer the rewrite produces). */
  private val subScalar: Q = (s, dir) => withViews(s, dir, Seq("customer", "orders")) { v =>
    s.sql(s"""
      SELECT c_custkey,
             (SELECT MAX(o_totalprice) FROM ${v("orders")} o
              WHERE o.o_custkey = c.c_custkey) AS max_order
      FROM ${v("customer")} c
      ORDER BY c_custkey""")
  }

  // -------------------------------------------------- array higher-order
  /** transform / filter / aggregate / exists / sort / distinct / slice over
    * the token array — all codegen'd Catalyst lambda expressions evaluated
    * in one pass over each row, no explode-shuffle-reassemble and no UDF. */
  private val hofArrayPack: Q = (s, dir) => {
    import s.implicits._
    val toks = Text.tokens($"text")
    Tables(s, dir, "documents").select(
        $"doc_id",
        size(toks).as("n_tokens"),
        size(filter(toks, t => length(t) > lit(6))).as("n_long"),
        aggregate(transform(toks, t => length(t).cast("long")), lit(0L), (acc, x) => acc + x)
          .as("total_chars"),
        exists(toks, t => t.rlike("^[A-Z]")).as("has_capitalized"),
        array_join(slice(array_sort(array_distinct(toks)), 1, 5), ",").as("first_tokens"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------ regression
  /** Least-squares fit (slope / intercept / r²) per group, computed the
    * deterministic way: exact decimal power sums first, closed-form double
    * arithmetic last (same scheme as a_stats_moments — built-in regr_* /
    * corr merge float partials in partition order and can't hash-match
    * another engine). One shuffle, map-side partial sums. */
  private val aRegrFit: Q = (s, dir) => {
    import s.implicits._
    // EXACT integer-cents sufficient statistics, then only
    // contraction-immune double ops (r12: matching SQL token trees are
    // NOT enough — DuckDB's vectorized executor contracted the old
    // (d1·d1)/(d2·d3) shape and drifted r2 by one ulp on the skew
    // corpus while Spark/strict-IEEE agreed). Every emitted double is
    // either ONE division of two exactly-derived decimals or a product
    // of two such quotients — no a·b±c shape survives for an FMA to
    // fuse, so per-op IEEE equality is forced on any engine. The n²-
    // scale cents statistics stay below 10³⁸ through ~sf 10⁵ (≈100 TB;
    // the largest, sy·sxx ≈ 6·10³⁷ in cents³, is the documented bound).
    val xc = F.cents($"l_quantity").cast("decimal(19,0)")
    val yc = F.cents($"l_extendedprice").cast("decimal(19,0)")
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(xc).as("sx"), sum(yc).as("sy"),
        sum(xc * xc).as("sxx"), sum(xc * yc).as("sxy"), sum(yc * yc).as("syy"))
      .select($"l_returnflag", $"n",
        ($"n" * $"sxy" - $"sx" * $"sy").as("d1"),
        ($"n" * $"sxx" - $"sx" * $"sx").as("d2"),
        ($"n" * $"syy" - $"sy" * $"sy").as("d3"),
        ($"sy" * $"sxx" - $"sx" * $"sxy").as("ni"))
      .select($"l_returnflag", $"n",
        ($"d1".cast("double") / $"d2".cast("double")).as("slope"),
        // cents³/cents² = cents; the ×100 folds the dollars conversion
        // into the denominator so intercept stays a single division
        ($"ni".cast("double") / ($"d2" * 100).cast("double")).as("intercept"),
        (($"d1".cast("double") / $"d2".cast("double")) *
          ($"d1".cast("double") / $"d3".cast("double"))).as("r2"))
      .orderBy($"l_returnflag")
  }

  /** Exact median (interpolating percentile) — distinct API surface from
    * p_percentile's quantile triple. Quantities are integral, so the
    * even-count midpoint (a+b)/2 is exact in double on both engines.
    *
    * FENCED like the other documented O(n)-state exact baselines
    * (VERDICT r14 #5): `median()` buffers a per-group value→count map,
    * and the price domain is near-unique (the state IS the corpus,
    * measured beside [[graft.Fence.MedianStateRows]]), so past the budget
    * the aggregate's reducer memory grows linearly with data. The probe is
    * one linear approx_count_distinct pass over exactly what the aggregate
    * would buffer (both metrics' (group, value) pairs); past the budget the
    * key refuses, naming the bounded-state twin. The probe is memoized per
    * session × dir ([[ProbeCache]], VERDICT r15 #5) and its HLL estimate carries ~2%
    * relative error — corpora within that slack of the budget may admit
    * or refuse across regenerations; the refusal message says so. */
  private val aMedian: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    val stateRows = ProbeCache.cached(s, s"aMedianState#$dir") {
      val st = li.agg(
        approx_count_distinct(struct($"l_returnflag", $"l_extendedprice")).as("dp"),
        approx_count_distinct(struct($"l_returnflag", $"l_quantity")).as("dq"))
        .head()
      st.getLong(0) + st.getLong(1)
    }
    Fence.check(s, Fence.MedianStateRows, "a_median", stateRows)(
      s"value-buffering median() state is ~$stateRows (group, value) entries, " +
        "±2% HLL probe error — data-proportional reducer memory",
      "Use the bounded-state exact twin a_median_hist (counting-histogram " +
        "medians, identical values)",
      "the buffering baseline")
    li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        expr("median(l_quantity)").as("med_qty"),
        expr("median(l_extendedprice)").as("med_price"))
      .orderBy($"l_returnflag")
  }

  /** EXACT median at scale — the histogram path (VERDICT r10 honest-bench
    * follow-up): [[aMedian]]'s `median()` is a value-buffering aggregate
    * (per-group value→count maps ride the shuffle and merge on the
    * reducer — data-proportional state, 9.6× at the honest decade). This
    * computes the SAME exact medians with bounded state: one hash
    * aggregate over (group, metric, value) — the histogram, whose size is
    * bounded by the VALUE DOMAIN (integer cents), not the corpus — then a
    * cumulative window over that bounded domain and the classic
    * counting-sort rank pick. The same trick train_curriculum_order uses
    * for ordering, applied to quantiles. Medians emit as lo+hi (the two
    * middle values summed, `med_x2`) so every cell is an exact BIGINT —
    * divide by 2 to read the conventional value. */
  private val aMedianHist: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir, "lineitem").select($"l_returnflag",
      $"l_quantity".cast("long").as("q"),
      F.cents($"l_extendedprice").as("pc"))
    val longf = li.select($"l_returnflag", explode(array(
        struct(lit("price_cents").as("metric"), $"pc".as("v")),
        struct(lit("qty").as("metric"), $"q".as("v")))).as("mv"))
      .select($"l_returnflag", $"mv.metric".as("metric"), $"mv.v".as("v"))
    val hist = longf.groupBy($"l_returnflag", $"metric", $"v")
      .agg(count(lit(1)).as("c"))
    // TWO-LEVEL distributed prefix sum over the histogram — a cumulative
    // window partitioned only by (flag, metric) serializes each group's
    // whole value domain through one task (the r10 decade's 6× growth was
    // exactly that stall). Level 1: per-BLOCK subtotals (domain div 2^20)
    // cumulated in a tiny window — block count is domain/2^20, driver-size
    // regardless of corpus. Level 2: the within-block cumulative window is
    // partitioned by (flag, metric, block) — parallel across blocks, each
    // task scans one block's cells. cum = block offset + within-block run.
    val hb = hist.withColumn("blk", expr(s"v div ${1L << 20}"))
    val wBlk = Window.partitionBy($"l_returnflag", $"metric").orderBy($"blk")
    val offsets = hb.groupBy($"l_returnflag", $"metric", $"blk")
      .agg(sum($"c").as("bc"))
      .withColumn("off", sum($"bc").over(wBlk) - $"bc")
      .select($"l_returnflag", $"metric", $"blk", $"off")
    val wIn = Window.partitionBy($"l_returnflag", $"metric", $"blk").orderBy($"v")
    val totals = longf.groupBy($"l_returnflag", $"metric")
      .agg(count(lit(1)).as("n"))
    hb.withColumn("incum", sum($"c").over(wIn))
      .join(broadcast(offsets), Seq("l_returnflag", "metric", "blk"))
      .withColumn("cum", $"incum" + $"off")
      .join(broadcast(totals), Seq("l_returnflag", "metric"))
      .groupBy($"l_returnflag", $"metric")
      .agg(max($"n").as("n_items"),
        (min(when($"cum" >= expr("(n + 1) div 2"), $"v")) +
          min(when($"cum" >= expr("(n + 2) div 2"), $"v"))).as("med_x2"))
      .orderBy($"l_returnflag", $"metric")
  }

  // --------------------------------------------------------------- unpivot
  /** Wide→long UNPIVOT of per-flag money sums (the inverse of pv_pivot).
    * Spark plans it as Expand — one pass, rows×metrics output, no join. */
  private val pvUnpivot: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(F.moneySum($"l_quantity").as("sum_qty"),
        F.moneySum($"l_extendedprice").as("sum_price"),
        F.moneySum($"l_discount").as("sum_disc"))
      .unpivot(Array($"l_returnflag"),
        Array($"sum_qty", $"sum_price", $"sum_disc"), "metric", "value")
      .orderBy($"l_returnflag", $"metric")
  }

  // ------------------------------------------------------------ date spine
  /** Generated date dimension (the dim_dates pattern built from nothing):
    * sequence + explode, calendar attributes with the DuckDB DOW alignment
    * (Sunday=0 → dayofweek-1, SURVEY §2.8). Generation is a single task
    * emitting 90 rows — a real date spine is always driver-scale data. */
  private val gDateSpine: Q = (s, _) => {
    import s.implicits._
    s.range(1)
      .select(explode(expr("sequence(date'2023-01-01', date'2023-03-31', interval 1 day)")).as("d"))
      .select($"d",
        year($"d").as("yr"), month($"d").as("mo"),
        (dayofweek($"d") - 1).as("dow"), dayofyear($"d").as("doy"),
        ($"d" === last_day($"d")).as("is_month_end"))
      .orderBy($"d")
  }

  // ----------------------------------------------- deterministic splitting
  /** Reproducible train/validation/test assignment: md5-derived bucket of
    * the stable document id — no rand(), so the split is identical on any
    * engine, any partitioning, any rerun, and a re-ingested document lands
    * in the same split (the property that prevents train/test leakage when
    * a corpus is rebuilt). Pure projection: no shuffle at any scale. */
  private val sampleHashSplit: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id",
        pmod(Vectors.hash60(concat(lit("split_"), $"doc_id".cast("string"))), lit(10)).as("bucket"))
      .withColumn("split",
        when($"bucket" < 8, "train").when($"bucket" === 8, "validation").otherwise("test"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------------- bloom-prefilter dedup
  /** Anti-join with a bloom-filter prefilter — dedup-new-batch-against-
    * corpus at scale: build a ~1 MB bloom over the (small) key side with a
    * distributed treeAggregate, broadcast it, and let rows the filter
    * definitely excludes skip the shuffle entirely; only might-contain rows
    * (true members + ~1% false positives) pay the exact anti-join that
    * restores exactness. At 100 TB this turns "shuffle the whole fact
    * table" into "shuffle ~the matching fraction". The result is EXACT —
    * the bloom only routes. */
  private val dedupBloomPrefilter: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.BloomExpr
    val keys = Tables(s, dir, "part").filter($"p_size" > 25).select($"p_partkey")
    val bloom = keys.stat.bloomFilter("p_partkey", math.max(keys.count(), 1L), 0.01)
    val bc = s.sparkContext.broadcast(bloom)
    // native codegen'd predicate (BloomMightContain) — the filter stays
    // inside the scan's WholeStageCodegen span instead of a UDF eval
    // boundary (asserted in PlanAssertionsSpec)
    val li = Tables(s, dir, "lineitem")
    val sure = li.filter(!BloomExpr.mightContain($"l_partkey", bc))
    val maybe = li.filter(BloomExpr.mightContain($"l_partkey", bc))
      .join(keys, li("l_partkey") === keys("p_partkey"), "left_anti")
    sure.unionByName(maybe)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  // ------------------------------------------------------- ranking windows
  /** The full ranking-function surface in one windowed pass: row_number /
    * rank / dense_rank / ntile / percent_rank / cume_dist / lag / lead.
    * percent_rank and cume_dist are ratios of small integers — exact in
    * double on any engine. One shuffle on the partition key. */
  private val w3RankPack: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables(s, dir, "orders")
      .filter($"o_custkey" % 100 === 7)
      .select($"o_custkey", $"o_orderkey",
        row_number().over(w).as("rn"), rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"), ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"), cume_dist().over(w).as("cdist"),
        lag($"o_orderkey", 1).over(w).as("prev_order"),
        lead($"o_orderkey", 1).over(w).as("next_order"))
      .orderBy($"o_custkey", $"rn")
  }

  // ---------------------------------------------------------- fuzzy match
  /** Edit-distance similarity over the distinct brand domain — the fuzzy
    * key-matching step of entity resolution. Distinct first (the domain is
    * tiny even at 100 TB fact scale), then the quadratic compare runs on
    * |domain|², not |table|². */
  private val sFuzzyBrands: Q = (s, dir) => {
    import s.implicits._
    val b = Tables(s, dir, "part").select($"p_brand").distinct()
    b.as("a").join(b.as("b"), col("a.p_brand") < col("b.p_brand"))
      .select(col("a.p_brand").as("brand_a"), col("b.p_brand").as("brand_b"),
        levenshtein(col("a.p_brand"), col("b.p_brand")).as("edit_dist"))
      .orderBy($"brand_a", $"brand_b")
  }

  // ------------------------------------------------------- per-group top-N
  /** Top-2 orders per customer — the QUALIFY pattern (window + rank
    * filter). Unlike a global top-k this can't use a limit: rank computes
    * within each partition after one shuffle on the group key, and the
    * filter prunes before any downstream work. */
  private val qTopnGroup: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
  }

  // ------------------------------------------- incremental agg maintenance
  /** Mergeable partial aggregates — the incremental-materialized-view
    * pattern: the standing per-customer aggregate (rows before the cutoff)
    * is REFRESHED by aggregating only the delta and re-aggregating the
    * union of partial states (SUM of SUMs, SUM of COUNTs). The standing
    * side here is recomputed for the oracle's sake; in production it is
    * read back from the materialized output, so each refresh costs
    * O(delta) + O(|groups|), never a rescan of history. Works because
    * count/sum are commutative monoids — the same property Spark's own
    * partial aggregation exploits within one query. */
  private val incAggMerge: Q = (s, dir) => {
    import s.implicits._
    val cutoff = lit("2000-01-01").cast("timestamp")
    val orders = Tables(s, dir, "orders")
    def partial(df: DataFrame) = df.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"), sum($"o_totalprice".cast("decimal(18,2)")).as("t"))
    val standing = partial(orders.filter($"o_orderdate" < cutoff))
    val delta = partial(orders.filter($"o_orderdate" >= cutoff))
    standing.unionByName(delta)
      .groupBy($"o_custkey")
      .agg(sum($"n").as("n_orders"), sum($"t").cast("double").as("total_spent"))
      .orderBy($"o_custkey")
  }

  // ------------------------------------------------------ CDC changelog apply
  /** CDC apply — the missing piece between [[incAggMerge]] (partial-agg
    * refresh) and `m_upsert_keyed` (upsert only): apply an
    * insert/update/DELETE changelog to a standing snapshot, latest
    * sequence number winning per key. The reference's warehouse sync is
    * delete+insert (ingest_latest_synthetic_data.py:554-572) — this is the
    * general MERGE it approximates, including tombstones and
    * delete-then-reinsert. Plan shape at 100 TB: ONE window over the
    * changelog (typically ≪ snapshot) collapses it to a latest-op image,
    * then one key-partitioned full-outer join merges it in — the
    * merge-on-read compaction a Hudi/Delta table runs, expressed as plain
    * keyed relational ops. The changelog here is synthesized
    * deterministically from orders so the oracle can replay every case:
    * untouched keys ('kept'), updated, inserted (key absent from the
    * snapshot), deleted (final op D → row absent), and a seq-2 reinsert
    * overriding a seq-1 delete. Money rides as integer cents. */
  private val incCdcApply: Q = (s, dir) => {
    import s.implicits._
    val orders = Tables(s, dir, "orders")
      .select($"o_orderkey".as("k"), $"o_orderstatus".as("status"),
        F.cents($"o_totalprice").as("price_cents"))
    val snapshot = orders.filter($"k" % 4 =!= 0)
    val base = orders.filter($"k" % 3 === 0)
    val chg1 = base.select($"k", lit(1L).as("seq"),
      when($"k" % 5 === 0, "D").otherwise("U").as("op"),
      lit("chg").as("c_status"), ($"price_cents" + 500L).as("c_price"))
    val chg2 = base.filter($"k" % 6 === 0).select($"k", lit(2L).as("seq"),
      lit("U").as("op"), lit("chg2").as("c_status"),
      ($"price_cents" + 1000L).as("c_price"))
    val w = Window.partitionBy($"k").orderBy($"seq".desc)
    val latest = chg1.unionByName(chg2)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"k", $"op", $"c_status", $"c_price")
    snapshot.join(latest, Seq("k"), "full_outer")
      .filter($"op".isNull || $"op" === "U")
      .select($"k",
        coalesce($"c_status", $"status").as("status"),
        coalesce($"c_price", $"price_cents").as("price_cents"),
        when($"op".isNull, "kept")
          .when($"status".isNotNull, "updated")
          .otherwise("inserted").as("action"))
      .orderBy($"k")
  }

  // ------------------------------------------- exact range-partition bounds
  /** Exact, deterministic range-partitioner split points — what a global
    * sort / range-bucketed layout needs at 100 TB. Spark's own
    * RangePartitioner SAMPLES (nondeterministic bounds, rerun-unstable
    * layouts); this computes balanced bounds exactly from a DOMAIN-BOUNDED
    * counting histogram: prices quantized to a fixed grid (cents ÷ 1000 ≈
    * dollar resolution — ~10⁴ cells regardless of corpus size), one hash
    * aggregate builds the histogram, a cumulative window over the bounded
    * grid ranks it, and split j of B is the smallest grid value whose
    * cumulative count covers j/B of the rows (cross-multiplied —
    * `8·cum ≥ j·n` — so every comparison stays integer-exact). The same
    * counting-sort machinery as a_median_hist/train_curriculum_order,
    * aimed at physical layout: histogram state ∝ value domain, never ∝
    * data, and the bounds are bit-stable across reruns and engines. */
  private val layoutRangeBounds: Q = (s, dir) => {
    import s.implicits._
    val B = 8
    val li = Tables(s, dir, "lineitem")
      .select(call_function("div", F.cents($"l_extendedprice"), lit(1000)).as("v"))
    val hist = li.groupBy($"v").agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy($"v")
    val total = li.agg(count(lit(1)).as("n"))
    val spine = s.range(1)
      .select(explode(expr(s"sequence(1, ${B - 1})")).as("split_idx"))
    hist.withColumn("cum", sum($"c").over(wCum))
      .crossJoin(broadcast(total))
      .join(broadcast(spine), $"cum" * B >= $"split_idx" * $"n")
      .groupBy($"split_idx")
      .agg(max($"n").as("n_rows"), min($"v").as("bound_grid"),
        min($"cum").as("rows_le_bound"))
      .orderBy($"split_idx")
  }

  // --------------------------------------------------- null-safe equality
  /** `<=>` (IS NOT DISTINCT FROM): NULL-tolerant comparison and its use as
    * a join/group key. A nullable derived key (small parts lose their
    * brand) is compared null-safely against a literal and against NULL,
    * and grouped — NULLs form ONE group under null-safe semantics instead
    * of disappearing like they would in an equi-join. */
  private val pNullSafeEq: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "part")
      .withColumn("brand_key",
        when($"p_size" < 10, lit(null).cast("string")).otherwise($"p_brand"))
      .groupBy($"brand_key")
      .agg(count(lit(1)).as("n_parts"),
        sum(($"brand_key" <=> "Brand#13").cast("int")).as("n_b13"),
        sum(($"brand_key" <=> lit(null).cast("string")).cast("int")).as("n_nullkey"))
      .orderBy($"brand_key".asc_nulls_first)
  }

  // -------------------------------------------------------- recursive CTE
  /** WITH RECURSIVE (Spark 4): each supplier's ancestor chain under the
    * implicit binary-tree hierarchy key -> key div 2 — the org-chart /
    * BOM-explosion traversal. The engine iterates the recursive step to
    * fixpoint exactly like [[graft.operators.Components]]' hand-rolled
    * loop, but declared in SQL; depth is bounded by log2(max key), so the
    * iteration count grows logarithmically with table size.
    *
    * Spark guards recursive CTEs with `spark.sql.cteRecursionRowLimit`
    * (default 10⁶ TOTAL rows), which this provably-terminating chain
    * outgrows linearly — the skew10 suite's 100 k suppliers need
    * ~1.8 M rows (r15 catch). The budget is derived from the corpus the
    * auto-K way: every supplier key k emits at most ⌊log₂ max_key⌋ + 2
    * rows, so n·(⌊log₂ max⌋ + 2) bounds the chain exactly (integer
    * bit-length, no float log2). The session keeps the raised limit —
    * it is still a runaway guard at the same margin, and this is the
    * only Spark-side recursive CTE in the library. */
  private val recCteChain: Q = (s, dir) =>
    withViews(s, dir, Seq("supplier")) { v =>
      val r = s.sql(
        s"SELECT CAST(count(*) AS BIGINT), CAST(max(s_suppkey) AS BIGINT) " +
          s"FROM ${v("supplier")}").head()
      // max() is NULL on an empty table (ADVICE r15) — the chain is then
      // empty too, so any positive bound works; keep the floor.
      val n = r.getLong(0)
      val mx = if (r.isNullAt(1)) 2L else math.max(r.getLong(1), 2L)
      val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(mx)
      val bound = math.max(n * (bitLen + 1), 1000000L)
      s.conf.set("spark.sql.cteRecursionRowLimit", bound.toString)
      s.sql(
        s"""WITH RECURSIVE chain(s, anc, depth) AS (
           |  SELECT s_suppkey, s_suppkey, 0 FROM ${v("supplier")}
           |  UNION ALL
           |  SELECT s, anc div 2, depth + 1 FROM chain WHERE anc > 1)
           |SELECT s AS s_suppkey, MAX(depth) AS depth_to_root,
           |  COUNT(*) AS chain_len
           |FROM chain GROUP BY s ORDER BY s""".stripMargin)
    }

  // ---------------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------------
  def oracle: Map[String, String] = Map(
    "sub_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "sub_in" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        |ORDER BY p_partkey""".stripMargin,

    "sub_scalar" ->
      """SELECT c_custkey,
        | (SELECT MAX(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_order
        |FROM customer c ORDER BY c_custkey""".stripMargin,

    "hof_array_pack" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens,
        | len(list_filter(toks, t -> length(t) > 6)) AS n_long,
        | list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> length(t)::BIGINT)), (a,b) -> a + b) AS total_chars,
        | len(list_filter(toks, t -> regexp_matches(t, '^[A-Z]'))) > 0 AS has_capitalized,
        | array_to_string(list_sort(list_distinct(toks))[1:5], ',') AS first_tokens
        |FROM t ORDER BY doc_id""".stripMargin,

    // exact HUGEINT-cents statistics mirror the Spark decimals; every
    // double is one division (or a product of two quotients) — no
    // contractible a*b±c shape, see aRegrFit's scaladoc
    "a_regr_fit" ->
      """WITH c AS (SELECT l_returnflag,
        |  CAST(round(l_quantity * 100) AS HUGEINT) xc,
        |  CAST(round(l_extendedprice * 100) AS HUGEINT) yc FROM lineitem),
        |sums AS (SELECT l_returnflag, COUNT(*) AS n, SUM(xc) sx, SUM(yc) sy,
        |  SUM(xc*xc) sxx, SUM(xc*yc) sxy, SUM(yc*yc) syy FROM c GROUP BY 1),
        |d AS (SELECT l_returnflag, n,
        |  n*sxy - sx*sy AS d1, n*sxx - sx*sx AS d2, n*syy - sy*sy AS d3,
        |  sy*sxx - sx*sxy AS ni FROM sums)
        |SELECT l_returnflag, n,
        | CAST(d1 AS DOUBLE) / CAST(d2 AS DOUBLE) AS slope,
        | CAST(ni AS DOUBLE) / CAST(d2*100 AS DOUBLE) AS intercept,
        | (CAST(d1 AS DOUBLE) / CAST(d2 AS DOUBLE))
        |   * (CAST(d1 AS DOUBLE) / CAST(d3 AS DOUBLE)) AS r2
        |FROM d ORDER BY l_returnflag""".stripMargin,

    "a_median" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | median(l_quantity) AS med_qty, median(l_extendedprice) AS med_price
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    // the same exact medians via the bounded-domain counting histogram;
    // integer lo+hi emission keeps every cell BIGINT-exact
    "a_median_hist" ->
      """WITH li AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) q,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) pc FROM lineitem),
        |lf AS (SELECT l_returnflag, 'price_cents' AS metric, pc AS v FROM li
        |  UNION ALL SELECT l_returnflag, 'qty', q FROM li),
        |h AS (SELECT l_returnflag, metric, v, COUNT(*) c FROM lf GROUP BY 1, 2, 3),
        |cw AS (SELECT *,
        |  SUM(c) OVER (PARTITION BY l_returnflag, metric ORDER BY v) cum,
        |  SUM(c) OVER (PARTITION BY l_returnflag, metric) n FROM h)
        |SELECT l_returnflag, metric, CAST(MAX(n) AS BIGINT) n_items,
        | CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END)
        |   + MIN(CASE WHEN cum >= (n + 2) // 2 THEN v END) AS BIGINT) med_x2
        |FROM cw GROUP BY 1, 2 ORDER BY l_returnflag, metric""".stripMargin,

    "pv_unpivot" ->
      """WITH base AS (SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, value
        |FROM base UNPIVOT (value FOR metric IN (sum_qty, sum_price, sum_disc))
        |ORDER BY l_returnflag, metric""".stripMargin,

    "g_date_spine" ->
      """SELECT CAST(u AS DATE) AS d, EXTRACT(YEAR FROM u) AS yr, EXTRACT(MONTH FROM u) AS mo,
        | datepart('dow', u) AS dow, datepart('doy', u) AS doy,
        | CAST(u AS DATE) = last_day(CAST(u AS DATE)) AS is_month_end
        |FROM (SELECT unnest(generate_series(DATE '2023-01-01', DATE '2023-03-31', INTERVAL 1 DAY)) AS u)
        |ORDER BY d""".stripMargin,

    "sample_hash_split" ->
      """SELECT doc_id, bucket,
        | CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'validation' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(CONCAT('0x', SUBSTR(md5(CONCAT('split_', CAST(doc_id AS VARCHAR))),1,15)) AS BIGINT) % 10 AS bucket
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "dedup_bloom_prefilter" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size > 25)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "w3_rank_pack" ->
      """SELECT o_custkey, o_orderkey,
        | row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        | ntile(4) OVER w AS quartile,
        | percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cdist,
        | lag(o_orderkey) OVER w AS prev_order, lead(o_orderkey) OVER w AS next_order
        |FROM orders WHERE o_custkey % 100 = 7
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "s_fuzzy_brands" ->
      """WITH b AS (SELECT DISTINCT p_brand FROM part)
        |SELECT a.p_brand AS brand_a, c.p_brand AS brand_b,
        | levenshtein(a.p_brand, c.p_brand) AS edit_dist
        |FROM b a JOIN b c ON a.p_brand < c.p_brand
        |ORDER BY brand_a, brand_b""".stripMargin,

    "q_topn_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "inc_agg_merge" ->
      """WITH standing AS (
        | SELECT o_custkey, COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS t
        | FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01' GROUP BY 1),
        |delta AS (
        | SELECT o_custkey, COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS t
        | FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01' GROUP BY 1)
        |SELECT o_custkey, CAST(SUM(n) AS BIGINT) AS n_orders, CAST(SUM(t) AS DOUBLE) AS total_spent
        |FROM (SELECT * FROM standing UNION ALL SELECT * FROM delta)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "inc_cdc_apply" ->
      """WITH o AS (SELECT o_orderkey k, o_orderstatus status,
        |  CAST(round(o_totalprice * 100) AS BIGINT) price_cents FROM orders),
        |snapshot AS (SELECT * FROM o WHERE k % 4 <> 0),
        |chg AS (
        | SELECT k, 1 AS seq, CASE WHEN k % 5 = 0 THEN 'D' ELSE 'U' END AS op,
        |  'chg' AS c_status, price_cents + 500 AS c_price FROM o WHERE k % 3 = 0
        | UNION ALL
        | SELECT k, 2, 'U', 'chg2', price_cents + 1000 FROM o
        | WHERE k % 3 = 0 AND k % 6 = 0),
        |latest AS (SELECT k, op, c_status, c_price FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) rn
        | FROM chg) WHERE rn = 1)
        |SELECT COALESCE(s.k, l.k) AS k,
        | COALESCE(l.c_status, s.status) AS status,
        | CAST(COALESCE(l.c_price, s.price_cents) AS BIGINT) AS price_cents,
        | CASE WHEN l.op IS NULL THEN 'kept'
        |      WHEN s.status IS NOT NULL THEN 'updated'
        |      ELSE 'inserted' END AS action
        |FROM snapshot s FULL OUTER JOIN latest l ON s.k = l.k
        |WHERE l.op IS NULL OR l.op = 'U'
        |ORDER BY k""".stripMargin,

    "layout_range_bounds" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 1000 AS v
        |  FROM lineitem),
        |hist AS (SELECT v, COUNT(*) c FROM li GROUP BY v),
        |cw AS (SELECT v, c, SUM(c) OVER (ORDER BY v) cum FROM hist),
        |t AS (SELECT COUNT(*) n FROM li),
        |spine AS (SELECT unnest(range(1, 8)) AS split_idx)
        |SELECT split_idx, CAST(MAX(n) AS BIGINT) n_rows,
        | CAST(MIN(v) AS BIGINT) bound_grid, CAST(MIN(cum) AS BIGINT) rows_le_bound
        |FROM cw CROSS JOIN t JOIN spine ON cum * 8 >= split_idx * n
        |GROUP BY split_idx ORDER BY split_idx""".stripMargin,

    "rec_cte_chain" ->
      """WITH RECURSIVE chain(s, anc, depth) AS (
        |  SELECT s_suppkey, s_suppkey, 0 FROM supplier
        |  UNION ALL
        |  SELECT s, anc // 2, depth + 1 FROM chain WHERE anc > 1)
        |SELECT s AS s_suppkey, MAX(depth) AS depth_to_root,
        |  COUNT(*) AS chain_len
        |FROM chain GROUP BY s ORDER BY s""".stripMargin,

    "p_null_safe_eq" ->
      """WITH k AS (SELECT CASE WHEN p_size < 10 THEN NULL ELSE p_brand END AS brand_key FROM part)
        |SELECT brand_key, COUNT(*) AS n_parts,
        | CAST(SUM(CAST(brand_key IS NOT DISTINCT FROM 'Brand#13' AS INT)) AS BIGINT) AS n_b13,
        | CAST(SUM(CAST(brand_key IS NOT DISTINCT FROM NULL AS INT)) AS BIGINT) AS n_nullkey
        |FROM k GROUP BY brand_key ORDER BY brand_key NULLS FIRST""".stripMargin
  )
}
