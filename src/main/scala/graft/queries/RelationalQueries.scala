package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Fence, Tables}
import graft.functions.{F, Text}
import graft.operators.{DedupLatest, Upsert}
import graft.sources.ParquetFormat

/** Relational operator pack — one query per operator family in SURVEY.md §2,
  * re-expressed over the driver's TPC-H-ish tables. Each query has a DuckDB
  * oracle in [[oracle]] with identical column names and ORDER BY.
  *
  * Determinism rules used throughout:
  *  - money doubles go through DECIMAL(18,2) before SUM (exact, portable);
  *  - explicit AVG = CAST(exact-decimal-SUM AS DOUBLE) / COUNT;
  *  - every window / top-k has a total tiebreak order;
  *  - results carry an ORDER BY on their key columns.
  */
object RelationalQueries {

  private type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "q1_pricing_summary" -> q1PricingSummary,
    "q3_shipping_priority" -> q3ShippingPriority,
    "q5_local_supplier" -> q5LocalSupplier,
    "j1_left_join" -> j1LeftJoin,
    "j9_double_role_join" -> j9DoubleRole,
    "j10_star_revenue" -> j10StarRevenue,
    "j7_semi_join" -> j7Semi,
    "j13_anti_join" -> j13Anti,
    "p5_case_when" -> p5CaseWhen,
    "p6_conditional_agg" -> p6ConditionalAgg,
    "p8_dedup_latest" -> p8DedupLatest,
    "w1_first_value_latest" -> w1FirstValue,
    "a7_bool_or" -> a7BoolOr,
    "a8_listagg" -> a8Listagg,
    "a8b_listagg_ordered" -> a8bListaggOrdered,
    "a9_customer_orders" -> a9CustomerOrders,
    "a11_distinct" -> a11Distinct,
    "u1_union_distinct" -> u1UnionDistinct,
    "u3_union_schema_drift" -> u3UnionAlign,
    "o2_topk" -> o2TopK,
    "sk_surrogate_key" -> skSurrogateKey,
    "s_datetime_pack" -> sDatetimePack,
    "s_string_pack" -> sStringPack,
    "m_upsert_keyed" -> mUpsertKeyed,
    "p3_try_cast" -> p3TryCast,
    "j4_expr_join" -> j4ExprJoin,
    "u2_union_dates" -> u2UnionDates,
    "inc_high_watermark" -> incHighWatermark,
    "st_tumbling_window" -> stTumblingWindow,
    "st_stream_parity" -> stStreamParity,
    "st_stream_dedup" -> stStreamDedup,
    "st_stream_session" -> stStreamSession,
    "st_stream_session_ooo" -> stStreamSessionOoo,
    "st_stream_enrich" -> stStreamEnrich,
    "st_stream_join" -> stStreamJoin,
    "st_stream_join_last" -> stStreamJoinLast,
    "st_stream_left_join" -> stStreamLeftJoin,
    "st_stream_upsert" -> stStreamUpsert,
    "s9_catalog_counts" -> s9CatalogCounts,
    "qa_unique_violations" -> qaUniqueViolations,
    "qa_freshness" -> qaFreshness,
    "runner_daily_sales" -> runnerDailySales,
    "t_typed_dataset" -> tTypedDataset,
    "a_approx_distinct" -> aApproxDistinct
  )



  /** Session clone for a streaming drain of `table` with a BOUNDED state
    * width. Stateful streaming operators instantiate one state store per
    * shuffle partition (a stream-stream join holds four), and that
    * per-store fixed cost dominates a small drain: the interval join
    * measured 7.0 s at the session default of 32 partitions vs 2.6 s at
    * 8, identical output. Statefulness width is a deployment knob pinned
    * by the first checkpoint — size it to stream volume, not core
    * count; the clone scopes the setting to this query alone. The width
    * derives from the table's on-disk bytes
    * ([[graft.streaming.Streams.stateWidthFor]]); every drain checkpoints
    * to a fresh temp dir, so no stored checkpoint pins an older width. */
  private def streamSession(s: SparkSession, dir: String, table: String): SparkSession = {
    val parts = graft.streaming.Streams.stateWidthFor(Tables.bytes(dir, table))
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s2
  }

  /** Streaming file source for a table that is either ONE parquet file
    * (driver testdata) or a DIRECTORY of part files (generated scale
    * dirs). The source's basePath must be a directory, so the single-file
    * shape lists the parent with a leaf-name glob filter and the
    * directory shape is passed directly. */
  private def streamTable(s: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = new java.io.File(s"$dir/$table.parquet")
    if (p.isDirectory) s.readStream.schema(schema).parquet(p.getPath)
    else s.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Row type for the typed-Dataset demonstration. */
  final case class OrderRow(o_custkey: Long, o_orderstatus: String)

  // ---------------------------------------------------------------- q1 ----
  /** A1/A4/A5/A10 + P2 + pushdown filter (ref: fct_sales_by_date.sql:6-17
    * aggregate shapes). */
  private val q1PricingSummary: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    li.filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        F.moneySum($"l_quantity").as("sum_qty"),
        F.moneySum($"l_extendedprice").as("sum_base_price"),
        sum(F.money($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - F.money($"l_discount")))
          .cast("double").as("sum_disc_price"),
        (sum(F.money($"l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** TPC-H Q3 shape: selective dim filter → fact join → per-order revenue →
    * global top-10. The segment filter prunes customer before the join
    * (pushed to the scan), the orderdate/shipdate filters prune both fact
    * scans, and the top-10 is TakeOrderedAndProject — a per-partition heap
    * + driver merge of 10-row heads, never a full sort of the join result.
    * Total tiebreak (revenue DESC, l_orderkey) keeps the cut deterministic. */
  private val q3ShippingPriority: Q = (s, dir) => {
    import s.implicits._
    val cutoff = lit("1996-06-30").cast("timestamp")
    Tables(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      .join(Tables(s, dir, "orders").filter($"o_orderdate" < cutoff),
        $"c_custkey" === $"o_custkey")
      .join(Tables(s, dir, "lineitem").filter($"l_shipdate" > cutoff),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(sum(F.money($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - F.money($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** TPC-H Q5 shape: region-filtered star join with the same-nation
    * residual (customer and supplier must share a nation) and per-nation
    * revenue. nation/region broadcast; the c_nationkey = s_nationkey
    * predicate rides the lineitem-supplier join as a residual condition
    * rather than a separate join pass. */
  private val q5LocalSupplier: Q = (s, dir) => {
    import s.implicits._
    val asia = Tables(s, dir, "nation")
      .join(Tables(s, dir, "region").filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders")
        .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1998-01-01").cast("timestamp")),
        $"c_custkey" === $"o_custkey")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .join(Tables(s, dir, "supplier"),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(asia), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum(F.money($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - F.money($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  // -------------------------------------------------------------- joins ---
  /** J1: left join dim, USING-style single key (ref: categories_enriched.sql:7-11). */
  private val j1LeftJoin: Q = (s, dir) => {
    import s.implicits._
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    n.join(r, n("n_regionkey") === r("r_regionkey"), "left")
      .select($"n_nationkey", $"n_name", $"r_name")
      .orderBy($"n_nationkey")
  }

  /** J9: the same dim joined twice under two roles (ref: transactions/orders.sql:21-24
    * shipping vs billing address) — here nation as supplier-nation and customer-nation. */
  private val j9DoubleRole: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    val sup = Tables(s, dir, "supplier")
    val ord = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")
    val n1 = Tables(s, dir, "nation").select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    val n2 = Tables(s, dir, "nation").select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
    li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(n1, sup("s_nationkey") === n1("sn_key"))
      .join(n2, cust("c_nationkey") === n2("cn_key"))
      .groupBy($"supp_nation", $"cust_nation")
      .agg(
        count(lit(1)).as("n_items"),
        sum(F.money($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - F.money($"l_discount")))
          .cast("double").as("revenue"))
      .orderBy($"supp_nation", $"cust_nation")
  }

  /** J10: star join over the full dimension chain with mixed aggregates
    * (ref: fct_order_details.sql:39-62). Small dims broadcast automatically. */
  private val j10StarRevenue: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    val ord = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")
    val nat = Tables(s, dir, "nation")
    val reg = Tables(s, dir, "region")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy($"r_name", $"n_name")
      .agg(
        sum(F.money($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - F.money($"l_discount")))
          .cast("double").as("revenue"),
        countDistinct($"o_orderkey").as("n_orders"),
        countDistinct($"c_custkey").as("n_customers"))
      .orderBy($"r_name", $"n_name")
  }

  /** J7: existence filter as semi join (ref: order_items.sql:20-25). */
  private val j7Semi: Q = (s, dir) => {
    import s.implicits._
    val cust = Tables(s, dir, "customer")
    val ord = Tables(s, dir, "orders").select($"o_custkey".as("c_custkey"))
    cust.join(ord, Seq("c_custkey"), "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** J13: anti join — the upsert delete path (ref: ingest_latest:554-572).
    * Filtered right side so the result is non-empty at every SF. */
  private val j13Anti: Q = (s, dir) => {
    import s.implicits._
    val cust = Tables(s, dir, "customer")
    val ord = Tables(s, dir, "orders")
      .filter($"o_orderstatus" === "F")
      .select($"o_custkey".as("c_custkey"))
    cust.join(ord, Seq("c_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  // ---------------------------------------------------- filters / cases ---
  /** P5: 3-arm CASE WHEN (ref: dim_customers.sql:29-33 customer_status). */
  private val p5CaseWhen: Q = (s, dir) => {
    import s.implicits._
    val cust = Tables(s, dir, "customer")
    cust.select(
        when($"c_acctbal" < 0, lit("negative"))
          .when($"c_acctbal" < 5000, lit("low"))
          .otherwise(lit("high")).as("balance_band"),
        $"c_nationkey")
      .groupBy($"balance_band")
      .agg(count(lit(1)).as("n_customers"),
        countDistinct($"c_nationkey").as("n_nations"))
      .orderBy($"balance_band")
  }

  /** P6/A3: conditional aggregates incl. COUNT(DISTINCT CASE WHEN)
    * (ref: fct_customer_activity.sql:12-25). */
  private val p6ConditionalAgg: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    ev.groupBy($"user_id")
      .agg(
        count(when($"event_type" === "view", 1)).as("n_views"),
        count(when($"event_type" === "click", 1)).as("n_clicks"),
        countDistinct(when($"event_type" === "purchase", $"event_id")).as("n_purchase_events"),
        sum(when($"event_type" === "purchase", F.money($"value"))).cast("double").as("purchase_value"))
      .orderBy($"user_id")
  }

  /** P8: keep-latest-per-key dedup with a deterministic tiebreak
    * (ref: ingest_latest_synthetic_data.py:163-194). */
  private val p8DedupLatest: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    DedupLatest(ev, Seq("user_id"), Seq($"ts", $"event_id"))
      .select($"user_id", $"event_id", $"event_type", $"value")
      .orderBy($"user_id")
  }

  /** W1: FIRST_VALUE window + DISTINCT — latest value per (user, event_type)
    * (ref: transactions/order_items.sql:28-37). */
  private val w1FirstValue: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts".desc, $"event_id".desc)
    ev.select($"user_id", $"event_type",
        first($"value").over(w).as("latest_value"))
      .distinct()
      .orderBy($"user_id", $"event_type")
  }

  // --------------------------------------------------------- aggregates ---
  /** A7: BOOL_OR (ref: transactions/orders.sql:13 has_review). */
  private val a7BoolOr: Q = (s, dir) => {
    import s.implicits._
    val ord = Tables(s, dir, "orders")
    ord.groupBy($"o_custkey")
      .agg(
        bool_or($"o_orderstatus" === "F").as("has_finished"),
        bool_or($"o_orderpriority" === "1-URGENT").as("has_urgent"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_custkey")
  }

  /** A8: ordered distinct string agg — LISTAGG/STRING_AGG port
    * (ref: dim_categories.sql:11). collect_set + array_sort + array_join is
    * the deterministic Spark form. */
  private val a8Listagg: Q = (s, dir) => {
    import s.implicits._
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    n.join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name")
      .agg(array_join(array_sort(collect_set($"n_name")), ", ").as("nations"),
        countDistinct($"n_nationkey").as("n_nations"))
      .orderBy($"r_name")
  }

  /** A8 generalized: LISTAGG ... WITHIN GROUP (ORDER BY <other cols>) —
    * aggregate values concatenated in the order of DIFFERENT columns. The
    * deterministic Spark form: collect structs with the order keys leading,
    * array_sort (lexicographic on fields), project the payload, join.
    * Event sequences per user are the training-data use (session text). */
  private val a8bListaggOrdered: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"user_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct($"ts", $"event_id", $"event_type"))),
            x => x.getField("event_type")),
          ",").as("event_seq"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  /** A2/A4/A5/A6/A9: the customers_enriched order-aggregate shape
    * (ref: entities/customers_enriched.sql:3-8; dim_customers.sql:23-25). */
  private val a9CustomerOrders: Q = (s, dir) => {
    import s.implicits._
    val ord = Tables(s, dir, "orders")
    ord.groupBy($"o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        min($"o_orderdate").as("first_order"),
        max($"o_orderdate").as("last_order"),
        F.moneySum($"o_totalprice").as("total_spent"),
        (sum(F.money($"o_totalprice")).cast("double") / count(lit(1))).as("avg_order_value"))
      .orderBy($"o_custkey")
  }

  /** A11: GROUP BY all selected = DISTINCT (ref: dim_locations.sql:11-14). */
  private val a11Distinct: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "customer")
      .select($"c_mktsegment", $"c_nationkey")
      .distinct()
      .orderBy($"c_mktsegment", $"c_nationkey")
  }

  // ----------------------------------------------------------- set ops ----
  /** U1: UNION DISTINCT (ref: entities/locations.sql:30-36). */
  private val u1UnionDistinct: Q = (s, dir) => {
    import s.implicits._
    val c = Tables(s, dir, "customer").select($"c_nationkey".as("nationkey"))
    val sup = Tables(s, dir, "supplier").select($"s_nationkey".as("nationkey"))
    c.unionByName(sup).distinct().orderBy($"nationkey")
  }

  /** U3: UNION ALL with schema drift, missing columns null-filled
    * (ref: pandas concat at ingest_latest:811-821). */
  private val u3UnionAlign: Q = (s, dir) => {
    import s.implicits._
    val c = Tables(s, dir, "customer")
      .select($"c_custkey".as("id"), $"c_name".as("name"), $"c_acctbal".as("acctbal"),
        lit("customer").as("src"))
    val sup = Tables(s, dir, "supplier")
      .select($"s_suppkey".as("id"), $"s_name".as("name"), lit("supplier").as("src"))
    c.unionByName(sup, allowMissingColumns = true)
      .orderBy($"src", $"id")
  }

  // ------------------------------------------------------- sort / top-k ---
  /** O-family: deterministic top-k (ORDER BY + LIMIT with tiebreak). */
  private val o2TopK: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)
  }

  // ------------------------------------------------------------ scalars ---
  /** dbt_utils.generate_surrogate_key parity (ref: locations.sql:53 et al.). */
  private val skSurrogateKey: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .select($"o_orderkey",
        F.surrogateKey($"o_orderkey", $"o_orderstatus", $"o_orderpriority").as("order_sk"))
      .orderBy($"o_orderkey")
  }

  /** Date/time function pack: date_trunc, extract, dow alignment, last_day,
    * add_months, datediff, date_format (SURVEY §2.8 date table). */
  private val sDatetimePack: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders").select(
      $"o_orderkey",
      // Spark date_trunc yields TIMESTAMP even for DATE input; cast back so
      // the result type matches DATE-typed engines (DuckDB returns DATE here).
      date_trunc("month", $"o_orderdate").cast("date").as("month_start"),
      year($"o_orderdate").as("order_year"),
      month($"o_orderdate").as("order_month"),
      F.dowSundayZero($"o_orderdate").as("order_dow"),
      last_day($"o_orderdate").as("month_end"),
      add_months($"o_orderdate".cast("date"), 3).as("plus_3m"),
      datediff(lit("2002-01-01").cast("date"), $"o_orderdate".cast("date")).as("days_to_2002"),
      date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("order_ts_str"))
      .orderBy($"o_orderkey")
  }

  /** String function pack: split_part incl. negative index, trim/upper/lower,
    * concat_ws, coalesce/nullif (SURVEY §2.8 string table; the negative-index
    * split_part is the addresses.sql:4-8 pattern). */
  private val sStringPack: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders").select(
      $"o_orderkey",
      split_part($"o_orderpriority", lit("-"), lit(1)).as("prio_code"),
      split_part($"o_orderpriority", lit("-"), lit(-1)).as("prio_name"),
      split_part($"o_orderpriority", lit(","), lit(-3)).as("prio_missing"),
      upper(trim($"o_orderstatus")).as("status_uc"),
      concat_ws("|", $"o_orderstatus", $"o_orderpriority").as("status_prio"),
      coalesce(F.nullIf($"o_orderstatus", lit("O")), lit("OPEN")).as("status_nf"))
      .orderBy($"o_orderkey")
  }

  // ------------------------------------------------------------- upsert ---
  /** §2.10 upsert semantics as a pure query: target = latest 'view' row per
    * user, updates = latest 'purchase' row per user; updates replace target
    * rows on the user_id key (left_anti ∪ updates). */
  private val mUpsertKeyed: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    def latestOf(tpe: String): DataFrame =
      DedupLatest(ev.filter($"event_type" === tpe), Seq("user_id"), Seq($"ts", $"event_id"))
        .select($"user_id", $"event_id", $"event_type", $"value")
    val target = latestOf("view")
    val updates = latestOf("purchase")
    Upsert.merge(target, updates, Seq("user_id"))
      .orderBy($"user_id")
  }

  // ------------------------------------------------------------ extras ---
  /** P3: TRY_CAST semantics — NULL on failure, never an error
    * (ref: stg_orders.sql:8,15-16,19).
    *
    * The projection is spread across the cluster first (r18, guide §1.2
    * per-task work): two of the casts FAIL on every row ('1-URGENT' →
    * INT, 'O' → DATE), and Spark's TRY mode pays a caught exception —
    * message construction included — per failing row. `Probe stages` measured
    * the old plan as two single-task CPU-bound stages (2.3 s range-sample
    * + 1.5 s shuffle-write: orders parquet is one split at this SF, and
    * the sort's sampling pass re-evaluates the projection), serializing
    * ~4 s of exception unwinding on one core with a 1.00 8→32-core
    * scaling ratio. Repartitioning 150 k skinny rows costs ~2 MB of
    * shuffle; at real scale the source has many splits and the exchange
    * is noise next to the per-row work it parallelizes (same rationale
    * as SimilarityQueries.spread). */
  private val p3TryCast: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_orderstatus", $"o_totalprice")
      .repartition(s.sparkContext.defaultParallelism)
      .select(
      $"o_orderkey",
      expr("try_cast(o_orderpriority AS INT)").as("prio_as_int"),
      expr("try_cast(split_part(o_orderpriority, '-', 1) AS INT)").as("prio_code_int"),
      expr("try_cast(o_orderstatus AS DATE)").as("status_as_date"),
      expr("cast(try_cast(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)").as("price_dec"))
      .orderBy($"o_orderkey")
  }

  /** J4: join on an expression, not a raw column — the derived-dim lookup
    * (ref: products_enriched.sql:48 TRIM(p.brand) = b.brand_name). */
  private val j4ExprJoin: Q = (s, dir) => {
    import s.implicits._
    val ord = Tables(s, dir, "orders")
    val dim = ord
      .select(split_part($"o_orderpriority", lit("-"), lit(1)).as("prio_code"),
        split_part($"o_orderpriority", lit("-"), lit(2)).as("prio_name"))
      .distinct()
    // the dim is DERIVED (distinct over a fact scan), so Catalyst's size
    // estimate rides the fact table and flips this to sort-merge as the
    // fact grows (measured: 3.6x decade at sf1) — but distinct priorities
    // are domain-bounded (5 values), a broadcast dim by construction
    ord.join(broadcast(dim),
        split_part(ord("o_orderpriority"), lit("-"), lit(1)) === dim("prio_code"), "left")
      .groupBy($"prio_code", $"prio_name")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"prio_code")
  }

  /** U2: UNION DISTINCT of derived date sets from two tables
    * (ref: dim_dates.sql:13-19). */
  private val u2UnionDates: Q = (s, dir) => {
    import s.implicits._
    val o = Tables(s, dir, "orders").select($"o_orderdate".cast("date").as("d"))
    val e = Tables(s, dir, "events").select($"ts".cast("date").as("d"))
    o.union(e).distinct().orderBy($"d")
  }

  /** §2.9 incremental high-watermark: rows newer than MAX(date) of the
    * already-materialized subset (ref: fct_customer_orders.sql:18-20).
    * The watermark is a 1-row aggregate cross-joined in (stays distributed,
    * broadcast by Catalyst) — no collect() on the driver. */
  private val incHighWatermark: Q = (s, dir) => {
    import s.implicits._
    val ord = Tables(s, dir, "orders")
    // "Materialized so far" = everything before the final calendar month;
    // the increment is what a daily run would append past that watermark.
    val monthStart = ord.agg(date_trunc("month", max($"o_orderdate")).as("m"))
    val watermark = ord.crossJoin(broadcast(monthStart))
      .filter($"o_orderdate" < $"m")
      .agg(max($"o_orderdate").as("wm"))
    ord.crossJoin(broadcast(watermark))
      .filter($"o_orderdate" > $"wm")
      .groupBy($"o_orderdate".cast("date").as("order_day"))
      .agg(count(lit(1)).as("n_orders"),
        F.moneySum($"o_totalprice").as("day_total"))
      .orderBy($"order_day")
  }

  /** Tumbling-window aggregate over the event stream — the batch twin of
    * the Structured Streaming windowed agg (§2.9; streaming variant in
    * graft.streaming). 1-day windows are epoch-aligned in UTC, so
    * window.start == date_trunc('day'). */
  private val stTumblingWindow: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        F.moneySum($"value").as("total_value"))
      // window() yields TIMESTAMP_LTZ; the source column is NTZ. Cast so the
      // parquet output is not UTC-adjusted (isAdjustedToUTC=false) and
      // engines read back the same naive value (session is UTC).
      .select($"w.start".cast("timestamp_ntz").as("day"),
        $"n_events", $"n_users", $"total_value")
      .orderBy($"day")
  }


  /** The events table as a TIMESTAMP-typed stream: legacy nanos-as-long
    * converts to micros, and NTZ parquet reads cast to the instant-bearing
    * type watermarks require (UTC session: same instant). */
  private def eventsStream(s: SparkSession, dir: String): DataFrame =
    timestampedEvents(streamTable(s, dir, "events",
      ParquetFormat.read(s, s"$dir/events.parquet").schema))

  /** `ts` of an events frame (batch or stream) as TIMESTAMP: legacy
    * nanos-as-long converts to micros, NTZ reads cast to the instant type. */
  private def timestampedEvents(raw: DataFrame): DataFrame = {
    val withTs =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    withTs.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Drain a streaming DataFrame with `Trigger.AvailableNow` and return
    * the drained table. APPEND-mode drains go to a parquet FILE sink in a
    * fresh temp dir and are read back — executor-side end to end, so an
    * unbounded output (the skew10 interval join emits >1 GB of matches)
    * never rides task results to the driver (the memory sink did, and
    * died on spark.driver.maxResultSize at skew10 — r14). COMPLETE-mode
    * drains keep the memory sink: the file sink cannot replace a complete
    * snapshot, and a complete-mode result is a groupBy aggregate that is
    * small by construction. Fresh names/dirs per invocation keep warm-up
    * passes from stacking rows. Append drains RECLAIM their disk eagerly:
    * the read-back is pinned with an eager localCheckpoint (executor
    * block-manager blocks, freed by the ContextCleaner once the result is
    * unreferenced) and the output + checkpoint dirs are deleted before
    * returning — repeated warm-up/bench passes of a >1 GB skew10 drain no
    * longer stack multi-GB temp dirs until JVM exit (the exit hook stays
    * as a crash backstop). */
  private def drainToTable(s: SparkSession, df: DataFrame, prefix: String,
      mode: String): DataFrame = {
    val ckpt = graft.TempDirs.create(prefix + "_ckpt")
    if (mode == "append") {
      val out = graft.TempDirs.create(prefix + "_out")
      graft.streaming.Streams.runAvailableNow(df, ckpt.toString, out.toString)
      // explicit schema: a drain with zero emitted rows leaves only the
      // _spark_metadata log, and schema inference would throw
      val result = s.read.schema(df.schema).parquet(out.toString)
        .localCheckpoint(true)
      graft.TempDirs.deleteNow(out)
      graft.TempDirs.deleteNow(ckpt)
      result
    } else {
      val sink = prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
      df.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      val out = s.table(sink) // ofRows resolves the plan eagerly
      s.catalog.dropTempView(sink)
      out
    }
  }

  /** Write each DataFrame as ONE parquet file in a fresh source dir, file
    * mtimes pinning the batch order — the planted multi-batch file source
    * the out-of-order and ingest-dedup streaming keys drain with
    * `maxFilesPerTrigger=1`. The dir is deleted at JVM exit. */
  private def plantBatchFiles(prefix: String, batches: Seq[DataFrame]): java.nio.file.Path = {
    val root = graft.TempDirs.create(prefix)
    val src = root.resolve("src")
    java.nio.file.Files.createDirectory(src)
    val t0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = root.resolve(s"b${i}_tmp").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val dst = src.resolve(s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      // the return value IS the premise: on a filesystem where mtime
      // can't be set, the planted batch order silently inverts and the
      // straggler-crosses-batch-boundary scenario evaporates while the
      // drain still equals the replay (ADVICE r11) — fail loudly instead
      require(dst.toFile.setLastModified(t0 - 60000L * (batches.size - 1 - i)),
        s"setLastModified failed for $dst — planted batch order would be lost")
    }
    src
  }

  /** STREAMING parity — the one st_* key that runs the ACTUAL streaming
    * engine, not the batch analog: events are consumed through a
    * file-stream source with `Trigger.AvailableNow` (the reference's
    * daily micro-batch pattern run as an incremental drain —
    * SURVEY §2.9), aggregated with the same tumbling-window transform as
    * [[stTumblingWindow]], and landed in a complete-mode memory sink so
    * every window — including the still-open last day — is emitted when
    * the drain finishes. The DuckDB oracle replays the BATCH aggregate:
    * a hash match certifies the batch/streaming parity Structured
    * Streaming promises (and that the nanos→micros timestamp seam
    * behaves identically under the streaming reader). n_users is absent
    * by design: distinct aggregation is unsupported in streaming — the
    * scale path for it is the HLL sketch family (a_hll_merge). */
  private val stStreamParity: Q = (s0, dir) => {
    val s = streamSession(s0, dir, "events")
    import s.implicits._
    val agg = eventsStream(s, dir)
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"), F.moneySum($"value").as("total_value"))
      .select($"w.start".cast("timestamp_ntz").as("day"),
        $"n_events", $"total_value")
    drainToTable(s, agg, "st_stream_parity", "complete").orderBy($"day")
  }

  /** STREAMING stateful dedup — the second real-streaming key: documents
    * arrive through the file-stream source and are deduplicated by content
    * fingerprint with STREAMING STATE (the running per-fingerprint
    * aggregate Structured Streaming keeps between micro-batches), drained
    * with `Trigger.AvailableNow` into a complete-mode memory sink. This is
    * the daily-ingest dedup regime at 100 TB: state is partitioned by the
    * fingerprint key across executors, each micro-batch touches only its
    * delta, and the batch DuckDB replay certifies exactly-once semantics
    * across the drain. `min(doc_id)` (not `dropDuplicates`' arbitrary
    * first-seen row) makes the keeper deterministic under any partition
    * order, so the hash gate can grade it. */
  private val stStreamDedup: Q = (s0, dir) => {
    val s = streamSession(s0, dir, "documents")
    import s.implicits._
    val rawSchema = ParquetFormat.read(s, s"$dir/documents.parquet").schema
    val agg = streamTable(s, dir, "documents", rawSchema)
      .select(Text.fingerprint($"text").as("fingerprint"), $"doc_id")
      .groupBy($"fingerprint")
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper"))
    drainToTable(s, agg, "st_stream_dedup", "complete").orderBy($"keeper")
  }

  /** STREAMING stateful sessionization — the third real-streaming key, and
    * the one that exercises CUSTOM state: [[graft.streaming.Streams
    * .sessionizeCents]] (flatMapGroupsWithState, EventTimeTimeout) drained
    * over the events table with `Trigger.AvailableNow` in APPEND mode.
    * Each user's session state lives partitioned by key across executors —
    * the 100 TB regime where state scales with LIVE users, not history.
    *
    * What the oracle certifies is the full streaming contract, not just
    * the fold: sessions closed by a later event emit in-batch; each user's
    * TRAILING session emits only if its event-time timeout (end + gap)
    * fell STRICTLY behind the final watermark (max event time − lateness)
    * when the closing no-data micro-batch ran — the boundary strictness is
    * probed and pinned in StreamsSpec, and the DuckDB replay encodes the
    * same rule. Money rides as integer cents and times as epoch ms, so
    * every emitted cell is order-free exact (see sessionizeCents). */
  private val stStreamSession: Q = (s0, dir) => {
    val s = streamSession(s0, dir, "events")
    import s.implicits._
    val events = eventsStream(s, dir)
      .select($"ts", $"user_id",
        F.valueCents.as("cents"))
      .as[graft.streaming.Streams.EventC]
    val sess = graft.streaming.Streams.sessionizeCents(events,
      gapMs = 30 * 60 * 1000L, latenessMs = 60 * 60 * 1000L)
    drainToTable(s, sess.toDF(), "st_stream_session", "append")
      .orderBy($"user_id", $"session_start_ms")
  }

  /** STREAMING sessionization under genuinely OUT-OF-ORDER multi-batch
    * arrival (VERDICT r10 #5) — the key that grades the sibling-straggler
    * emission contract end to end through the REAL engine, not a
    * MemoryStream spec. The events table is split into a TWO-FILE source
    * drained batch-by-batch (`maxFilesPerTrigger=1`; file mtimes pin the
    * order): file 2 holds planted cross-batch stragglers — events BEHIND
    * file 1's frontier (so batch 2 delivers them out of order) but ahead
    * of batch 1's watermark (so none are late-dropped).
    *
    * The construction is chosen so the drain PROVABLY equals the global
    * replay (same oracle as st_stream_session): stragglers are odd-hash
    * users' events in the middle band (M−55 min, M−25 min], and a user
    * with any event in the bridge-guard band (M−85 min, M−55 min] is
    * ineligible. The guard is what makes it sound — a straggler B can
    * bridge two batch-1 sessions only if some earlier session ends within
    * gap (30 min) of B, i.e. after M−85 min; excluding those users means
    * every straggler lands either > gap after anything already emitted
    * (consistent new/early session) or within gap of the user's still-OPEN
    * trailing session (merged in state — the widening, early-chain, and
    * chain-bridge paths of sessionizeCents, exactly the code the r10 fix
    * hardened). Batch-1 emissions are therefore never contradicted, and
    * the final watermark (M − lateness) is unchanged because eligible
    * users' newest events stay in file 1. */
  private val stStreamSessionOoo: Q = (s0, dir) => {
    val s = streamSession(s0, dir, "events")
    import s.implicits._
    val withMs = timestampedEvents(ParquetFormat.read(s, s"$dir/events.parquet"))
      .select($"ts", $"user_id", F.valueCents.as("cents"),
        expr("unix_millis(ts)").as("tms"))
    val m = withMs.agg(max($"tms")).head().getLong(0)
    val (guardLo, guardHi, midHi) =
      (m - 85 * 60000L, m - 55 * 60000L, m - 25 * 60000L)
    val eligible = withMs.groupBy($"user_id")
      .agg(max(when($"tms" > guardLo && $"tms" <= guardHi, 1).otherwise(0))
        .as("has_guard"))
      .filter($"has_guard" === 0 &&
        pmod(graft.functions.Vectors.hash60(
          concat(lit("ooo_"), $"user_id".cast("string"))), lit(2)) === 1)
      .select($"user_id")
    val flagged = withMs.join(broadcast(eligible.withColumn("elig", lit(true))),
        Seq("user_id"), "left")
      .withColumn("straggler",
        coalesce($"elig", lit(false)) && $"tms" > guardHi && $"tms" <= midHi)
      .select($"ts", $"user_id", $"cents", $"straggler")
    val src = plantBatchFiles("st_ooo",
      Seq(flagged.filter(!$"straggler").drop("straggler"),
        flagged.filter($"straggler").drop("straggler")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType)))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .as[graft.streaming.Streams.EventC]
    val sess = graft.streaming.Streams.sessionizeCents(stream,
      gapMs = 30 * 60 * 1000L, latenessMs = 60 * 60 * 1000L)
    drainToTable(s, sess.toDF(), "st_stream_session_ooo", "append")
      .orderBy($"user_id", $"session_start_ms")
  }

  /** STREAMING stream-static enrichment — [[graft.streaming.Streams
    * .enrichWithDim]] through the REAL engine: the events file-stream
    * left-joins the customer dimension (re-read and BROADCAST per
    * micro-batch — zero streaming state, the cheapest join shape on a
    * stream) and the enriched rows aggregate per market segment in
    * complete mode. The DuckDB batch replay hash-certifies that the
    * per-batch broadcast enrichment loses/duplicates nothing across the
    * drain. Money rides as integer cents (order-free sum). */
  private val stStreamEnrich: Q = (s0, dir) => {
    val s = streamSession(s0, dir, "events")
    import s.implicits._
    val dim = ParquetFormat.read(s, s"$dir/customer.parquet")
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    val agg = graft.streaming.Streams
      .enrichWithDim(eventsStream(s, dir), dim, Seq("user_id"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(F.valueCents).as("total_cents"))
    // explicit null position: Spark default is NULLS FIRST asc, DuckDB's
    // is NULLS LAST — pin both so an unmatched user at any SF can't flip
    // the order-sensitive compare
    drainToTable(s, agg, "st_stream_enrich", "complete")
      .orderBy($"c_mktsegment".asc_nulls_last)
  }

  /** STREAMING stream-stream interval join — [[graft.streaming.Streams
    * .purchaseAttribution]] through the REAL engine: purchases and views
    * of the same user join within a 1-hour attribution window, both sides
    * watermarked so the engine can BOUND the buffered state (a view older
    * than watermark + interval can never match and is evicted — without
    * the range bounds this join buffers both streams forever; that
    * eviction contract is the whole 100 TB story). Drained AvailableNow in
    * append mode, the emitted match set equals the batch interval join,
    * which the DuckDB replay hash-certifies. */
  private val stStreamJoin: Q = (s0, dir) => {
    fenceStreamJoin("st_stream_join", s0, dir)
    val s = streamSession(s0, dir, "events")
    import s.implicits._
    val joined = graft.streaming.Streams
      .purchaseAttribution(eventsStream(s, dir))
      .select($"user_id", $"purchase_id", $"view_id")
    drainToTable(s, joined, "st_stream_join", "append")
      .orderBy($"user_id", $"purchase_id", $"view_id")
  }

  // Interval-join saturation fence (VERDICT r15 #3 — the skew100 rung's
  // cliff): the exact interval joins emit EVERY (purchase, view) pair in
  // the hour window, and on a fixed-span stream that output is quadratic
  // in the corpus ([[graft.Fence.StreamJoinPairsPerEvent]] has the
  // measurements). Same per-row density discipline as the
  // dedup/decontamination fences: Σ over (user, hour bucket) of
  // views×purchases — computed with the join's own two-bucket explode, so
  // it is exactly the pair work the bucketed state key admits — per event
  // is scale-free; it trips on density saturation, never on legitimate
  // growth. One aggregation pass over the events table, memoized per
  // session × dir ([[ProbeCache]]).
  private[graft] def streamJoinPairWork(s: SparkSession, dir: String): Long =
    ProbeCache.cached(s, s"streamJoinPairWork#$dir") {
      import s.implicits._
      val e = Tables(s, dir, "events")
      val v = e.filter($"event_type" === "view")
        .select($"user_id", explode(array(
          window($"ts", "1 hour").getField("start"),
          window($"ts" + expr("INTERVAL 1 HOUR"), "1 hour").getField("start")))
          .as("b"))
        .groupBy($"user_id", $"b").agg(count(lit(1)).as("nv"))
      val p = e.filter($"event_type" === "purchase")
        .select($"user_id", window($"ts", "1 hour").getField("start").as("b"))
        .groupBy($"user_id", $"b").agg(count(lit(1)).as("np"))
      v.join(p, Seq("user_id", "b"))
        .agg(coalesce(sum($"nv" * $"np"), lit(0L))).head().getLong(0)
    }
  private def fenceStreamJoin(name: String, s: SparkSession, dir: String): Unit = {
    val events = ProbeCache.cached(s, s"eventCount#$dir") {
      Tables(s, dir, "events").count()
    }
    val work = streamJoinPairWork(s, dir)
    Fence.check(s, Fence.StreamJoinPairsPerEvent, name, work, per = events,
        unit = "event")(
      s"interval-join candidate mass is saturated — $work (user, hour)-bucketed " +
        s"view×purchase pairs for $events events",
      "On a fixed-span stream the pair output grows quadratically with " +
        "density; use the bounded-output twin st_stream_join_last (last-touch " +
        "attribution, one row per matched purchase at any density)",
      "the pair join")
  }

  /** STREAMING last-touch attribution — the bounded-output twin of
    * [[stStreamJoin]] past the saturation fence:
    * [[graft.streaming.Streams.lastTouchAttribution]] through the REAL
    * engine (custom (user, hour-bucket) state, EventTimeTimeout
    * resolution). Each purchase credits the single most recent qualifying
    * view — argmax (v_ts, view_id) over v_ts ∈ (p_ts − 1 h, p_ts] — so
    * output is O(purchases) and cell work O((V+P) log V) at ANY density,
    * while the exact join's pair output is quadratic on saturated
    * streams. Emission rides the session key's timeout contract: a
    * purchase emits only once the watermark passes its hour-bucket end,
    * so purchases in the final watermark+bucket horizon stay provisional
    * in state — the DuckDB replay encodes exactly that boundary
    * (bucket_end strictly below the ms-floored final watermark over the
    * view∪purchase stream). Twin containment: every emitted row is a row
    * of the exact join's output (the argmax member of the purchase's pair
    * set) — spec-pinned alongside the boundary replay. */
  private val stStreamJoinLast: Q = (s0, dir) => {
    val s = streamSession(s0, dir, "events")
    import s.implicits._
    // explicit literals, not defaults: the DuckDB replay for this key
    // hardcodes the 1 h window and the 7 200 000 ms watermark delay — a
    // drift here must be a visible diff at the call site, not a silent
    // default change (ADVICE r16; the engine itself is width-general)
    val attributed = graft.streaming.Streams
      .lastTouchAttribution(eventsStream(s, dir),
        interval = "1 hour", watermark = "2 hours")
      .toDF()
      .select($"user_id", $"purchase_id", $"view_id")
    drainToTable(s, attributed, "st_stream_join_last", "append")
      .orderBy($"user_id", $"purchase_id", $"view_id")
  }

  /** STREAMING stream-stream LEFT OUTER interval join —
    * [[graft.streaming.Streams.purchaseAttributionLeft]] through the REAL
    * engine. Matched purchases emit like the inner join; an UNMATCHED
    * purchase emits its null-view row only once the watermark proves no
    * view can ever match it and its buffered state is evicted — so
    * purchases later than the final watermark stay un-emitted in state at
    * drain end. The DuckDB replay encodes exactly that contract: the
    * batch inner join UNION the unmatched purchases with
    * `p_ts < final watermark` (strictness probed and pinned in
    * StreamsSpec), where the final watermark is
    * min(max view ts, max purchase ts) − the 2 h delay, the same
    * min-across-inputs rule the engine applies. This is the rung that
    * certifies state EVICTION (not just retention) is correct — the
    * property that bounds the join's memory at 100 TB. */
  private val stStreamLeftJoin: Q = (s0, dir) => {
    fenceStreamJoin("st_stream_left_join", s0, dir)
    val s = streamSession(s0, dir, "events")
    import s.implicits._
    val joined = graft.streaming.Streams
      .purchaseAttributionLeft(eventsStream(s, dir))
      .select($"user_id", $"purchase_id", $"view_id")
    drainToTable(s, joined, "st_stream_left_join", "append")
      .orderBy($"user_id", $"purchase_id", $"view_id".asc_nulls_first)
  }

  /** STREAMING keyed-upsert SINK drain — [[graft.streaming.Streams
    * .upsertSink]] graded end to end: the events file-stream feeds a
    * foreachBatch that dedups each micro-batch to its latest row per
    * (user_id, event_type) and MERGES it into a parquet target through
    * the crash-safe atomic swap ([[graft.operators.Upsert]]). What the
    * oracle certifies is the composed effectively-once contract: after an
    * AvailableNow drain, the target table equals the global
    * keep-latest-per-key over all events — regardless of how the source
    * split into micro-batches, because a keyed merge of latest rows is
    * idempotent and order-insensitive ACROSS batches when the order
    * column rides the data (ts, event_id tiebreak), not arrival time.
    * This is the reference's delete+insert warehouse load run as a
    * continuous query — the last S7/§2.10 surface that had only a spec,
    * now hash-graded. */
  private val stStreamUpsert: Q = (s0, dir) => {
    val s = streamSession(s0, dir, "events")
    import s.implicits._
    val root = graft.TempDirs.create("st_upsert")
    val target = s"$root/state"
    val ev = eventsStream(s, dir).select($"user_id", $"event_type", $"ts",
      $"event_id", F.valueCents.as("cents"))
    graft.streaming.Streams.upsertSink(ev, target, s"$root/ckpt",
      Seq("user_id", "event_type"), Seq("ts", "event_id"))
    ParquetFormat.read(s, target)
      .select($"user_id", $"event_type", $"event_id", $"cents")
      .orderBy($"user_id", $"event_type")
  }

  /** S9: catalog probes — per-table row counts as one result set
    * (ref: sample_ecom_raw_query_duckdb.py:8-43). */
  private val s9CatalogCounts: Q = (s, dir) => {
    import s.implicits._
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    names.map { n =>
      Tables(s, dir, n).agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("table_name"), $"n_rows")
    }.reduce(_.unionByName(_)).orderBy($"table_name")
  }

  /** §5 quality gate as a query: dbt `unique` violations — key combinations
    * appearing more than once (store_failures shape: the failing rows). */
  private val qaUniqueViolations: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Quality
      .unique(Tables(s, dir, "events"), Seq("user_id", "event_type"))
      .orderBy($"user_id", $"event_type")
  }

  /** §5 freshness gate — the `dbt source freshness` analog: per source
    * partition (event_type), the lag between its newest row and the
    * corpus watermark, classified against warn/error thresholds. The
    * reference's loader stamps LOADED_AT and relies on "latest batch
    * wins" (ingest_latest_synthetic_data.py:163-194); this is the
    * monitoring query that tells you a source STOPPED arriving. One
    * aggregate per source + one broadcast scalar — O(sources) output at
    * any corpus size; lag rides as epoch-ms integers so the compare is
    * exact. */
  private val qaFreshness: Q = (s, dir) => {
    import s.implicits._
    // NTZ → instant under the UTC session, so unix_millis is defined
    val ev = Tables(s, dir, "events")
      .select($"event_type", $"ts".cast("timestamp").as("ts"))
    val watermark = ev.agg(max($"ts").as("now_ts"))
    ev.groupBy($"event_type")
      .agg(max($"ts").as("last_ts"), count(lit(1)).as("n_events"))
      .crossJoin(broadcast(watermark))
      .withColumn("lag_ms", unix_millis($"now_ts") - unix_millis($"last_ts"))
      .withColumn("status",
        when($"lag_ms" <= 2L * 3600 * 1000, "fresh")
          .when($"lag_ms" <= 12L * 3600 * 1000, "warn")
          .otherwise("stale"))
      .select($"event_type", $"n_events", $"lag_ms", $"status")
      .orderBy($"event_type")
  }

  /** S10/§3: the layered dbt-run analog — a staging→intermediate→mart DAG
    * composed through [[graft.plans.ModelGraph]]; views inline into ONE
    * Catalyst plan, so filters/pruning cross model boundaries. */
  private val runnerDailySales: Q = (s, dir) => {
    import s.implicits._
    import graft.plans.ModelGraph
    val models = Seq(
      ModelGraph.Model("stg_orders", Seq("orders"), deps =>
        deps("orders").select(
          $"o_orderkey".as("order_id"),
          $"o_custkey".as("customer_id"),
          $"o_orderdate".cast("date").as("order_date"),
          F.money($"o_totalprice").as("order_total"))),
      ModelGraph.Model("int_orders_customers", Seq("stg_orders", "customer"), deps =>
        deps("stg_orders").join(
          deps("customer").select($"c_custkey".as("customer_id"), $"c_mktsegment"),
          Seq("customer_id"), "left")),
      ModelGraph.Model("fct_daily_sales", Seq("int_orders_customers"), deps =>
        deps("int_orders_customers")
          .groupBy($"order_date", $"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            countDistinct($"customer_id").as("n_customers"),
            sum($"order_total").cast("double").as("total_sales"))))
    ModelGraph.compose(models,
      Map("orders" -> Tables(s, dir, "orders"), "customer" -> Tables(s, dir, "customer")))
      .apply("fct_daily_sales")
      .orderBy($"order_date", $"c_mktsegment")
  }

  /** Typed `Dataset[T]` API: case-class Encoder, lambda filter, groupByKey
    * — compile-time field checks where the schema is static. The lambda
    * breaks codegen fusion (kept out of hot paths; here it IS the point). */
  private val tTypedDataset: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .select($"o_custkey", $"o_orderstatus")
      .as[OrderRow]
      .filter(_.o_orderstatus == "F")
      .groupByKey(_.o_custkey)
      .count()
      .toDF("o_custkey", "n_f_orders")
      .orderBy($"o_custkey")
  }

  /** HLL sketch vs exact distinct — approximate results carry no oracle
    * (engine-specific sketches); the driver records a rows-only check. */
  /** HLL++ registers aren't cross-engine replayable, so the oracle checks
    * an ERROR-BOUND CONTRACT instead (VERDICT r3 item 6): the approximate
    * count must land within 5% of exact (HLL++ at rsd=0.01 gives ~1%
    * typical error — 5× headroom). DuckDB asserts `within_5pct = TRUE` plus
    * the exact counts; a drifting sketch flips the boolean and fails the
    * hash compare. */
  private val aApproxDistinct: Q = (s, dir) => {
    import s.implicits._
    // Dedup to (status, custkey) grain FIRST, then count + sketch the
    // distinct rows (r18, guide §2.3): the old single groupBy mixed an
    // exact countDistinct with the HLL, which plans as an Expand (every
    // input row duplicated per aggregate path) plus a distinct-agg
    // rewrite — `Probe stages` measured 4.6 cpu-s in that final aggregate at
    // sf0.1. HLL is a pure function of the SET of values (a duplicate
    // cannot raise a register's max rank), so sketching the deduped rows
    // yields bit-identical registers and the exact count becomes a plain
    // count(*) — no Expand, both aggregations partial/map-side.
    Tables(s, dir, "orders")
      .select($"o_orderstatus", $"o_custkey").distinct()
      .groupBy($"o_orderstatus")
      .agg(approx_count_distinct($"o_custkey", 0.01).as("approx"),
        count(lit(1)).as("exact_customers"))
      .select($"o_orderstatus", $"exact_customers",
        (abs($"approx" - $"exact_customers").cast("double") / $"exact_customers" <= 0.05)
          .as("within_5pct"))
      .orderBy($"o_orderstatus")
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles — identical column names + ORDER BY as the Spark side.
  // ---------------------------------------------------------------------

  private val SessionReplaySql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS tms,
      |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
      |marks AS (SELECT user_id, tms, cents,
      |  CASE WHEN lag(tms) OVER w IS NULL
      |       OR tms - lag(tms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
      | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
      |sess AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tms
      |                                    ROWS UNBOUNDED PRECEDING) AS sid
      | FROM marks),
      |agg AS (SELECT user_id, sid, MIN(tms) AS session_start_ms,
      |         MAX(tms) AS session_end_ms,
      |         COUNT(*) AS n_events,
      |         CAST(SUM(cents) AS BIGINT) AS total_cents
      |        FROM sess GROUP BY user_id, sid),
      |lastsid AS (SELECT user_id, MAX(sid) AS max_sid FROM agg GROUP BY user_id),
      |wm AS (SELECT MAX(epoch_ms(ts)) - 3600000 AS w FROM events)
      |SELECT a.user_id, a.session_start_ms, a.session_end_ms,
      | a.n_events, a.total_cents
      |FROM agg a JOIN lastsid l ON a.user_id = l.user_id, wm
      |WHERE a.sid < l.max_sid OR a.session_end_ms + 1800000 < wm.w
      |ORDER BY a.user_id, a.session_start_ms""".stripMargin

  def oracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, revenue FROM (
        | SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        | FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        | WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-06-30'
        |  AND l_shipdate > TIMESTAMP '1996-06-30'
        | GROUP BY l_orderkey, o_orderdate)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1997-01-01'
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "j1_left_join" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "j9_double_role_join" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "j10_star_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(DISTINCT o_orderkey) AS n_orders,
        | COUNT(DISTINCT c_custkey) AS n_customers
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "j7_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "j13_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "p5_case_when" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
        |            WHEN c_acctbal < 5000 THEN 'low'
        |            ELSE 'high' END AS balance_band,
        | COUNT(*) AS n_customers,
        | COUNT(DISTINCT c_nationkey) AS n_nations
        |FROM customer
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "p6_conditional_agg" ->
      """SELECT user_id,
        | COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
        | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
        | COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN event_id END) AS n_purchase_events,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value
        |FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "p8_dedup_latest" ->
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "w1_first_value_latest" ->
      """SELECT DISTINCT user_id, event_type,
        | FIRST_VALUE(value) OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS latest_value
        |FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "a7_bool_or" ->
      """SELECT o_custkey,
        | BOOL_OR(o_orderstatus = 'F') AS has_finished,
        | BOOL_OR(o_orderpriority = '1-URGENT') AS has_urgent,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "a8_listagg" ->
      """SELECT r_name,
        | STRING_AGG(DISTINCT n_name, ', ' ORDER BY n_name) AS nations,
        | COUNT(DISTINCT n_nationkey) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "a8b_listagg_ordered" ->
      """SELECT user_id,
        | string_agg(event_type, ',' ORDER BY ts, event_id) AS event_seq,
        | COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "a9_customer_orders" ->
      """SELECT o_custkey,
        | COUNT(*) AS n_orders,
        | MIN(o_orderdate) AS first_order,
        | MAX(o_orderdate) AS last_order,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_order_value
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "a11_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "u1_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "u3_union_schema_drift" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, s_name AS name, NULL AS acctbal, 'supplier' AS src FROM supplier
        |ORDER BY src, id""".stripMargin,

    "o2_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "sk_surrogate_key" ->
      """SELECT o_orderkey,
        | md5(concat_ws('-',
        |   COALESCE(CAST(o_orderkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
        |   COALESCE(CAST(o_orderstatus AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
        |   COALESCE(CAST(o_orderpriority AS VARCHAR), '_dbt_utils_surrogate_key_null_'))) AS order_sk
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "s_datetime_pack" ->
      """SELECT o_orderkey,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        | CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
        | CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
        | CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS order_dow,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3m,
        | date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
        | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts_str
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "s_string_pack" ->
      """SELECT o_orderkey,
        | split_part(o_orderpriority, '-', 1) AS prio_code,
        | split_part(o_orderpriority, '-', -1) AS prio_name,
        | split_part(o_orderpriority, ',', -3) AS prio_missing,
        | upper(trim(o_orderstatus)) AS status_uc,
        | concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
        | COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_nf
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "p3_try_cast" ->
      """SELECT o_orderkey,
        | TRY_CAST(o_orderpriority AS INT) AS prio_as_int,
        | TRY_CAST(split_part(o_orderpriority, '-', 1) AS INT) AS prio_code_int,
        | TRY_CAST(o_orderstatus AS DATE) AS status_as_date,
        | CAST(TRY_CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "j4_expr_join" ->
      """WITH dim AS (SELECT DISTINCT split_part(o_orderpriority, '-', 1) AS prio_code,
        |                    split_part(o_orderpriority, '-', 2) AS prio_name FROM orders)
        |SELECT prio_code, prio_name, COUNT(*) AS n_orders
        |FROM orders LEFT JOIN dim ON split_part(o_orderpriority, '-', 1) = dim.prio_code
        |GROUP BY 1, 2 ORDER BY prio_code""".stripMargin,

    "u2_union_dates" ->
      """SELECT CAST(o_orderdate AS DATE) AS d FROM orders
        |UNION
        |SELECT CAST(ts AS DATE) AS d FROM events
        |ORDER BY d""".stripMargin,

    "inc_high_watermark" ->
      """SELECT CAST(o_orderdate AS DATE) AS order_day,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        |FROM orders
        |WHERE o_orderdate > (SELECT MAX(o_orderdate) FROM orders
        |                     WHERE o_orderdate < (SELECT date_trunc('month', MAX(o_orderdate)) FROM orders))
        |GROUP BY 1 ORDER BY order_day""".stripMargin,

    "st_tumbling_window" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        | COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // batch replay of the streaming drain — a hash match IS the parity proof
    "st_stream_parity" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // batch replay of the streaming sessionization drain, INCLUDING its
    // emission rule: every non-trailing session, plus trailing sessions
    // whose timeout (end + gap) fell strictly behind the final watermark
    // (max event ms − lateness). Gap 30 min, lateness 60 min, all in the
    // same epoch-ms floor the engine's event-time bookkeeping uses.
    // Shared with st_stream_session_ooo: its guard-band construction
    // PROVES the multi-batch out-of-order drain emits the identical set,
    // so both keys grade against the same globally-sorted replay.
    "st_stream_session" -> SessionReplaySql,
    "st_stream_session_ooo" -> SessionReplaySql,

    // batch replay of the per-micro-batch broadcast enrichment drain
    "st_stream_enrich" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n_events,
        | CAST(SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1 NULLS LAST""".stripMargin,

    // batch replay of the stream-stream interval join: with a complete
    // AvailableNow drain the emitted matches equal the batch join
    "st_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        | AND v.ts > p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |ORDER BY 1, 2, 3""".stripMargin,

    // replay of the last-touch drain's full emission contract: one row per
    // matched purchase — the argmax (v_ts, view_id) qualifying view — but
    // only for purchases whose hour bucket TIMED OUT, i.e. bucket end
    // strictly below the final ms-floored watermark over the view∪purchase
    // stream (the session key's strict-timeout rule; the twin's stream has
    // ONE watermark node over the filtered union, hence GREATEST not LEAST)
    "st_stream_join_last" ->
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts
        |  FROM events WHERE event_type = 'view'),
        |wm AS (SELECT GREATEST((SELECT MAX(epoch_ms(ts)) FROM p),
        |  (SELECT MAX(epoch_ms(ts)) FROM v)) - 7200000 AS wm_ms),
        |emit AS (SELECT p.* FROM p, wm
        |  WHERE (epoch_ms(p.ts) // 3600000) * 3600000 + 3600000 < wm_ms),
        |ranked AS (
        | SELECT e.user_id, e.event_id AS purchase_id, v.event_id AS view_id,
        |  ROW_NUMBER() OVER (PARTITION BY e.user_id, e.event_id
        |    ORDER BY v.ts DESC, v.event_id DESC) AS rn
        | FROM emit e JOIN v ON v.user_id = e.user_id
        |  AND v.ts > e.ts - INTERVAL 1 HOUR AND v.ts <= e.ts)
        |SELECT user_id, purchase_id, view_id FROM ranked WHERE rn = 1
        |ORDER BY 1, 2, 3""".stripMargin,

    // replay of the left-outer drain's full emission contract: matched
    // rows are the batch interval join; null rows only for unmatched
    // purchases STRICTLY below the final watermark, which the engine
    // computes in whole milliseconds (probed + pinned in StreamsSpec)
    "st_stream_left_join" ->
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts
        |  FROM events WHERE event_type = 'view'),
        |wm AS (SELECT ((LEAST(epoch_us((SELECT MAX(ts) FROM v)),
        |  epoch_us((SELECT MAX(ts) FROM p))) // 1000) - 7200000) * 1000 AS wm_us),
        |matched AS (
        | SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
        | FROM p JOIN v ON v.user_id = p.user_id
        |  AND v.ts > p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts),
        |unmatched AS (
        | SELECT p.user_id, p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS view_id
        | FROM p, wm
        | WHERE epoch_us(p.ts) < wm_us
        |  AND NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id
        |    AND v.ts > p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts))
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        |ORDER BY user_id, purchase_id, view_id NULLS FIRST""".stripMargin,

    // the drained upsert target must equal the global keep-latest state
    // (ts at micros like the engine's nanos->micros seam; event_id breaks
    // equal-timestamp ties)
    "st_stream_upsert" ->
      """SELECT user_id, event_type, event_id,
        | CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |  ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) rn FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    // batch replay of the streaming stateful dedup drain
    "st_stream_dedup" ->
      raw"""SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           | COUNT(*) AS n_copies, MIN(doc_id) AS keeper
           |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin,

    "s9_catalog_counts" -> {
      val names = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      names.map(n => s"SELECT '$n' AS table_name, COUNT(*) AS n_rows FROM $n")
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },

    "t_typed_dataset" ->
      """SELECT o_custkey, COUNT(*) AS n_f_orders FROM orders
        |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY o_custkey""".stripMargin,

    // DuckDB can't replay HLL++ registers; it asserts the error contract:
    // the boolean must be TRUE and the exact counts must match.
    "a_approx_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact_customers,
        | TRUE AS within_5pct
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "qa_unique_violations" ->
      """SELECT user_id, event_type, COUNT(*) AS n_rows
        |FROM events GROUP BY 1, 2 HAVING COUNT(*) > 1
        |ORDER BY user_id, event_type""".stripMargin,

    "qa_freshness" ->
      """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) ts FROM events),
        |m AS (SELECT MAX(ts) AS now_ts FROM e),
        |g AS (SELECT event_type, MAX(ts) AS last_ts, COUNT(*) AS n_events
        |      FROM e GROUP BY 1)
        |SELECT event_type, n_events,
        | epoch_ms(now_ts) - epoch_ms(last_ts) AS lag_ms,
        | CASE WHEN epoch_ms(now_ts) - epoch_ms(last_ts) <= 7200000 THEN 'fresh'
        |      WHEN epoch_ms(now_ts) - epoch_ms(last_ts) <= 43200000 THEN 'warn'
        |      ELSE 'stale' END AS status
        |FROM g, m ORDER BY event_type""".stripMargin,

    "runner_daily_sales" ->
      """WITH stg_orders AS (
        | SELECT o_orderkey AS order_id, o_custkey AS customer_id,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS order_total
        | FROM orders),
        |int_orders_customers AS (
        | SELECT s.*, c.c_mktsegment
        | FROM stg_orders s LEFT JOIN customer c ON s.customer_id = c.c_custkey)
        |SELECT order_date, c_mktsegment,
        | COUNT(*) AS n_orders,
        | COUNT(DISTINCT customer_id) AS n_customers,
        | CAST(SUM(order_total) AS DOUBLE) AS total_sales
        |FROM int_orders_customers
        |GROUP BY 1, 2 ORDER BY order_date, c_mktsegment""".stripMargin,

    "m_upsert_keyed" ->
      """WITH latest_view AS (
        | SELECT user_id, event_id, event_type, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type = 'view') WHERE rn = 1),
        |latest_purchase AS (
        | SELECT user_id, event_id, event_type, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT * FROM (
        | SELECT t.* FROM latest_view t
        | WHERE NOT EXISTS (SELECT 1 FROM latest_purchase u WHERE u.user_id = t.user_id)
        | UNION ALL
        | SELECT * FROM latest_purchase)
        |ORDER BY user_id""".stripMargin
  )
}
