package graft.ecom

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fence, Tables}
import graft.plans.ModelGraph

/** Reference-shaped raw ecom tables derived DETERMINISTICALLY from the
  * driver's TPC-H-ish parquet (TESTDATA.md) — the fixture behind every
  * `ecom_*` oracle query.
  *
  * Every derivation is a pure column expression (concat / % / CASE / date
  * arithmetic) that the DuckDB oracle replays verbatim
  * ([[graft.queries.EcomQueries.stagePrefix]]), so Spark and the oracle
  * build bit-identical staging inputs from the same parquet. The shapes
  * mirror the reference's generator
  * (src/pipeline/0_generate_historic_synthetic_data.py:146-272): weighted
  * categoricals for status/payment/channel, trimmed-brand variants, blank
  * cities, and — load-bearing for the ⚠ quirk — COMMA-LESS address
  * strings, so `addresses` materializes empty exactly as on the
  * reference's own data (entities/addresses.sql:28-33).
  *
  * The clock is pinned inside the TPC-H date domain so dim_customers'
  * 3/6-month activity bands (core/dim_customers.sql:40-44) split the data
  * three ways instead of landing everything in "Churned".
  */
object EcomFixture {

  val now: Timestamp = Timestamp.valueOf("1998-06-01 00:00:00")
  val today: Date = Date.valueOf("1998-06-01")

  private def s(c: Column): Column = c.cast("string")
  private def dayTs(startIso: String, offsetDays: Column): Column =
    date_add(lit(Date.valueOf(startIso)), offsetDays.cast("int")).cast("timestamp")

  /** The 8 raw_* tables (uppercase columns, native types — staging casts). */
  def raw(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val customer = Tables(spark, dir, "customer")
    val orders = Tables(spark, dir, "orders")
    val lineitem = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part")
    val nation = Tables(spark, dir, "nation")
    val events = Tables(spark, dir, "events")

    val k = col("c_custkey")
    val rawCustomers = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(
        concat(lit("C"), s(k)).as("CUSTOMER_ID"),
        concat(lit("c"), s(k), lit("@shop.io")).as("EMAIL"),
        concat(lit("F"), s(k % 97)).as("FIRST_NAME"),
        concat(lit("L"), s(k % 89)).as("LAST_NAME"),
        (lit(18) + k % 60).as("AGE"),
        when(k % 3 === 0, "F").when(k % 3 === 1, "M").otherwise("Other").as("GENDER"),
        col("c_acctbal").as("ANNUAL_INCOME"),
        when(k % 4 === 0, "Single").when(k % 4 === 1, "Married")
          .when(k % 4 === 2, "Divorced").otherwise("Widowed").as("MARITAL_STATUS"),
        when(k % 5 === 0, "High School").when(k % 5 === 1, "Bachelor")
          .when(k % 5 === 2, "Master").when(k % 5 === 3, "PhD")
          .otherwise("Associate").as("EDUCATION"),
        when(k % 3 === 0, "Urban").when(k % 3 === 1, "Suburban")
          .otherwise("Rural").as("LOCATION_TYPE"),
        when(k % 41 === 0, "  ") // blank city → excluded rows (quirk coverage)
          .otherwise(concat(lit("City "), s(k % 37))).as("CITY"),
        concat(lit("ST"), s(k % 11)).as("STATE"),
        col("n_name").as("COUNTRY"),
        dayTs("1995-01-01", k % 730).as("SIGNUP_DATE"),
        dayTs("1997-06-01", k % 365).as("LAST_LOGIN"),
        when(k % 3 === 0, "Web").when(k % 3 === 1, "Mobile App")
          .otherwise("Email").as("PREFERRED_CHANNEL"),
        (k % 5 =!= 0).as("IS_ACTIVE"),
        lit(now).as("LOADED_AT"))

    val ok = col("o_orderkey")
    val rawOrders = orders.select(
      concat(lit("O"), s(ok)).as("ORDER_ID"),
      concat(lit("C"), s(col("o_custkey"))).as("CUSTOMER_ID"),
      col("o_orderdate").as("ORDER_DATE"),
      when(col("o_orderstatus") === "O", "Pending")
        .when(col("o_orderstatus") === "F", "Delivered")
        .otherwise("Shipped").as("STATUS"),
      col("o_totalprice").as("TOTAL_AMOUNT"),
      ((ok % 50).cast("double") / 2).as("SHIPPING_COST"),
      when(ok % 4 === 0, "Credit Card").when(ok % 4 === 1, "PayPal")
        .when(ok % 4 === 2, "Debit Card").otherwise("Gift Card").as("PAYMENT_METHOD"),
      // COMMA-LESS on purpose: preserves the reference's empty-addresses quirk
      concat(s(ok % 900 + 1), lit(" Elm Street")).as("SHIPPING_ADDRESS"),
      concat(s(ok % 700 + 1), lit(" Oak Avenue")).as("BILLING_ADDRESS"),
      col("o_orderdate").as("LOADED_AT"))

    val lk = col("l_orderkey")
    val rawOrderItems = lineitem.select(
      concat(lit("I"), s(lk), lit("_"), s(col("l_linenumber"))).as("ORDER_ITEM_ID"),
      concat(lit("O"), s(lk)).as("ORDER_ID"),
      concat(lit("P"), s(col("l_partkey"))).as("PRODUCT_ID"),
      col("l_quantity").as("QUANTITY"),
      // money-like 2dp double (integer cents / 100), NOT a free division:
      // arbitrary reals land near .005 where Spark's exact-expansion
      // HALF_UP and DuckDB's scaled-double rounding disagree
      (((col("l_partkey") + col("l_linenumber")) % 9000 + 100).cast("double") / 100)
        .as("UNIT_PRICE"),
      col("l_extendedprice").as("TOTAL_PRICE"),
      col("l_shipdate").as("CREATED_AT"))

    val pk = col("p_partkey")
    val rawProducts = part.select(
      concat(lit("P"), s(pk)).as("PRODUCT_ID"),
      s(pk % 8 + 1).as("CATEGORY_ID"),
      s(pk % 32 + 1).as("SUBCATEGORY_ID"),
      col("p_name").as("PRODUCT_NAME"),
      concat(col("p_type"), lit(" / size "), s(col("p_size"))).as("DESCRIPTION"),
      col("p_retailprice").as("BASE_PRICE"),
      (col("p_retailprice") - 1.0).as("SALE_PRICE"),
      col("p_size").as("STOCK_QUANTITY"),
      ((pk % 200).cast("double") / 10).as("WEIGHT_KG"),
      when(pk % 53 === 0, lit(null).cast("string"))
        .when(pk % 7 === 0, concat(lit(" "), col("p_brand"), lit(" ")))
        .otherwise(col("p_brand")).as("BRAND"),
      ((pk % 41 + 10).cast("double") / 10).as("RATING"),
      (pk % 13 =!= 0).as("IS_ACTIVE"),
      dayTs("1994-01-01", pk % 1000).as("CREATED_AT"))

    val rawReviews = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_orderkey") % 3 === 0 && col("l_linenumber") <= 2)
      .select(
        concat(lit("R"), s(lk), lit("_"), s(col("l_linenumber"))).as("REVIEW_ID"),
        concat(lit("P"), s(col("l_partkey"))).as("PRODUCT_ID"),
        concat(lit("O"), s(lk)).as("ORDER_ID"),
        concat(lit("C"), s(col("o_custkey"))).as("CUSTOMER_ID"),
        ((lk + col("l_linenumber")) % 5 + 1).cast("int").as("REVIEW_SCORE"),
        concat(lit("review "), s(lk), lit(" "), s(col("l_partkey"))).as("REVIEW_TEXT"),
        date_add(col("l_shipdate").cast("date"), col("l_linenumber").cast("int"))
          .cast("timestamp").as("LOADED_AT"))

    val cat = spark.range(1, 9).select(
      s(col("id")).as("CATEGORY_ID"),
      concat(lit("Category "), s(col("id"))).as("CATEGORY_NAME"),
      dayTs("1993-01-01", col("id")).as("CREATED_AT"))

    val subcat = spark.range(1, 33).select(
      s(col("id")).as("SUBCATEGORY_ID"),
      s((col("id") - 1) % 8 + 1).as("CATEGORY_ID"),
      concat(lit("Subcategory "), s(col("id"))).as("SUBCATEGORY_NAME"),
      dayTs("1993-02-01", col("id")).as("CREATED_AT"))

    // interaction FKs land on existing customers/products via % MAX(key)
    // (1-row broadcast, the oracle's scalar subquery)
    val maxKeys = customer.agg(max(col("c_custkey")).as("max_cust"))
      .crossJoin(part.agg(max(col("p_partkey")).as("max_part")))
    val ek = col("event_id")
    val rawInteractions = events.crossJoin(broadcast(maxKeys)).select(
      concat(lit("E"), s(ek)).as("EVENT_ID"),
      concat(lit("C"), s(col("user_id") % col("max_cust") + 1)).as("CUSTOMER_ID"),
      concat(lit("P"), s(ek % col("max_part") + 1)).as("PRODUCT_ID"),
      when(ek % 8 === 3, "cart_add").when(ek % 8 === 4, "purchase")
        .when(ek % 8 === 5, "wishlist_add").otherwise("view").as("EVENT_TYPE"),
      col("ts").as("EVENT_DATE"),
      when(col("user_id") % 3 === 0, "mobile")
        .when(col("user_id") % 3 === 1, "desktop")
        .otherwise("tablet").as("DEVICE_TYPE"),
      concat(lit("S"), s(col("user_id")), lit("_"), s(ek % 5)).as("SESSION_ID"),
      col("ts").as("CREATED_AT"))

    Map(
      "raw_customers" -> rawCustomers,
      "raw_orders" -> rawOrders,
      "raw_order_items" -> rawOrderItems,
      "raw_products" -> rawProducts,
      "raw_reviews" -> rawReviews,
      "raw_categories" -> cat,
      "raw_subcategories" -> subcat,
      "raw_interactions" -> rawInteractions)
  }

  // One materialized medallion run per (session, sf dir, leaf mode):
  // Table/Incremental models land in a temp dir once; every ecom_* query
  // then reads flat mart scans instead of re-deriving the 30+-model
  // Catalyst plan. Keyed by the SparkSession too — a stop/recreate in the
  // same JVM must not hand back DataFrames bound to the dead session.
  // Synchronized compute-once — Verify fans queries across threads.
  private val cache = scala.collection.mutable.Map
    .empty[(SparkSession, String, Boolean), Map[String, DataFrame]]

  /** Raw parquet bytes of the 6 tables [[raw]] derives from — the input
    * side of the landing fence. */
  private[graft] def inputBytes(dir: String): Long =
    Seq("customer", "orders", "lineitem", "part", "nation", "events")
      .map(Tables.bytes(dir, _)).sum

  /** Measured landing/input byte ratios behind the fence factors (PERF
    * r17, skew corpora): the FULL medallion landing is 3.5x its raw
    * parquet inputs (5.9 GiB landed / 1.67 GiB input at skew10 — the
    * row-preserving wide marts fct_order_details + order_items dominate);
    * the leaf-streamed landing (fct_* as Views) drops the mart tier and
    * measured ~1.4x. Both factors are rounded UP so the estimate errs
    * toward refusing. */
  private val FullLandingFactor = 4L
  private val StreamedLandingFactor = 2L

  /** Refuse a landing whose estimated disk (input bytes x `factor`) is
    * over [[graft.Fence.EcomLandingBytes]]. */
  private def fenceLanding(spark: SparkSession, dir: String,
      factor: Long, what: String): Unit = {
    val in = inputBytes(dir)
    Fence.check(spark, Fence.EcomLandingBytes, what, in, num = factor)(
      s"the medallion landing is O(input) disk — estimated ${in * factor} " +
        s"bytes (input $in x measured factor $factor)",
      "This is a real materialization, not a spill: refusing beats ENOSPC " +
        "mid-DAG (measured: the skew100 full landing is ~59 GiB). Use " +
        "qa_schema_tests_stream — it lands only the shared interior models " +
        "and streams the leaf fct_* marts through their fused checks (<= 2 " +
        "rebuild scans each, zero mart landing)",
      "the full landing on a volume sized for O(input) marts")
  }

  /** All model outputs (staging → marts), materialized via ModelGraph.run. */
  def marts(spark: SparkSession, dir: String): Map[String, DataFrame] =
    martsImpl(spark, dir, streamLeaves = false)

  /** Landing-governed variant: the leaf fct_* marts stay Views (derived
    * plans over the LANDED interior — orders/order_items/enriched/dims —
    * so each rebuild is one join over flat scans), cutting the landing to
    * the shared interior tier. Nothing depends on a fct model
    * (Ecom.models is a medallion DAG; marts are terminal), so flipping
    * them to View changes no other model's input. */
  def martsStreamed(spark: SparkSession, dir: String): Map[String, DataFrame] =
    martsImpl(spark, dir, streamLeaves = true)

  private def martsImpl(spark: SparkSession, dir: String,
      streamLeaves: Boolean): Map[String, DataFrame] =
    cache.synchronized {
      cache.getOrElseUpdate((spark, dir, streamLeaves), {
        fenceLanding(spark, dir,
          if (streamLeaves) StreamedLandingFactor else FullLandingFactor,
          if (streamLeaves) "martsStreamed" else "marts")
        val out = graft.TempDirs.create("graft_ecom_").toString
        val models = Ecom.models(now, today)
        val effective =
          if (!streamLeaves) models
          else models.map(m =>
            if (m.name.startsWith("fct_")) m.copy(materialization = ModelGraph.View)
            else m)
        ModelGraph.run(spark, effective, raw(spark, dir), out)
      })
    }
}
