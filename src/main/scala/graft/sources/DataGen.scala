package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic-data generation — the reference's generator entry point
  * (src/pipeline/0_generate_historic_synthetic_data.py:23-24 seeds,
  * :146-272 per-entity generators) re-expressed as DISTRIBUTED column
  * expressions.
  *
  * Randomness is COUNTER-BASED: every draw is a hash of (seed, row id),
  * not `rand()`. Two reasons: `rand(seed)` depends on partition layout (a
  * repartition changes the data), and it is flagged nondeterministic so
  * every REFERENCE in an expression tree draws a fresh value — an
  * inverse-CDF chain over it silently samples 30 different uniforms.
  * Hash draws are pure: same (seed, id) → same value on any cluster, any
  * partitioning, any number of references.
  */
object DataGen {

  /** `n` rows with a dense `id` column, partitioned for the cluster. */
  def ids(spark: SparkSession, n: Long, partitions: Int = 0): DataFrame = {
    val p = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, p).toDF("id")
  }

  /** Resolution of the uniform draws: 40 bits. */
  private[sources] val M = 1L << 40

  /** U[0,1) from the hash of `cols` — pure, 40-bit resolution. */
  def hash01(cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(M)).cast("double") / M.toDouble

  /** U[0,1) from (seed, id). */
  def uniform01(id: Column, seed: Long): Column = hash01(lit(seed), id)

  /** U(lo, hi). */
  def uniform(id: Column, lo: Double, hi: Double, seed: Long): Column =
    lit(lo) + uniform01(id, seed) * (hi - lo)

  /** N(mean, std) via Box–Muller from two independent hash draws —
    * reference's income/age draws (0_generate_historic:150-161). */
  def normal(id: Column, mean: Double, std: Double, seed: Long): Column = {
    val u1 = uniform01(id, seed) + lit(1.0 / M) // avoid log(0)
    val u2 = uniform01(id, seed + 1000003)
    lit(mean) + lit(std) * sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  /** Poisson(lambda) by inverse-transform on ONE uniform draw — the
    * reference's per-customer order/interaction counts (:184-185, :247).
    * CDF thresholds precomputed driver-side; capped at `maxK`. */
  def poisson(id: Column, lambda: Double, seed: Long, maxK: Int = 40): Column = {
    val u = uniform01(id, seed)
    val cdf = {
      var p = math.exp(-lambda)
      var acc = p
      (0 until maxK).map { k =>
        val t = acc
        p = p * lambda / (k + 1)
        acc += p
        t
      }
    }
    cdf.zipWithIndex.reverse.foldLeft(lit(maxK): Column) {
      case (els, (thr, k)) => when(u < thr, lit(k)).otherwise(els)
    }
  }

  /** Weighted categorical pick (reference: status/payment draws). */
  def categorical(id: Column, values: Seq[String], weights: Seq[Double],
      seed: Long): Column = {
    require(values.length == weights.length && values.nonEmpty)
    val total = weights.sum
    val u = uniform01(id, seed) * total
    val cum = weights.scanLeft(0.0)(_ + _).tail
    values.zip(cum).init.reverse.foldLeft(lit(values.last): Column) {
      case (els, (v, thr)) => when(u < thr, lit(v)).otherwise(els)
    }
  }

  /** Random timestamp in a window (reference: order_date spread over the
    * historic window). */
  def timestampIn(id: Column, startIso: String, endIso: String, seed: Long): Column = {
    val s = java.sql.Timestamp.valueOf(startIso).getTime / 1000
    val e = java.sql.Timestamp.valueOf(endIso).getTime / 1000
    timestamp_seconds(lit(s) + (uniform01(id, seed) * (e - s)).cast("long"))
  }

  /** U[0,1) keyed by (seed, id, k) — the k-th draw of row `id`, for
    * variable-count child generation where each child needs its own
    * independent uniform. */
  def uniform01K(id: Column, k: Column, seed: Long): Column = hash01(lit(seed), id, k)

  /** Poisson with a PER-ROW lambda — the reference's demographically
    * correlated order volume (`np.random.poisson(5 * income_factor)`,
    * 0_generate_historic_synthetic_data.py:184-185). Inverse-transform
    * with driver-side thresholds needs a constant lambda; here we run
    * Knuth's product algorithm as a `functions.aggregate` fold over k
    * independent (seed, id, k) uniforms: N = #{j : Π_{i≤j} u_i > e^-λ}.
    * Pure column expression — deterministic under any partitioning, and
    * exact (not an approximation) up to the `maxK` tail cap. */
  def poissonVar(id: Column, lambda: Column, seed: Long, maxK: Int = 40): Column = {
    val limit = exp(-lambda)
    aggregate(
      sequence(lit(1), lit(maxK)),
      struct(lit(1.0).as("p"), lit(0).as("n")),
      (acc, j) => {
        val p2 = acc.getField("p") * uniform01K(id, j, seed)
        struct(p2.as("p"),
          (acc.getField("n") + when(p2 > limit, 1).otherwise(0)).as("n"))
      },
      acc => acc.getField("n"))
  }

  // =====================================================================
  // Full correlated entity graph — the reference generator's 8 tables
  // (0_generate_historic_synthetic_data.py:114-272) as distributed
  // counter-based draws. Correlations preserved:
  //  - order volume ~ Poisson(5 · clamp(income/65000, 0.5, 2.0)) (:184-185)
  //  - items per order ~ Poisson(2) + 1, prices from the sampled product,
  //    order total = shipping + Σ item totals (:205-224)
  //  - one review per order item; products carry review_count = initial +
  //    per-product review tally (:300-352)
  //  - interactions ~ Poisson(20) per customer (:247)
  // Child ids are composite (parent·cap + k) instead of a global counter —
  // dense sequences need a serial pass; composites are unique, stable
  // under repartition, and order-free.
  // =====================================================================

  val StartIso = "1995-01-01 00:00:00"
  val EndIso = "1998-06-01 00:00:00"
  private val EndEpoch = java.sql.Timestamp.valueOf(EndIso).getTime / 1000

  private val MaxOrdersPerCustomer = 40L // Poisson(≤10): P(X>40) < 1e-12
  private val MaxItemsPerOrder = 20L // Poisson(2)+1: P(>20) ~ 1e-12
  private val MaxInteractionsPerCustomer = 64L // Poisson(20): P(>64) ~ 1e-14

  private def round2(c: Column): Column = round(c, 2)

  /** Uniform day-offset timestamp in [base, EndIso]; collapses to `base`
    * when the base is already past the window end (reference's
    * `max_days <= 0` branch, :190-194). */
  private def tsBetween(base: Column, id: Column, seed: Long): Column = {
    val baseEpoch = unix_timestamp(base)
    val maxDays = greatest(lit(0L), floor((lit(EndEpoch) - baseEpoch) / 86400L))
    val off = floor(uniform01(id, seed) * (maxDays + 1)).cast("long")
    timestamp_seconds(baseEpoch + least(off, maxDays) * 86400L)
  }

  /** categories: 8 rows (id, name) — the fixed taxonomy (:95-112). */
  def categories(spark: SparkSession): DataFrame =
    spark.range(1, 9).select(col("id").as("category_id"),
      concat(lit("Category "), col("id")).as("category_name"))

  /** subcategories: 32 rows, 4 per category. */
  def subcategories(spark: SparkSession): DataFrame =
    spark.range(1, 33).select(col("id").as("subcategory_id"),
      ((col("id") - 1) % 8 + 1).as("category_id"),
      concat(lit("Subcategory "), col("id")).as("subcategory_name"))

  /** products (:114-143): taxonomy-consistent subcategory (a subcat of the
    * drawn category), correlated sale price (0.8–1.0 × base). */
  def products(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val cat = pmod(xxhash64(lit(seed), id), lit(8L)) + 1
    val base = round2(uniform(id, 10, 1000, seed + 1))
    ids(spark, n).select(
      (id + 1).as("product_id"),
      cat.as("category_id"),
      // valid subcats of category c are {c, c+8, c+16, c+24}
      (cat + lit(8L) * pmod(xxhash64(lit(seed + 2), id), lit(4L))).as("subcategory_id"),
      concat(lit("Product "), id + 1).as("product_name"),
      concat(lit("Description of product "), id + 1).as("description"),
      base.as("base_price"),
      round2(base * uniform(id, 0.8, 1.0, seed + 3)).as("sale_price"),
      pmod(xxhash64(lit(seed + 4), id), lit(1001L)).as("stock_quantity"),
      round2(uniform(id, 0.1, 20.0, seed + 5)).as("weight_kg"),
      (uniform01(id, seed + 6) > 0.1).as("is_active"),
      timestampIn(id, StartIso, "1995-01-31 00:00:00", seed + 7).as("created_at"),
      concat(lit("Brand "), pmod(xxhash64(lit(seed + 8), id), lit(50L))).as("brand"),
      concat(lit("SKU-"), (pmod(xxhash64(lit(seed + 9), id), lit(90000L)) + 10000)).as("sku"),
      (round(uniform(id, 3.0, 5.0, seed + 10) * 10) / 10).as("rating"),
      pmod(xxhash64(lit(seed + 11), id), lit(1001L)).as("review_count"))
  }

  /** customers (:146-176): clamped-normal age, floor-clamped income —
    * the demographic driver of order volume. */
  def customers(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val signup = timestampIn(id, StartIso, EndIso, seed + 4)
    ids(spark, n).select(
      (id + 1).as("customer_id"),
      concat(lit("c"), id + 1, lit("@shop.io")).as("email"),
      concat(lit("F"), pmod(id, lit(97L))).as("first_name"),
      concat(lit("L"), pmod(id, lit(89L))).as("last_name"),
      greatest(lit(18), least(lit(90), normal(id, 45, 15, seed).cast("int"))).as("age"),
      categorical(id, Seq("M", "F", "Other"), Seq(1, 1, 1), seed + 1).as("gender"),
      greatest(lit(15000L), normal(id, 65000, 30000, seed + 2).cast("long"))
        .as("annual_income"),
      categorical(id, Seq("Single", "Married", "Divorced", "Widowed"),
        Seq(1, 1, 1, 1), seed + 3).as("marital_status"),
      categorical(id, Seq("High School", "Some College", "Bachelor", "Master", "PhD"),
        Seq(1, 1, 1, 1, 1), seed + 5).as("education"),
      categorical(id, Seq("Urban", "Suburban", "Rural"), Seq(1, 1, 1), seed + 6)
        .as("location_type"),
      concat(lit("City "), pmod(xxhash64(lit(seed + 7), id), lit(37L))).as("city"),
      concat(lit("ST"), pmod(xxhash64(lit(seed + 8), id), lit(11L))).as("state"),
      lit("USA").as("country"),
      signup.as("signup_date"),
      tsBetween(signup, id, seed + 9).as("last_login"),
      categorical(id, Seq("Web", "Mobile App", "Email"), Seq(1, 1, 1), seed + 10)
        .as("preferred_channel"),
      (uniform01(id, seed + 11) > 0.1).as("is_active"))
  }

  /** orders WITHOUT totals (:182-244) — the fan-out: one row per
    * (customer, k ≤ Poisson(5·income_factor)). Totals are derived after
    * items exist ([[withOrderTotals]]), mirroring the reference's
    * accumulate-then-write. */
  def orderShells(customers: DataFrame, seed: Long): DataFrame = {
    val incomeFactor =
      least(lit(2.0), greatest(lit(0.5), col("annual_income") / 65000.0))
    val shells = customers
      .select(col("customer_id"), col("signup_date"),
        poissonVar(col("customer_id"), lit(5.0) * incomeFactor, seed).as("__n"))
      .select(col("customer_id"), col("signup_date"),
        explode(when(col("__n") >= 1, sequence(lit(1L), col("__n").cast("bigint")))
          .otherwise(array().cast("array<bigint>"))).as("__k"))
    val oid = ((col("customer_id") - 1) * MaxOrdersPerCustomer + col("__k")).as("order_id")
    val orderDate = tsBetween(col("signup_date"), oid, seed + 1)
    shells.select(
      oid,
      col("customer_id"),
      orderDate.as("order_date"),
      // orders younger than 7 days at window end are still in flight (:199-203)
      when(unix_timestamp(orderDate) + 7L * 86400 > EndEpoch,
        categorical(oid, Seq("Pending", "Processing", "Shipped"), Seq(1, 1, 1), seed + 2))
        .otherwise("Delivered").as("status"),
      round2(uniform(oid, 5, 20, seed + 3)).as("shipping_cost"),
      categorical(oid, Seq("Credit Card", "PayPal", "Debit Card"),
        Seq(1, 1, 1), seed + 4).as("payment_method"),
      concat(pmod(xxhash64(lit(seed + 5), oid), lit(900L)) + 1, lit(" Elm Street"))
        .as("shipping_address"),
      concat(pmod(xxhash64(lit(seed + 6), oid), lit(700L)) + 1, lit(" Oak Avenue"))
        .as("billing_address"),
      orderDate.as("created_at"),
      tsBetween(orderDate, oid, seed + 7).as("updated_at"))
  }

  /** order_items (:205-224): Poisson(2)+1 uniform product draws WITH
    * replacement; unit price is the sampled product's sale_price (the
    * price join is the correlation). */
  def orderItems(orderShells: DataFrame, products: DataFrame, nProducts: Long,
      seed: Long): DataFrame = {
    val oid = col("order_id")
    val items = orderShells
      .select(oid, col("order_date"),
        (poisson(oid, 2.0, seed) + 1).as("__n"))
      .select(oid, col("order_date"),
        explode(sequence(lit(1L), least(col("__n").cast("bigint"), lit(MaxItemsPerOrder))))
          .as("__j"))
      .select(oid, col("order_date"), col("__j"),
        (pmod(xxhash64(lit(seed + 1), oid, col("__j")), lit(nProducts)) + 1)
          .as("product_id"),
        (pmod(xxhash64(lit(seed + 2), oid, col("__j")), lit(3L)) + 1).as("quantity"))
    items.join(products.select(col("product_id"), col("sale_price")), Seq("product_id"))
      .select(
        (oid * MaxItemsPerOrder + col("__j")).as("order_item_id"),
        oid, col("product_id"), col("quantity"),
        col("sale_price").as("unit_price"),
        round2(col("quantity") * col("sale_price")).as("total_price"),
        col("order_date").as("created_at"))
  }

  /** total_amount = shipping_cost + Σ item totals (:211-224) — one
    * aggregate + join, replacing the reference's running accumulation. */
  def withOrderTotals(orderShells: DataFrame, orderItems: DataFrame): DataFrame = {
    val sums = orderItems.groupBy("order_id")
      .agg(sum("total_price").as("__items_total"))
    orderShells.join(sums, Seq("order_id"), "left")
      .withColumn("total_amount",
        round2(col("shipping_cost") + coalesce(col("__items_total"), lit(0.0))))
      .drop("__items_total")
  }

  /** reviews (:300-352): exactly one per order item, uniform 1–5 score. */
  def reviews(orderItems: DataFrame, orderShells: DataFrame, seed: Long): DataFrame =
    orderItems.select(col("order_item_id"), col("order_id"), col("product_id"))
      .join(orderShells.select(col("order_id"), col("customer_id")), Seq("order_id"))
      .select(
        col("product_id"), col("order_id"), col("customer_id"),
        (pmod(xxhash64(lit(seed), col("order_item_id")), lit(5L)) + 1).cast("int")
          .as("review_score"),
        concat(lit("Review for product "), col("product_id")).as("review_text"))

  /** products with review_count incremented by the per-product review
    * tally (:345-346) — the correlated read-back the reference does with
    * a pandas loc update. */
  def productsWithReviewCounts(products: DataFrame, reviews: DataFrame): DataFrame = {
    val tally = reviews.groupBy("product_id").agg(count(lit(1)).as("__reviews"))
    products.join(tally, Seq("product_id"), "left")
      .withColumn("review_count",
        col("review_count") + coalesce(col("__reviews"), lit(0L)))
      .drop("__reviews")
  }

  /** interactions (:246-268): Poisson(20) events per customer. */
  def interactions(customers: DataFrame, nProducts: Long, seed: Long): DataFrame = {
    val events = customers
      .select(col("customer_id"), col("signup_date"),
        poisson(col("customer_id"), 20.0, seed, maxK = MaxInteractionsPerCustomer.toInt)
          .as("__n"))
      .select(col("customer_id"), col("signup_date"),
        explode(when(col("__n") >= 1, sequence(lit(1L), col("__n").cast("bigint")))
          .otherwise(array().cast("array<bigint>"))).as("__k"))
    val eid = ((col("customer_id") - 1) * MaxInteractionsPerCustomer + col("__k"))
      .as("event_id")
    val eventDate = tsBetween(col("signup_date"), eid, seed + 1)
    events.select(
      eid,
      col("customer_id"),
      (pmod(xxhash64(lit(seed + 2), eid), lit(nProducts)) + 1).as("product_id"),
      categorical(eid, Seq("view", "cart_add", "cart_remove", "wishlist_add",
        "search", "purchase"), Seq(1, 1, 1, 1, 1, 1), seed + 3).as("event_type"),
      eventDate.as("event_date"),
      categorical(eid, Seq("desktop", "mobile", "tablet"), Seq(1, 1, 1), seed + 4)
        .as("device_type"),
      concat(lit("session_"), pmod(xxhash64(lit(seed + 5), eid), lit(90000L)) + 10000)
        .as("session_id"),
      eventDate.as("created_at"))
  }

  /** The full graph in dependency order (:361-405 generate_all_data). */
  def generateAll(spark: SparkSession, nCustomers: Long, nProducts: Long,
      seed: Long = 42): Map[String, DataFrame] = {
    val prods = products(spark, nProducts, seed)
    val custs = customers(spark, nCustomers, seed + 100)
    val shells = orderShells(custs, seed + 200)
    val items = orderItems(shells, prods, nProducts, seed + 300)
    val revs = reviews(items, shells, seed + 400)
    Map(
      "categories" -> categories(spark),
      "subcategories" -> subcategories(spark),
      "products" -> productsWithReviewCounts(prods, revs),
      "customers" -> custs,
      "orders" -> withOrderTotals(shells, items),
      "order_items" -> items,
      "reviews" -> revs,
      "interactions" -> interactions(custs, nProducts, seed + 500))
  }

  /** Persist the graph in the reference's landing shapes (:365-373
    * output_formats): envelope JSON for customers/products/orders/reviews,
    * header CSV for categories/subcategories/order_items/interactions —
    * exactly what [[Sources.readJsonEnvelope]]/[[Sources.readCsv]] ingest.
    * Per-table writes run as concurrent Spark jobs on [[graft.Overlap]],
    * one thread per table: the daily-loop wall is job-overhead-bound. */
  def writeAll(data: Map[String, DataFrame], dir: String,
      generatedAt: String): Unit = {
    val jsonTables = Set("customers", "products", "orders", "reviews")
    graft.Overlap.all("DataGen.writeAll: table", data.size, data.toSeq.map { case (name, df) =>
      name -> { () =>
        if (jsonTables(name))
          Writers.writeJsonEnvelope(df, name, s"$dir/json/$name.json", generatedAt)
        else Writers.writeCsv(df, s"$dir/csv/$name")
      }
    })
  }
}
