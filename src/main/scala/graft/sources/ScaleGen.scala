package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up test-data generator — reproduces TESTDATA.md's table shapes
  * and distributions at ARBITRARY scale factors, for scaling evidence
  * beyond the driver-provided sf0.1 (VERDICT r5 #2: "run the scaling
  * check one decade higher").
  *
  * Everything is counter-based ([[DataGen]] primitives): same (seed, id)
  * → same row on any partitioning, so a generated sf is reproducible
  * bit-for-bit. Structure mirrors the measured sf0.1 data:
  *  - TPC-H-ish star: 0-based dense keys, same value domains
  *    (mktsegments, order statuses O/P/F, priorities, return flags,
  *    ship-date lag ≤ ~95 days, ~Poisson(3)+1 lines per order);
  *  - documents: 31-word vocab, 10–100 uniform word lengths, lang mix
  *    (en 41%, zh/es/fr/de each ~14.75%), and — load-bearing for the
  *    dedup operators — a FIXED PER-DOC near-dup rate (~5% of docs are
  *    90%-kept mutations of an earlier doc, ~0.15% exact copies), which
  *    is what makes qualifying-pair counts grow LINEARLY with the corpus
  *    (measured on driver data: 25 pairs @ 500 docs → 256 @ 5000);
  *  - embeddings: 64-dim clipped N(0, 0.125) vectors, 10 labels, ~4% of
  *    vectors planted as tight perturbations of an earlier vector (the
  *    driver corpus resolves to ~77 groups / 2000 vecs at cosine 0.45).
  *
  * Usage: `runMain graft.sources.ScaleGen <outDir> <sf> [seed] [fixed|zipf]
  * [table,table,...]` — sf=1 writes ~6M lineitem rows (10× the driver's
  * sf0.1). `zipf` swaps the documents table for the growing-vocabulary
  * twin ([[documentsZipf]]); the optional table list restricts output
  * (e.g. `documents,embeddings` builds a corpus-only dir fast).
  */
object ScaleGen {

  import DataGen.{M, hash01, ids}

  private def pick(n: Long, cols: Column*): Column = pmod(xxhash64(cols: _*), lit(n))

  /** Zipf(1)-ish foreign-key pick over [0, n) — the `skew` mode's draw
    * (VERDICT r11 #1: the zipf/hub modes only reshaped documents and the
    * supplier edge; the RELATIONAL fan-out stayed near-flat, so the skew
    * triggers and small-K certification stories were never tested where
    * they matter). Same O(1) inverse-CDF approximation as [[zipfWordAt]]:
    * rank r = ⌊n^u⌋ gives P(r = k) = ln((k+1)/k)/ln n ≈ 1/(k·ln n), so
    * key 0 absorbs ln2/ln n of all picks (≈8 % at n = 10⁴, ≈6 % at
    * n = 10⁶) and the frequency-vs-rank curve is a straight −1 slope —
    * the canonical popularity law for customers, parts, and users.
    *
    * EFFECTIVE DOMAIN IS [0, n-2], not [0, n) (ADVICE r12): hash01 < 1
    * makes ⌊n^u⌋ ≤ n-1, so rank n (key n-1) has probability 0 — the
    * least-popular id of each skewed dimension never appears as a
    * foreign key. That is harmless here (the uniform modes cover the
    * full domain, and a Zipf tail id's expected count is ≪ 1 row
    * anyway) but callers must not assume skew-mode FK coverage of the
    * last id; the `least(n, …)` clamp is retained purely as an
    * overflow guard for the u→1 double edge. */
  private def zipfPick(n: Long, cols: Column*): Column =
    least(lit(n), greatest(lit(1L),
      floor(pow(lit(n.toDouble), hash01(cols: _*))).cast("long"))) - 1

  /** Per-(id, i) standard normal via Box–Muller on two keyed uniforms. */
  private def normal2(id: Column, i: Column, seed: Long): Column =
    sqrt(lit(-2.0) * log(hash01(lit(seed), id, i) + lit(1.0 / M))) *
      cos(lit(2.0 * math.Pi) * hash01(lit(seed + 1000003), id, i))

  // ------------------------------------------------------------ star ----

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
  }

  def nation(spark: SparkSession): DataFrame =
    spark.range(0, 25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def supplier(spark: SparkSession, n: Long, seed: Long): DataFrame =
    ids(spark, n).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pick(25, lit(seed), col("id")).cast("int").as("s_nationkey"),
      round(lit(-999.99) + hash01(lit(seed + 1), col("id")) * 10999.98, 2).as("s_acctbal"))

  def customer(spark: SparkSession, n: Long, seed: Long): DataFrame =
    ids(spark, n).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pick(25, lit(seed), col("id")).cast("int").as("c_nationkey"),
      round(lit(-999.99) + hash01(lit(seed + 1), col("id")) * 10999.98, 2).as("c_acctbal"),
      DataGen.categorical(col("id"),
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        Seq(1, 1, 1, 1, 1), seed + 2).as("c_mktsegment"))

  private val PartNouns = Seq("ring", "bolt", "nut", "washer", "gear", "cog", "pin", "rod")
  private val PartAdjs = Seq("large", "hot", "blue", "red", "green", "small", "cold", "dim")
  private val PartTypes = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM")

  def part(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    def oneOf(vs: Seq[String], s: Long) =
      element_at(array(vs.map(lit): _*), (pick(vs.size, lit(s), id) + 1).cast("int"))
    ids(spark, n).select(id.as("p_partkey"),
      concat(oneOf(PartAdjs, seed), lit(" "), oneOf(PartNouns, seed + 1)).as("p_name"),
      concat(lit("Brand#"), pick(25, lit(seed + 2), id)).as("p_brand"),
      oneOf(PartTypes, seed + 3).as("p_type"),
      (pick(50, lit(seed + 4), id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + hash01(lit(seed + 5), id) * 99.9, 2).as("p_retailprice"))
  }

  private val OrdersStartEpoch = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime / 1000
  private val OrdersDays = 2404L // → max 2001-08-01, matching the driver window

  def orders(spark: SparkSession, n: Long, seed: Long, nCustomers: Long,
      skewCust: Boolean = false): DataFrame = {
    val id = col("id")
    val custPick =
      if (skewCust) zipfPick(nCustomers, lit(seed), id)
      else pick(nCustomers, lit(seed), id)
    ids(spark, n).select(id.as("o_orderkey"),
      custPick.as("o_custkey"),
      DataGen.categorical(id, Seq("O", "P", "F"), Seq(1, 1, 1), seed + 1).as("o_orderstatus"),
      round(lit(1000.0) + hash01(lit(seed + 2), id) * 499000.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(OrdersStartEpoch) +
        pick(OrdersDays, lit(seed + 3), id) * 86400L).as("o_orderdate"),
      DataGen.categorical(id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), Seq(1, 1, 1, 1, 1), seed + 4).as("o_orderpriority"))
  }

  /** lineitem fans out of orders: Poisson(3)+1 lines (driver mean 4.08,
    * max 17), part/supplier uniform, ship date ≤ ~95 days after order.
    * `hubSupp` (the `hub` mode) sends HALF of all lines to supplier 0
    * (rest uniform) — the planted hot join key graph_pagerank_salted's
    * decade evidence needs. The skew must be this extreme to matter: a
    * hot key only drowns a reducer when its edge rows exceed the
    * per-partition share, and a node's degree is capped by the opposite
    * side's cardinality — a measured Zipf(1) supplier pick (~11% head)
    * stays under 1/64 of the edges at this fan-out, hot in degree terms
    * but below capacity in reducer terms. */
  def lineitem(orders: DataFrame, seed: Long, nParts: Long, nSuppliers: Long,
      hubSupp: Boolean = false, skewPart: Boolean = false): DataFrame = {
    val ok = col("l_orderkey")
    val ln = col("l_linenumber")
    val suppPick =
      if (hubSupp) when(hash01(lit(seed + 7919), ok, ln) < 0.5, lit(0L))
        .otherwise(pick(nSuppliers, lit(seed + 2), ok, ln))
      else pick(nSuppliers, lit(seed + 2), ok, ln)
    val partPick =
      if (skewPart) zipfPick(nParts, lit(seed + 1), ok, ln)
      else pick(nParts, lit(seed + 1), ok, ln)
    orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        (DataGen.poisson(col("o_orderkey"), 3.0, seed, maxK = 20) + 1).as("__n"))
      .select(ok, col("o_orderdate"),
        explode(sequence(lit(1), col("__n"))).as("__ln"))
      .withColumn("l_linenumber", col("__ln").cast("int"))
      .select(ok,
        partPick.as("l_partkey"),
        suppPick.as("l_suppkey"),
        ln,
        (pick(50, lit(seed + 3), ok, ln) + 1).cast("double").as("l_quantity"),
        round((pick(50, lit(seed + 3), ok, ln) + 1).cast("double") *
          (lit(900.0) + hash01(lit(seed + 4), ok, ln) * 1200.0), 2).as("l_extendedprice"),
        (pick(11, lit(seed + 5), ok, ln).cast("double") / 100).as("l_discount"),
        (pick(9, lit(seed + 6), ok, ln).cast("double") / 100).as("l_tax"),
        element_at(array(lit("N"), lit("A"), lit("R")),
          (pick(3, lit(seed + 7), ok, ln) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (pick(2, lit(seed + 8), ok, ln) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(unix_timestamp(col("o_orderdate")) +
          (pick(95, lit(seed + 9), ok, ln) + 1) * 86400L).as("l_shipdate"))
  }

  private val EventsStartEpoch = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000

  def events(spark: SparkSession, n: Long, seed: Long, nUsers: Long,
      skewUser: Boolean = false): DataFrame = {
    val id = col("id")
    val userPick =
      if (skewUser) zipfPick(nUsers, lit(seed + 1), id)
      else pick(nUsers, lit(seed + 1), id)
    ids(spark, n).select(id.as("event_id"),
      timestamp_seconds((lit(EventsStartEpoch).cast("double") +
        hash01(lit(seed), id) * (30L * 86400)).cast("double")).as("ts"),
      userPick.as("user_id"),
      DataGen.categorical(id, Seq("click", "view", "purchase", "signup", "error"),
        Seq(1, 1, 1, 1, 1), seed + 2).as("event_type"),
      round(lit(-50.0) * log(hash01(lit(seed + 3), id) + lit(1.0 / M)), 2).as("value"),
      concat(lit("{\"k\": "), pick(100, lit(seed + 4), id), lit("}")).as("props"))
  }

  // -------------------------------------------------------- documents ----

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private val NearDupRate = 0.05 // ~fraction of docs that mutate an earlier doc
  private val ExactDupRate = 0.0015
  private val MutationKeep = 0.9 // per-word survival in a mutated copy

  /** Word w(k) of document `docId` under `seed` — the pure function both
    * fresh docs and mutation bases share. */
  private def wordAt(docId: Column, k: Column, seed: Long): Column =
    element_at(array(Vocab.map(lit): _*),
      (pick(Vocab.size, lit(seed), docId, k) + 1).cast("int"))

  /** Growing-vocabulary word draw (VERDICT r10 #1): real corpora grow
    * their vocabulary with size (Heaps' law, V ≈ K·n^β with β ≈ 0.7), so
    * the 31-word [[Vocab]] above — which SATURATES the shingle / band /
    * fingerprint spaces as n grows, manufacturing quadratic candidate
    * blowup no healthy corpus exhibits — is the wrong substrate for scale
    * evidence. This draw takes rank r = ⌊V^u⌋ from a keyed uniform u,
    * which is the classic O(1) inverse-CDF approximation of Zipf(s=1):
    * P(r = k) = ln((k+1)/k)/ln V ≈ 1/(k·ln V). Head ranks stay hot
    * (shingle collisions and heavy-hitter structure survive, so the
    * sketch/fence machinery still has something to measure) while the
    * tail keeps band values spread — pairs-per-doc stays flat with n,
    * which is exactly the regime the saturation fences certify. */
  private def zipfWordAt(docId: Column, k: Column, seed: Long, vocab: Long): Column =
    concat(lit("w"), greatest(lit(1L),
      floor(pow(lit(vocab.toDouble), hash01(lit(seed), docId, k))).cast("long")))

  /** Heaps-law vocabulary size for an n-doc corpus (≈ tokens^0.7 scaled
    * down to doc grain; floor 64 keeps tiny test corpora non-degenerate). */
  private[graft] def zipfVocabFor(n: Long): Long =
    math.max(64L, math.round(math.pow(n.toDouble, 0.7)))

  private def docLen(docId: Column, seed: Long): Column =
    (pick(91, lit(seed + 1), docId) + 10).cast("int") // 10..100 words

  /** Shared document-corpus skeleton: the near/exact-dup planting graph is
    * IDENTICAL across vocabulary modes (same rates, same base-doc choice,
    * same per-word mutation coin), so the planted linear-in-n qualifying
    * pair structure is preserved and only the *background* collision
    * regime changes with `word`. */
  private def documentsWith(spark: SparkSession, n: Long, seed: Long,
      word: (Column, Column, Long) => Column): DataFrame = {
    val id = col("id")
    val roll = hash01(lit(seed + 2), id)
    // a mutated/exact copy points at a strictly-earlier base doc, so the
    // graph is acyclic and one expression derives any doc's words
    val base = when(id > 0, pick(Long.MaxValue, lit(seed + 3), id) % id).otherwise(lit(0L))
    val isMut = roll < NearDupRate && id > 0
    val isExact = roll >= NearDupRate && roll < (NearDupRate + ExactDupRate) && id > 0
    val srcId = when(isMut || isExact, base).otherwise(id)
    val words = transform(
      sequence(lit(1), docLen(srcId, seed)),
      k => when(isMut && hash01(lit(seed + 4), id, k) > MutationKeep,
        word(id, k, seed + 5)) // replacement word, keyed to THIS doc
        .otherwise(word(srcId, k, seed)))
    val text = concat_ws(" ", words)
    ids(spark, n).select(id.as("doc_id"), text.as("text"),
      DataGen.categorical(id, Seq("en", "zh", "es", "fr", "de"),
        Seq(0.41, 0.1475, 0.1475, 0.1475, 0.1475), seed + 6).as("lang"),
      concat(lit("src"), pick(20, lit(seed + 7), id)).as("source"),
      length(text).as("n_chars"))
  }

  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame =
    documentsWith(spark, n, seed, wordAt)

  /** The growing-vocabulary twin of [[documents]] (same schema, same
    * planted dup graph, Zipf tokens over a [[zipfVocabFor]]-sized
    * vocabulary). */
  def documentsZipf(spark: SparkSession, n: Long, seed: Long): DataFrame =
    documentsWith(spark, n, seed, zipfWordAt(_, _, _, zipfVocabFor(n)))

  // ------------------------------------------------------- embeddings ----

  private val EmbDim = 64
  private val EmbStd = 0.125
  private val EmbClip = 0.34
  private val EmbNearDupRate = 0.04
  private val EmbNoise = 0.03

  def embeddings(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val roll = hash01(lit(seed), id)
    val base = when(id > 0, pick(Long.MaxValue, lit(seed + 1), id) % id).otherwise(lit(0L))
    val isDup = roll < EmbNearDupRate && id > 0
    val srcId = when(isDup, base).otherwise(id)
    def component(ofId: Column, i: Column): Column =
      greatest(lit(-EmbClip), least(lit(EmbClip),
        normal2(ofId, i, seed + 2) * EmbStd))
    val vec = transform(sequence(lit(0), lit(EmbDim - 1)),
      i => (component(srcId, i) +
        when(isDup, normal2(id, i, seed + 3) * EmbNoise).otherwise(lit(0.0)))
        .cast("float"))
    ids(spark, n).select(id.as("vec_id"), vec.as("embedding"),
      pick(10, lit(seed + 4), id).cast("int").as("label"))
  }

  // ------------------------------------------------------------- main ----

  /** Write with timezone-NAIVE parquet timestamps (isAdjustedToUTC=false),
    * matching the driver corpus's repr at /root/testdata (VERDICT r12 #4:
    * Spark's instant-typed TIMESTAMP writes isAdjustedToUTC=true, which
    * made DuckDB read generated dirs tz-AWARE and forced a normalization
    * shim into tools/oracle_check.py). Session tz is UTC (GraftSession),
    * so the LTZ→NTZ cast is value-preserving: identical micros on disk,
    * only the annotation changes. */
  private def writeNaive(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.types._
    // The LTZ→NTZ rewrite below is value-preserving only under a UTC
    // session timezone — any other zone silently shifts every generated
    // timestamp and breaks oracle parity downstream. Fail loudly.
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"writeNaive($path): timestamp_ntz rewrite requires " +
        s"spark.sql.session.timeZone=UTC (got '$tz')")
    val naive = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType)
        d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
      else d
    }
    // The rewrite above only reaches TOP-LEVEL timestamp columns; a
    // timestamp nested in a struct/array/map would still write
    // isAdjustedToUTC=true and silently reintroduce the tz-aware oracle
    // mismatch — refuse loudly instead (no ScaleGen table nests one today).
    def hasLtz(dt: DataType): Boolean = dt match {
      case TimestampType => true
      case s: StructType => s.fields.exists(f => hasLtz(f.dataType))
      case a: ArrayType => hasLtz(a.elementType)
      case m: MapType => hasLtz(m.keyType) || hasLtz(m.valueType)
      case _ => false
    }
    val leaked = naive.schema.fields.filter(f => hasLtz(f.dataType)).map(_.name)
    require(leaked.isEmpty,
      s"writeNaive($path): nested instant-typed TIMESTAMP in ${leaked.mkString(", ")} — " +
        "extend the rewrite to recurse before adding nested timestamps to ScaleGen")
    naive.write.mode("overwrite").parquet(path)
  }

  def generate(spark: SparkSession, outDir: String, sf: Double, seed: Long = 42,
      vocabMode: String = "fixed", only: Option[Set[String]] = None): Unit = {
    def n(perSf1: Long): Long = math.max(1L, (perSf1 * sf).toLong)
    val nCust = n(150000)
    val nPart = n(200000)
    val nSupp = n(10000)
    val docGen: (SparkSession, Long, Long) => DataFrame = vocabMode match {
      case "fixed" | "hub" | "skew" => documents
      case "zipf" => documentsZipf
      case other => throw new IllegalArgumentException(
        s"mode must be fixed|zipf|hub|skew, got '$other'")
    }
    // skew mode: Zipf(1) popularity on every relational foreign key —
    // customers (orders fan-in), parts (co-purchase supports), users
    // (event sessions) — same row counts and value domains as `fixed`,
    // so the an_*/graph_*/qa_* oracles re-grade on realistic key skew
    val skew = vocabMode == "skew"
    // hub mode also SPARSIFIES the graph (1 order per customer instead of
    // 10): with the default fan-out every node is below reducer capacity
    // no matter how skewed the supplier pick — the planted hub only
    // becomes a real straggler when edges-per-key can rival edges-per-
    // partition.
    val ords = orders(spark,
      if (vocabMode == "hub") n(150000) else n(1500000), seed + 30, nCust,
      skewCust = skew)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> region(spark),
      "nation" -> nation(spark),
      "supplier" -> supplier(spark, nSupp, seed + 10),
      "customer" -> customer(spark, nCust, seed + 20),
      "part" -> part(spark, nPart, seed + 25),
      "orders" -> ords,
      "lineitem" -> lineitem(ords, seed + 40, nPart, nSupp,
        hubSupp = vocabMode == "hub", skewPart = skew),
      // floor like n(): at tiny sf, nCust/10 = 0 would make pmod(hash, 0)
      // emit NULL user_ids and every user join silently empty
      "events" -> events(spark, n(1000000), seed + 50, math.max(1L, nCust / 10),
        skewUser = skew),
      "documents" -> docGen(spark, n(50000), seed + 60),
      "embeddings" -> embeddings(spark, n(20000), seed + 70))
    tables.foreach { case (name, df) =>
      if (only.forall(_.contains(name)))
        writeNaive(df, s"$outDir/$name.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleGen <outDir> <sf> [seed] [fixed|zipf|hub|skew] [table,table,...]")
    val spark = graft.GraftSession.local()
    generate(spark, args(0), args(1).toDouble,
      if (args.length > 2) args(2).toLong else 42L,
      if (args.length > 3) args(3) else "fixed",
      if (args.length > 4) Some(args(4).split(",").toSet) else None)
    spark.stop()
  }
}
