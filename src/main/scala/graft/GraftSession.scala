package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration the engine assumes everywhere.
  *
  * Tuned for the driver's local[N] harness but with settings that hold on a
  * real cluster: AQE on (runtime partition coalescing, skew-join splitting,
  * broadcast demotion), small dims auto-broadcast, UTC session time so
  * timestamp results are oracle-comparable, micros parquet timestamps so
  * downstream engines (DuckDB/Arrow) read identical values.
  *
  * The generated-class cache holds [[CodegenCacheEntries]] classes, so a
  * JVM compiles each generated class once. Spark's default of 100 thrashes:
  * a medallion build needs ~330 distinct classes and one pass over the
  * 243 keys ~4350 (sf0.001), requested in the same order every pass, and
  * an LRU cache under a cyclic access pattern over more keys than it holds
  * gets zero hits. At 100, every medallion pass recompiled ~340 classes
  * (sf0.01, 4 cpus: 13–17 s of Janino time summed over task threads, and
  * a pass ~30% longer); sized, a repeated pass compiles 6–30, the
  * multi-`countDistinct` stages whose generated source differs from run to
  * run (ROADMAP item 3). A cached class retains ~35–40 KB of heap (its
  * source, the cache key, and Janino's bytecode), so the medallion's set
  * costs ~13 MB and the full suite's ~170 MB. The cache is JVM-global and
  * takes its size from the session conf active when the first class is
  * generated, so the first session in a JVM fixes it.
  * `SPARK_GRAFT_CONF` overrides it like any other setting.
  */
object GraftSession {
  /** 8192: the suite's ~4350 distinct classes plus the ~600 a repeated
    * suite pass regenerates, rounded up to a power of two. Spark's cache
    * is four LRU segments of a quarter of this each, so the headroom also
    * absorbs an uneven spread of keys over segments. */
  val CodegenCacheEntries = 8192

  def builder(cores: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // SQL surface: graft's functions (surrogate keys, sketches, vector
      // ops) available from spark.sql(...) — see GraftExtensions.
      .withExtensions(new GraftExtensions)
      // One shuffle partition per core locally; on a cluster this would be
      // ~2-3x total executor cores. AQE coalesces the tail either way.
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 8 MB: dims (nation/region/lookups) broadcast; anything bigger
      // shuffles. Larger thresholds measured badly here — the driver builds
      // each hashed relation single-threaded, and at cluster scale an
      // oversized broadcast ships to every executor.
      .config("spark.sql.autoBroadcastJoinThreshold", (8 * 1024 * 1024).toString)
      // ObjectHashAggregate (TypedImperative aggregates: the MG sketches,
      // the bounded top-k) falls back to SORT-based aggregation past this
      // many in-memory group keys (default 128) — which would re-introduce
      // exactly the per-group sort the bounded top-k exists to remove (the
      // recall paths group by query_id: hundreds of groups per partition).
      // 64Ki keys of ≤k-entry state is a few MB per task, far under
      // execution memory, and the fallback still bounds memory on
      // adversarial group counts past it. Values cannot change: aggregation
      // strategy is a physical choice, and every collect_list/collect_set
      // consumer in the repo order-normalizes with array_sort.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Bound plan-tree stringification (default ~2 GB): Dataset.persist
      // computes the cache entry's NAME by toString-ing the whole physical
      // plan, and a deep-lineage plan carrying constant-heavy expressions
      // (e.g. unions over LSH hyperplane dots) turns that into minutes of
      // driver CPU before any work starts. 64 KB keeps explain output
      // useful and makes every toString O(1)-ish.
      .config("spark.sql.maxPlanStringLength", (64 * 1024).toString)
      // events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type, so
      // read as long and convert to micros in Tables (truncation matches
      // DuckDB's nanos→micros cast).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Ad-hoc experiment overrides: SPARK_GRAFT_CONF="k=v;k=v".
      .config(sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(";")
        .filter(_.contains("=")).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap)

  /** The session every main runs on: `$SPARK_GRAFT_CPUS` local cores,
    * by default all of the machine's processors, logging at WARN. */
  def local(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
