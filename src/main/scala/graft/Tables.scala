package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the corpus tables: `<dir>/<name>.parquet`, a single parquet
  * file in the driver-provided corpora (TESTDATA.md) and a multi-part
  * directory in [[graft.sources.ScaleGen]]'s. The schema comes from the
  * table's first footer, read on the driver by
  * [[graft.sources.ParquetFormat.read]] — no inference job per table. The
  * scan keeps full predicate-pushdown / column-pruning support, so queries
  * built on these only read the columns and row groups they touch.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.sources.ParquetFormat.read(spark, s"$dir/$name.parquet")
    // TIMESTAMP(NANOS) columns arrive as long (see GraftSession nanosAsLong);
    // integer-divide to micros — same truncation DuckDB applies on its
    // nanos→micros casts, so derived values stay oracle-comparable. Cast to
    // timestamp_ntz so driver-corpus events presents the SAME Spark type as
    // ScaleGen.writeNaive output (value-preserving under the UTC session) —
    // keeps Sync.fingerprint's schema string corpus-independent.
    if (name == "events"
        && df.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
      // The LTZ→NTZ hop below is value-preserving ONLY under a UTC session
      // timezone; any other zone would silently shift every ts and break
      // oracle parity — fail loudly instead (GraftSession pins UTC; this
      // guards sessions built without it).
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"Tables(events): ts cast requires spark.sql.session.timeZone=UTC " +
          s"(got '$tz') — a non-UTC session would shift every timestamp")
      df.withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
          .cast(org.apache.spark.sql.types.TimestampNTZType))
    } else df
  }

  /** On-disk bytes of `<dir>/<name>.parquet`, one file or a directory of
    * part files (counted recursively); 0 when the table is absent. A
    * local-filesystem stat: a cluster deployment would size the same probe
    * with FileSystem.getContentSummary on the warehouse FS. */
  def bytes(dir: String, name: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else f.length()
    size(new java.io.File(s"$dir/$name.parquet"))
  }

  /** Register every table as a temp view so `spark.sql` text matches the
    * DuckDB oracle SQL verbatim where we choose to share it. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
