package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.ParquetFormat

/** Versioned-directory table — snapshot isolation for concurrent readers.
  *
  * [[Upsert.intoParquet]]'s in-place swap has a documented reader-visible
  * gap (the target path transiently missing mid-swap). This scheme closes
  * it: every write lands in a fresh `v=N` directory and becomes visible
  * atomically when Spark's `_SUCCESS` marker is created; the "current
  * version" is simply the highest committed N. Committed directories are
  * immutable, so a reader that resolved v=N keeps a consistent snapshot
  * for as long as it runs, regardless of later writes — the same
  * log-of-immutable-snapshots idea as Delta/Iceberg, reduced to what
  * plain parquet + an atomic file-create can express.
  *
  * Guarantees (single writer, any number of readers):
  *  - readers never see a partial or missing table: resolution only
  *    considers directories with `_SUCCESS`, and those never mutate;
  *  - a crashed write leaves an uncommitted `v=N` that is invisible to
  *    readers and reclaimed by the next `vacuum`;
  *  - `vacuum(keep = k)` retains the k newest committed versions, giving
  *    long-running readers a grace window before their snapshot is
  *    reclaimed.
  */
object VersionedTable {

  /** Write `df` as the next version and commit it. Returns the version. */
  def write(df: DataFrame, root: String): Long = {
    val fs = pathFs(df.sparkSession, root)
    // Next version must clear ALL existing dirs, committed or not — an
    // uncommitted crash leftover keeps its number so it is never adopted.
    val next = versions(fs, root).map(_._1).maxOption.getOrElse(0L) + 1
    df.write.mode(SaveMode.ErrorIfExists).parquet(s"$root/v=$next")
    next
  }

  /** Read the newest committed version (throws if none exists). */
  def read(spark: SparkSession, root: String): DataFrame =
    ParquetFormat.read(spark, s"$root/v=${currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))}")

  /** Read a pinned version — time travel over retained snapshots. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    ParquetFormat.read(spark, s"$root/v=$version")

  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    committed(pathFs(spark, root), root).maxOption

  def listVersions(spark: SparkSession, root: String): Seq[Long] =
    committed(pathFs(spark, root), root).sorted

  /** Delete all but the `keep` newest committed versions, plus any
    * uncommitted leftovers older than the current version. Returns the
    * deleted version numbers. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    val fs = pathFs(spark, root)
    val all = versions(fs, root)
    val committedVs = all.filter(_._2).map(_._1).sorted
    val retain = committedVs.takeRight(keep).toSet
    val current = committedVs.lastOption.getOrElse(return Nil)
    val doomed = all.collect {
      case (v, true) if !retain(v) => v
      case (v, false) if v < current => v // crash leftovers now superseded
    }
    doomed.foreach(v => fs.delete(new Path(s"$root/v=$v"), true))
    doomed.sorted
  }

  // ---------------------------------------------------------------------
  private def pathFs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (version, isCommitted) for every v=N directory under root. */
  private def versions(fs: FileSystem, root: String): Seq[(Long, Boolean)] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toLongOption
        .map(v => (v, fs.exists(new Path(s.getPath, "_SUCCESS")))))
  }

  private def committed(fs: FileSystem, root: String): Seq[Long] =
    versions(fs, root).collect { case (v, true) => v }
}
