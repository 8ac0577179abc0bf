package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{GraftFooterBridge, ParquetFooterReader}
import org.apache.spark.sql.types.StructType

/** Plain parquet directories: the storage of every table
  * [[graft.plans.ModelGraph.run]] lands (one directory per model, the
  * reference's one DuckDB table per model), the engine's one parquet read
  * path ([[read]], which infers no schema with a Spark job), and the one
  * crash-safe swap that [[replace]] and
  * [[graft.operators.Upsert.intoParquet]] publish through.
  *
  * The swap stages the new generation in a sibling directory, moves the
  * target aside to a backup, publishes the staged copy by rename and
  * deletes the backup last. Crash-safety contract: at every point either
  * the target or the backup holds a complete copy of the previous
  * generation, and [[recover]] restores a backup orphaned between the two
  * renames. A publish rename that fails rolls the backup straight back.
  * Each rename's boolean result is checked (HDFS-style FileSystems report
  * failure by returning false, not by throwing).
  *
  * NOT atomic for concurrent readers: between the two renames the target
  * path does not exist, so a reader racing the swap can observe
  * path-not-found and must retry ([[graft.operators.VersionedTable]] is
  * the reader-atomic layout).
  */
object ParquetFormat {

  // Resolve the FS from the target's own URI — FileSystem.get(conf) would
  // return the *default* FS, which is wrong for s3a:// or cross-scheme paths.
  private def fsOf(spark: SparkSession, target: Path): FileSystem =
    target.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Genuine absence only — transient errors must propagate, not read as
    * "missing" (a misread here turns an append into a full overwrite).
    * A missing directory is absent without a Spark read (which would log
    * a FileNotFoundException stack trace per cold incremental model); an
    * existing one must read, so corrupt data throws. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val target = new Path(path)
    if (!fsOf(spark, target).exists(target)) false
    else try { read(spark, path).limit(1).count() >= 0 }
    catch {
      case _: org.apache.spark.sql.AnalysisException |
           _: java.io.FileNotFoundException => false
    }
  }

  /** Read a parquet file or directory with the schema Spark's inference
    * would give it, derived on the driver: `spark.read.parquet` infers it
    * in a one-task Spark job even when it reads a single footer. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(read(spark, path, _))

  /** The footer `ParquetUtils.inferSchema` reads with `mergeSchema` off —
    * the first `_common_metadata`, else `_metadata`, else the first data
    * file by path — converted by Spark's own `ParquetFileFormat.readSchema`.
    * None leaves the read to Spark, so callers see its behaviour and its
    * exceptions: schema merging on, no data file (a missing or empty
    * path), a subdirectory Spark would list (partition discovery), or a
    * footer that does not read. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE => Common, PARQUET_METADATA_FILE => Meta}
    def listed(name: String): Boolean = // InMemoryFileIndex's name filter
      name.startsWith(Common) || name.startsWith(Meta) ||
        !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_"))
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else try {
      val target = new Path(path)
      val fs = fsOf(spark, target)
      val root = fs.getFileStatus(target)
      val leaves =
        if (root.isFile) Seq(root)
        else fs.listStatus(target).toSeq.filter(st => listed(st.getPath.getName))
      val files = leaves.filter(_.isFile).sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      val data = files.filterNot(f => Set(Common, Meta)(f.getPath.getName))
      if (data.isEmpty || leaves.exists(_.isDirectory)) None
      else {
        val pick = named(Common).orElse(named(Meta)).getOrElse(data.head)
        val conf = spark.sparkContext.hadoopConfiguration
        val footer = new Footer(pick.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(pick, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        GraftFooterBridge.readSchema(Seq(footer), spark)
      }
    } catch { case NonFatal(_) => None }
  }

  /** Read back a table just written from a frame of `schema`: the caller
    * states what the footers hold, so no Spark job re-infers it. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** [[replace]]'s staging and backup dirs: dot-prefixed siblings, so
    * partition discovery over the parent skips them. */
  private def replaceSiblings(path: String): (Path, Path, Path) = {
    val target = new Path(path)
    (target, new Path(target.getParent, s".${target.getName}.__replace_tmp"),
      new Path(target.getParent, s".${target.getName}.__replace_bak"))
  }

  /** Replace the table's contents with `df`, where `df`'s plan may SCAN
    * the table's current generation — the self-reading merge shape. The
    * new generation never overwrites what the plan still scans: it lands
    * in a hidden sibling first and swaps in via rename. */
  def replace(df: DataFrame, path: String): Unit = {
    val (target, tmp, bak) = replaceSiblings(path)
    swap(df, target, tmp, bak)
  }

  /** Repair an interrupted [[replace]] — called before the next operation
    * on the table. */
  def recover(spark: SparkSession, path: String): Unit = {
    val (target, tmp, bak) = replaceSiblings(path)
    recover(spark, target, tmp, bak)
  }

  /** Crash recovery for [[swap]]: a stale staging dir is garbage; a stale
    * backup is the only surviving copy iff the target is missing (a crash
    * between the two renames) — restore it — and superseded otherwise. */
  private[graft] def recover(spark: SparkSession, target: Path, tmp: Path,
      bak: Path): Unit = {
    val fs = fsOf(spark, target)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) {
      if (!fs.exists(target))
        require(fs.rename(bak, target), s"failed to restore backup $bak to $target")
      else fs.delete(bak, true)
    }
  }

  /** Write `df` to `tmp`, then publish it as `target`: an existing target
    * moves aside to `bak` first and is deleted only once the new
    * generation is in place; a failed publish restores it. */
  private[graft] def swap(df: DataFrame, target: Path, tmp: Path, bak: Path): Unit = {
    val fs = fsOf(df.sparkSession, target)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val hadTarget = fs.exists(target)
    if (hadTarget)
      require(fs.rename(target, bak),
        s"failed to move $target aside to $bak; aborting — data untouched")
    if (!fs.rename(tmp, target)) {
      if (hadTarget && !fs.rename(bak, target))
        throw new IllegalStateException(
          s"swap failed AND rollback failed: data preserved at $bak, target $target missing")
      throw new IllegalStateException(s"failed to rename $tmp to $target; previous data restored")
    }
    if (hadTarget) fs.delete(bak, true)
  }
}
