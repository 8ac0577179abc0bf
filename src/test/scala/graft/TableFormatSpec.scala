package graft

import org.apache.spark.sql.functions._
import graft.plans.ModelGraph
import graft.plans.ModelGraph.{Incremental, IncrementalMerge, Model, Table}
import graft.sources.ParquetFormat

/** ModelGraph's parquet storage: the incremental DAG lands the expected
  * tables across two batches, and the self-reading replace survives its
  * crash windows. */
class TableFormatSpec extends SparkSpec {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val models = Seq(
    Model("base", Seq("src"), d => d("src").filter(col("v") > 0), Table),
    Model("daily", Seq("base"),
      d => d("base").select(col("day"), col("v")), Incremental("day")),
    Model("monthly", Seq("base"),
      d => d("base").groupBy(col("day")).agg(sum(col("v")).as("total")),
      IncrementalMerge("day")))

  private def srcBatch(days: Seq[(Int, Int)]) = {
    import spark.implicits._
    days.toDF("day", "v")
  }

  test("ModelGraph materializes the two-batch incremental scenario on parquet") {
    val base = tmp("fmt_pq")
    ModelGraph.run(spark, models,
      Map("src" -> srcBatch(Seq(1 -> 10, 1 -> 5, 2 -> 7))), base)
    // second batch: day 2 accretes (boundary re-derive), day 3 is new
    val out = ModelGraph.run(spark, models,
      Map("src" -> srcBatch(Seq(1 -> 10, 1 -> 5, 2 -> 7, 2 -> 1, 3 -> 4))), base)
    assert(out("monthly").collect().map(r => (r.getInt(0), r.getLong(1))).toSet ===
      Set(1 -> 15L, 2 -> 8L, 3 -> 4L))
  }

  test("ParquetFormat.replace: recover repairs every crash window") {
    import spark.implicits._
    val dir = tmp("fmt_crash")
    val path = s"$dir/t"
    Seq((1, "old")).toDF("k", "s").write.parquet(path)
    // window A: crash after staging tmp, before any rename — tmp discarded
    Seq((9, "tmp")).toDF("k", "s").write.parquet(s"$dir/.t.__replace_tmp")
    ParquetFormat.recover(spark, path)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq == Seq("old"))
    assert(!new java.io.File(s"$dir/.t.__replace_tmp").exists())
    // window B: crash between the renames — backup orphaned, target gone
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"$dir/.t.__replace_bak")))
    ParquetFormat.recover(spark, path)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq == Seq("old"),
      "orphaned backup must be restored as the table")
    // window C: crash after publish, before backup delete — newer target wins
    Seq((2, "new")).toDF("k", "s").write.mode("overwrite").parquet(path)
    Seq((1, "old")).toDF("k", "s").write.parquet(s"$dir/.t.__replace_bak")
    ParquetFormat.recover(spark, path)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq == Seq("new"),
      "backup must never be resurrected over the committed generation")
    // and a live self-reading replace round-trips
    val doubled = spark.read.parquet(path).withColumn("s", concat(col("s"), lit("!")))
    ParquetFormat.replace(doubled, path)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq == Seq("new!"))
  }
}
