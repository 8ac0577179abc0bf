package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.Components
import graft.plans.ModelGraph
import graft.plans.ModelGraph.{Incremental, Model, Table}
import graft.sources.{ParquetFormat, ScaleGen}

/** [[ParquetFormat.read]] derives a path's schema on the driver from the
  * footer Spark's own inference reads: the schema must equal
  * `spark.read.parquet`'s on every layout the engine reads, without a
  * Spark job, and what Spark refuses must still be refused. */
class ParquetReadSpec extends SparkSpec {

  private def assertParity(path: String): Unit = {
    val want = spark.read.parquet(path).schema
    val got = ParquetFormat.read(spark, path).schema
    assert(got == want, s"$path: footer schema\n${got.treeString}\n!= inferred\n${want.treeString}")
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Jobs `body` starts, counted by a listener. The listener bus delivers
    * in order, so a fence job submitted afterwards bounds the wait. */
  private def jobsDuring(body: => Unit): Int = {
    val (group, fence) = (s"probe-${System.nanoTime()}", s"fence-${System.nanoTime()}")
    val (n, fenced) = (new AtomicInteger, new AtomicBoolean)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) n.incrementAndGet() else if (g == fence) fenced.set(true)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "schema probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!fenced.get && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(fenced.get, "fence job never reached the listener")
      n.get
    } finally sc.removeSparkListener(l)
  }

  test("every corpus table's footer schema equals Spark's inferred schema") {
    val corpora = new File(sfDir).getParentFile.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("sf")).map(_.getPath).sorted
    assert(corpora.contains(sfDir))
    for (dir <- corpora; name <- Tables.names
         if new File(s"$dir/$name.parquet").exists) assertParity(s"$dir/$name.parquet")
  }

  test("a generated corpus's multi-part table directories read with the inferred schema") {
    val dir = tmp("pf-scalegen")
    ScaleGen.generate(spark, dir, sf = 0.001)
    for (name <- Tables.names) {
      val path = s"$dir/$name.parquet"
      assert(new File(path).listFiles().count(_.getName.endsWith(".parquet")) > 1,
        s"$name is not a multi-part directory")
      assertParity(path)
    }
  }

  test("landed, incrementally appended and spilled tables read with the inferred schema") {
    import spark.implicits._
    val day1 = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0))
      .toDF("order_id", "order_date", "total")
    val day2 = day1.union(Seq((3L, "2024-01-03", 30.0)).toDF())
    val models = Seq(
      Model("fct_table", Seq("orders"), d => d("orders"), Table),
      Model("fct_inc", Seq("orders"), d => d("orders"), Incremental("order_date")))
    val landing = tmp("pf-landing")
    ModelGraph.run(spark, models, Map("orders" -> day1), landing)
    ModelGraph.run(spark, models, Map("orders" -> day2), landing)
    assertParity(s"$landing/fct_table")
    // part-<n>-<write uuid>-c000...: files from both runs' writes
    val writes = new File(s"$landing/fct_inc").listFiles().map(_.getName)
      .collect { case n if n.startsWith("part-") => n.split("-").slice(2, 7).mkString("-") }
    assert(writes.distinct.length == 2, s"expected two appended writes: ${writes.toSeq}")
    assertParity(s"$landing/fct_inc")

    val scratch = tmp("pf-cc")
    Components.connectedComponents(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
      scratchDir = Some(scratch))
    assertParity(s"$scratch/components")
  }

  test("the schema resolves without a Spark job; schema inference starts one") {
    val path = s"$sfDir/lineitem.parquet"
    assert(jobsDuring(ParquetFormat.read(spark, path).schema) == 0)
    assert(jobsDuring(spark.read.parquet(path).schema) > 0,
      "the listener saw no inference job — the zero above proves nothing")
  }

  test("missing and empty paths fail as spark.read.parquet fails; junk still throws") {
    def failure(read: String => Any, path: String): Class[_] =
      intercept[Exception](read(path)).getClass
    val missing = s"${tmp("pf-missing")}/nope"
    val empty = tmp("pf-empty")
    for (p <- Seq(missing, empty))
      assert(failure(ParquetFormat.read(spark, _).schema, p) ==
        failure(spark.read.parquet(_).schema, p), p)
    val junk = tmp("pf-junk")
    Files.write(new File(s"$junk/part-0.parquet").toPath, "definitely not parquet".getBytes)
    intercept[Exception](ParquetFormat.read(spark, junk).schema)
  }
}
