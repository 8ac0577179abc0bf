package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import graft.ecom.{Ecom, EcomFixture}
import graft.plans.ModelGraph
import graft.plans.ModelGraph.{Incremental, Model, Table, View}
import graft.sources.ParquetFormat

class ModelGraphSpec extends SparkSpec {

  private def sources = {
    import spark.implicits._
    Map("orders" -> Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0), (3L, "2024-01-02", 5.0))
      .toDF("order_id", "order_date", "total"))
  }

  private val staging = Model("stg_orders", Seq("orders"),
    deps => deps("orders").select(col("order_id"),
      col("order_date").cast("date").as("order_date"), col("total")))

  private val mart = Model("fct_daily", Seq("stg_orders"),
    deps => deps("stg_orders").groupBy("order_date")
      .agg(count(lit(1)).as("n"), sum("total").as("day_total")),
    Table)

  test("topoOrder resolves deps and rejects cycles") {
    val ordered = ModelGraph.topoOrder(Seq(mart, staging), Set("orders"))
    assert(ordered.map(_.name) == Seq("stg_orders", "fct_daily"))
    val cyc = Seq(
      Model("a", Seq("b"), _ => sources("orders")),
      Model("b", Seq("a"), _ => sources("orders")))
    intercept[IllegalArgumentException](ModelGraph.topoOrder(cyc, Set.empty))
  }

  test("compose builds the lazy DAG; run materializes tables") {
    val composed = ModelGraph.compose(Seq(staging, mart), sources)
    assert(composed("fct_daily").count() == 2)

    val dir = Files.createTempDirectory("mg").toString
    val out = ModelGraph.run(spark, Seq(staging, mart), sources, dir)
    assert(out("fct_daily").count() == 2)
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/fct_daily")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/stg_orders"))) // view
  }

  test("incremental materialization appends only rows past the watermark") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mginc").toString
    val inc = Model("fct_inc", Seq("stg_orders"),
      deps => deps("stg_orders"), Incremental("order_date"))

    ModelGraph.run(spark, Seq(staging, inc), sources, dir)
    assert(spark.read.parquet(s"$dir/fct_inc").count() == 3) // bootstrap full build

    val more = Map("orders" -> (sources("orders") unionByName Seq(
      (4L, "2024-01-03", 7.0), (0L, "2023-12-31", 1.0)) // one new, one late
      .toDF("order_id", "order_date", "total")))
    ModelGraph.run(spark, Seq(staging, inc), more, dir)
    val ids = spark.read.parquet(s"$dir/fct_inc")
      .select("order_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L)) // late row 0 filtered, no re-appends
  }

  test("Incremental rejects NULL watermarks loudly; IncrementalMerge keeps them") {
    import spark.implicits._
    import graft.plans.ModelGraph.IncrementalMerge
    def withNull = Map("orders" -> Seq(
      (1L, Option("2024-01-01"), 10.0), (2L, Option("2024-01-02"), 20.0),
      (9L, Option.empty[String], 99.0)) // NULL watermark row
      .toDF("order_id", "order_date", "total"))

    // Incremental: a NULL wm row can never be high-watermark-tracked —
    // silently dropping it (the old 3-valued-logic behavior) loses data,
    // so the build must fail loudly instead.
    val inc = Model("fct_inc", Seq("orders"), d => d("orders"), Incremental("order_date"))
    val e = intercept[Exception] {
      ModelGraph.run(spark, Seq(inc), withNull,
        Files.createTempDirectory("mgnull1").toString)
    }
    assert(e.getMessage != null || e.getCause != null) // job fails, store untouched

    // IncrementalMerge: NULL-wm rows route into the fresh branch — they
    // survive every refresh (re-derived, not duplicated, not dropped).
    val dir = Files.createTempDirectory("mgnull2").toString
    val mrg = Model("fct_mrg", Seq("orders"), d => d("orders"), IncrementalMerge("order_date"))
    ModelGraph.run(spark, Seq(mrg), withNull, dir) // bootstrap
    ModelGraph.run(spark, Seq(mrg), withNull, dir) // refresh 1
    ModelGraph.run(spark, Seq(mrg), withNull, dir) // refresh 2
    val rows = spark.read.parquet(s"$dir/fct_mrg")
      .select("order_id").as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 2L, 9L), s"NULL-watermark row lost or duplicated: $rows")
  }

  test("incremental probe: absence bootstraps, corrupt data rethrows") {
    val dir = Files.createTempDirectory("mgprobe").toString
    // genuine absence → false → bootstrap is the right call
    assert(!ParquetFormat.exists(spark, s"$dir/missing"))
    // a path that EXISTS but fails to read is NOT absence: silently
    // treating it as missing would Overwrite (destroy) data an append
    // was intended for — the error must propagate to the caller
    new java.io.File(s"$dir/tbl").mkdirs()
    Files.write(java.nio.file.Paths.get(s"$dir/tbl/part-0.parquet"),
      "definitely not parquet".getBytes)
    intercept[Exception](ParquetFormat.exists(spark, s"$dir/tbl"))
  }

  test("levels group independent models; parallel run matches sequential") {
    import spark.implicits._
    // diamond: stg -> (a, b) -> joined
    val a = Model("a", Seq("stg_orders"),
      d => d("stg_orders").select($"order_id", $"total"), Table)
    val b = Model("b", Seq("stg_orders"),
      d => d("stg_orders").select($"order_id", $"order_date"), Table)
    val j = Model("j", Seq("a", "b"),
      d => d("a").join(d("b"), "order_id"), Table)
    val graph = Seq(staging, a, b, j)

    val lv = ModelGraph.levels(graph, sources.keySet).map(_.map(_.name).toSet)
    assert(lv == Seq(Set("stg_orders"), Set("a", "b"), Set("j")))

    val par = ModelGraph.run(spark, graph, sources,
      Files.createTempDirectory("mgpar").toString, parallelism = 4)
    val seqv = ModelGraph.run(spark, graph, sources,
      Files.createTempDirectory("mgseq").toString, parallelism = 1)
    assert(par("j").collect().map(_.toString).sorted.toSeq ==
      seqv("j").collect().map(_.toString).sorted.toSeq)
  }

  test("an IncrementalMerge that crashed between the swap renames resumes as a merge") {
    import spark.implicits._
    import graft.plans.ModelGraph.IncrementalMerge
    val graph = Seq(
      Model("base", Seq("src"), d => d("src").filter(col("v") > 0), Table),
      Model("daily", Seq("base"),
        d => d("base").select(col("day"), col("v")), Incremental("day")),
      Model("monthly", Seq("base"),
        d => d("base").groupBy(col("day")).agg(sum(col("v")).as("total")),
        IncrementalMerge("day")))
    val dir = Files.createTempDirectory("mgcrash").toString
    ModelGraph.run(spark, graph,
      Map("src" -> Seq(1 -> 10, 1 -> 5, 2 -> 7).toDF("day", "v")), dir)
    // the replace died after moving the store aside, before publishing
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(s"$dir/.monthly.__replace_bak")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/monthly"), bak))
    // the next batch no longer carries day 1: only the restored store has
    // it, so a rebuild in place of the merge would lose it
    val out = ModelGraph.run(spark, graph,
      Map("src" -> Seq(2 -> 7, 2 -> 1, 3 -> 4).toDF("day", "v")), dir)
    assert(out("monthly").as[(Int, Long)].collect().toSet ===
      Set(1 -> 15L, 2 -> 8L, 3 -> 4L))
    assert(!fs.exists(bak), "the restored backup must not be left behind")
  }

  /** No query plan of the session is cached (the `persist` registry). */
  private def noCachedPlans: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("a model starts when its own deps land, not at its level's barrier") {
    // `slow` (level 1) can finish only after `downstream` (level 2) has
    // started: a level barrier waits out the whole 30 s latch
    val latch = new CountDownLatch(1)
    val released = new AtomicBoolean(false)
    val graph = Seq(
      Model("slow", Seq("src"), d => {
        released.set(latch.await(30, TimeUnit.SECONDS)); d("src")
      }, Table),
      Model("fast", Seq("src"), d => d("src"), Table),
      Model("downstream", Seq("fast"), d => { latch.countDown(); d("fast") }, Table))
    val out = ModelGraph.run(spark, graph, Map("src" -> spark.range(5).toDF("v")),
      Files.createTempDirectory("mgready").toString)
    assert(released.get, "slow waited out its latch: downstream never started before it")
    assert(out("downstream").count() == 5)
  }

  test("a view two models read runs once per run and is released after") {
    import spark.implicits._
    val computed = spark.sparkContext.longAccumulator("shared_view_rows")
    val tick = udf { (v: Long) => computed.add(1); v }.asNondeterministic()
    val graph = Seq(
      Model("shared", Seq("src"), d => d("src").select(tick($"v").as("v"))),
      Model("left", Seq("shared"), d => d("shared").filter($"v" > 1), Table),
      Model("right", Seq("shared"), d => d("shared").agg(sum($"v").as("total")), Table))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = ModelGraph.run(spark, graph, Map("src" -> spark.range(0, 10, 1, 3).toDF("v")),
      Files.createTempDirectory("mgshared").toString)
    assert(computed.value == 10, s"the shared view computed ${computed.value} rows, not 10")
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(rddsBefore),
      "the run left a persisted RDD behind")
    assert(noCachedPlans, "the run left a cached plan behind")
    assert(out("left").count() == 8)
    assert(out("right").as[Long].head() == 45L)
  }

  test("a failing model stops its dependents, lets running siblings land, " +
      "releases the cache and names itself") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mgfail").toString
    val dependentStarted = new AtomicBoolean(false)
    val graph = Seq(
      Model("stg", Seq("src"), d => d("src").select(($"v" * 2).as("v"))), // shared view
      Model("sibling", Seq("stg"), d => { Thread.sleep(3000); d("stg") }, Table),
      Model("exploding", Seq("stg"), _ => throw new IllegalStateException("boom"), Table),
      Model("after_exploding", Seq("exploding"),
        d => { dependentStarted.set(true); d("exploding") }, Table))
    val e = intercept[RuntimeException] {
      ModelGraph.run(spark, graph, Map("src" -> spark.range(10).toDF("v")), dir)
    }
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a job of the run is still active after run threw")
    assert(Files.exists(Paths.get(s"$dir/sibling/_SUCCESS")),
      "the running sibling was abandoned mid-write")
    assert(e.getMessage.contains("exploding"), e.getMessage)
    assert(!dependentStarted.get, "a dependent of the failed model started")
    assert(noCachedPlans, "the shared view stayed cached")
  }

  test("each landed model's frame has the schema its parquet directory reads with") {
    val dir = Files.createTempDirectory("mgschema").toString
    val models = Ecom.models(EcomFixture.now, EcomFixture.today)
    val out = ModelGraph.run(spark, models, EcomFixture.raw(spark, sfDir), dir)
    val landed = models.filter(_.materialization != View).map(_.name)
    assert(landed.size == 24)
    landed.foreach { m =>
      assert(out(m).schema == spark.read.parquet(s"$dir/$m").schema, m)
    }
  }
}
