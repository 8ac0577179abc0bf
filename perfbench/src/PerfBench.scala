package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, GraftSession, SparkEntry}
import graft.ecom.{Ecom, EcomFixture}
import graft.operators.Sync
import graft.plans.ModelGraph
import graft.sources.ScaleGen

/** Benchmark driver. It calls only the engine's public entry points
  * (ScaleGen, EcomFixture, ModelGraph, SparkEntry, Bench.exec,
  * Sync.fingerprint) and observes the engine only through Spark's public
  * listeners, attached from here.
  *
  * One run is one JVM, one workload and one client in a closed loop:
  * set-up (session; then two inputs, each a corpus and the workload's
  * fixture: a reference seed with committed fingerprints, and the run's
  * seed), untimed warm-up passes (see [[warmupPasses]]), timed passes on
  * the run's input until `--seconds` have elapsed, then the correctness
  * checks. It writes `<out>/result.json`; with
  * `--trace 1` it also writes `<out>/trace.json`: every span and the
  * per-layer metrics derived from them. */
object PerfBench {

  // ----------------------------------------------------------- workloads --

  val Workloads = Seq("medallion_build", "medallion_refresh", "mart_queries", "operator_keys")

  val MartKeys: Seq[String] = Seq(
    "ecom_addresses_quirk", "ecom_categories_enriched", "ecom_customer_interactions",
    "ecom_customers_enriched", "ecom_dim_categories", "ecom_dim_customers",
    "ecom_dim_dates", "ecom_dim_locations", "ecom_dim_products",
    "ecom_fct_customer_activity", "ecom_fct_customer_orders",
    "ecom_fct_customer_reviews", "ecom_fct_order_details",
    "ecom_fct_product_interactions", "ecom_fct_product_performance",
    "ecom_fct_sales_by_date", "ecom_fct_sales_by_product", "ecom_fct_sales_by_region",
    "ecom_locations", "ecom_order_items", "ecom_orders", "ecom_products_enriched",
    "ecom_reviews_enriched", "ecom_subcategories_enriched",
    "qa_drift_psi", "qa_freshness", "qa_key_skew", "qa_null_profile",
    "qa_schema_tests", "qa_schema_tests_stream", "qa_unique_violations",
    "qa_volume_anomaly")

  /** One key per hand-rolled iteration loop that ROADMAP item 3 targets:
    * pagerank, connected components, k-means. */
  val OperatorKeys: Seq[String] = Seq("graph_pagerank", "dedup_components", "ann_ivf_trained")

  val IncrementalMarts: Seq[String] =
    Seq("fct_customer_orders", "fct_customer_activity", "fct_customer_reviews")

  /** The daily feed the refresh adds: the orders (with their items), reviews
    * and interactions dated in the corpus's last `FeedDays` days. */
  val FeedDays = 30

  private val ColdPass = Int.MinValue

  /** Untimed warm-up passes: the first on the reference input, a second on
    * the run's own. After one pass the JIT is still settling on the
    * operator keys (the next pass measured 12.4–14.9 s, against 8–9.5 s
    * after two); on the medallion the difference is within the run-to-run
    * spread, and the run budget leaves no room for a second pass there. */
  def warmupPasses(workload: String): Int = if (workload == "medallion_build") 1 else 2

  /** The session runs `local[nproc]`. */
  val Cores: Int = Runtime.getRuntime.availableProcessors

  val OpProp = "perfbench.span"

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, sf: Double, work: Path, out: Path, expected: Option[Path])

  /** A generated corpus and, for `medallion_refresh`, its bootstrapped store. */
  final case class Input(seed: Long, corpus: String, store: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("sf").toDouble, Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, m.get("expected").map(Paths.get(_)))
  }

  // -------------------------------------------------------------- spans --

  /** A span on the wall clock Spark stamps its own events with (epoch ms),
    * so a job submitted inside a driver span cannot start before it. */
  final case class Span(id: Long, parent: Long, name: String, kind: String,
      start: Long, end: Long)

  final case class Job(id: Int, start: Long, var end: Long, span: Long,
      exec: Long, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, start: Long, end: Long,
      tasks: Int, taskMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, inBytes: Long, outBytes: Long, outRows: Long)
  /** A SQL execution; `writePath` is set when it runs a file write. */
  final case class Exec(id: Long, root: Long, start: Long, var end: Long,
      writePath: Option[String])

  /** Listener state. Attached only in traced runs. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val execs = mutable.LinkedHashMap.empty[Long, Exec]
    /** Query plans (analysis + optimization + planning): (start ms, ms). */
    val plans = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile private var last = System.currentTimeMillis()

    private val WriteCmd = """InsertIntoHadoopFsRelationCommand\s+(\S+?),""".r

    private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      last = System.currentTimeMillis()
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).map(_.toLong)
      jobs(e.jobId) = Job(e.jobId, e.time, -1, prop(OpProp).getOrElse(-1L),
        prop("spark.sql.execution.id").getOrElse(-1L), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      last = System.currentTimeMillis(); jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      last = System.currentTimeMillis()
      val i = e.stageInfo
      val m = i.taskMetrics
      for (s <- i.submissionTime; c <- i.completionTime if m != null)
        stages += Stage(i.stageId, i.attemptNumber(), s, c, i.numTasks, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      last = System.currentTimeMillis()
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val ns = nodes(s.sparkPlanInfo)
          val path = ns.iterator.flatMap(n => WriteCmd.findFirstMatchIn(n.simpleString))
            .map(_.group(1)).nextOption()
          execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
            s.time, -1, path)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach(_.end = s.time)
        case _ =>
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

    /** The bus delivers asynchronously: wait until every job and SQL
      * execution seen has ended and the bus has been quiet for a moment. */
    def drain(): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      def open = synchronized(jobs.values.exists(_.end < 0) || execs.values.exists(_.end < 0))
      while (System.currentTimeMillis() < deadline &&
          (open || System.currentTimeMillis() - last < 500)) Thread.sleep(50)
    }
  }

  // ---------------------------------------------------------- utilities --

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (value, percentile, samples): the latency at the highest percentile
    * that has at least ten samples beyond it; with fewer than 11 samples
    * there is none, and the maximum is reported at percentile 100. */
  def tail(xs: Iterable[Double]): (Double, Double, Int) = {
    val s = xs.toIndexedSeq.sorted
    if (s.size <= 10) (s.lastOption.getOrElse(Double.NaN), 100.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val st = Files.walk(p); try st.iterator().asScala.toList finally st.close() }

  def bytesUnder(p: Path): Long = walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum
  def filesUnder(p: Path): Long = walk(p).count(Files.isRegularFile(_)).toLong

  def rm(p: Path): Unit = walk(p).reverse.foreach(Files.deleteIfExists)

  def copyTree(src: Path, dst: Path): Unit = walk(src).foreach { f =>
    val t = dst.resolve(src.relativize(f).toString)
    if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
  }

  /** Every column is fingerprinted: no benchmarked output carries a
    * run-dependent value (warm-up and timed passes agree on all of them). */
  def fingerprint(df: DataFrame): String = {
    val f = Sync.fingerprint(df)
    s"${f.rows}:${f.xor}:${f.sum}:${f.schema}"
  }

  def json(v: Any): String = v match {
    case None => "null"
    case Some(x) => json(x)
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toSeq.toMap)
  }

  // ------------------------------------------------------------- the run --

  final class Run(val a: Args, val spark: SparkSession) {
    private val spans = mutable.ArrayBuffer.empty[Span]
    private var nextId = 0L
    val rec = new Recorder
    private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    /** Per pass: GC time inside the operations, and the largest heap an
      * operation left live (measured after a full collection, untimed). */
    var opGcMs = 0L
    var opHeapPeak = 0L

    /** Heap in use after a full collection. Spark's ContextCleaner frees
      * the blocks of collected broadcasts and shuffles only after a
      * collection finds them unreachable, so collect, give it a moment,
      * and collect again. On a loaded machine the cleaner lags (two runs
      * read 140 and 228 MB where the rest read 87 MB), so repeat until the
      * heap in use stops falling. */
    def liveHeap(): Long = {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      def collect(): Long = { Thread.sleep(150); System.gc(); mem.getHeapMemoryUsage.getUsed }
      System.gc()
      var prev = Long.MaxValue
      var used = collect()
      var rounds = 1
      while (used < prev - (1L << 20) && rounds < 6) { prev = used; used = collect(); rounds += 1 }
      used
    }
    val failures = mutable.ArrayBuffer.empty[String]
    val failedOps = mutable.LinkedHashSet.empty[String]
    var attempted = 0
    val inputs = mutable.ArrayBuffer.empty[Input]

    def newId(): Long = { nextId += 1; nextId }

    /** A driver span around `body`. The span id is put in a local property,
      * so each job records the innermost span that submitted it; threads
      * ModelGraph and Spark start from this one inherit the property. */
    def span[T](name: String, kind: String, parent: Long)(body: Long => T): T = {
      val id = newId()
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(OpProp)
      sc.setLocalProperty(OpProp, id.toString)
      val t0 = System.currentTimeMillis()
      try body(id)
      finally {
        val t1 = System.currentTimeMillis()
        synchronized { spans += Span(id, parent, name, kind, t0, t1) }
        sc.setLocalProperty(OpProp, prev)
      }
    }

    def fail(op: String, why: String): Unit = {
      failedOps += op
      failures += s"$op: $why"
      System.err.println(s"[perfbench] FAILED $op: $why")
    }

    /** One operation. An exception fails it; the run then goes on. */
    def attempt(op: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch { case e: Throwable =>
        e.printStackTrace()
        fail(op, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        false
      }
    }

    /** Output fingerprints: (seed, name) -> pass -> (operation, fingerprint). */
    val fps = mutable.LinkedHashMap.empty[(Long, String), mutable.LinkedHashMap[Int, (String, String)]]
    def record(seed: Long, name: String, pass: Int, op: String, f: String): Unit =
      fps.getOrElseUpdate((seed, name), mutable.LinkedHashMap.empty)(pass) = (op, f)

    def models: Seq[ModelGraph.Model] = Ecom.models(EcomFixture.now, EcomFixture.today)
    def landedModels: Seq[String] = models.filter(_.materialization != ModelGraph.View).map(_.name)

    def raw(parent: Long, corpus: String): Map[String, DataFrame] =
      span("EcomFixture.raw", "ecom.raw", parent)(_ => EcomFixture.raw(spark, corpus))

    def build(parent: Long, src: Map[String, DataFrame], base: Path): Unit =
      span("ModelGraph.run", "plans.run", parent) { _ =>
        ModelGraph.run(spark, models, src, base.toString)
      }

    def fingerprintTables(parent: Long, base: Path, names: Seq[String], seed: Long,
        pass: Int, op: String, prefix: String = ""): Unit =
      span("fingerprint", "check", parent) { _ =>
        // independent tables: fingerprint them concurrently (untimed)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(Cores)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          val fs = names.map(n => scala.concurrent.Future(
            n -> fingerprint(spark.read.parquet(base.resolve(n).toString))))
          scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
            scala.concurrent.duration.Duration.Inf)
            .foreach { case (n, f) => record(seed, prefix + n, pass, op, f) }
        } finally pool.shutdown()
      }

    /** The raw rows before the feed: the corpus minus the orders (with
      * their items), reviews and interactions of its last `FeedDays` days. */
    def bootstrapRaw(full: Map[String, DataFrame]): Map[String, DataFrame] = {
      import org.apache.spark.sql.functions._
      val last = full("raw_orders").agg(max(col("ORDER_DATE").cast("date"))).head().getDate(0)
      val cut = date_sub(lit(last), FeedDays - 1)
      val orders = full("raw_orders").filter(col("ORDER_DATE").cast("date") < cut)
      full ++ Map(
        "raw_orders" -> orders,
        "raw_order_items" -> full("raw_order_items")
          .join(orders.select("ORDER_ID"), Seq("ORDER_ID"), "left_semi"),
        "raw_reviews" -> full("raw_reviews").filter(col("LOADED_AT").cast("date") < cut),
        "raw_interactions" -> full("raw_interactions")
          .filter(col("EVENT_DATE").cast("date") < cut))
    }

    // ------------------------------------------------------------ set-up --

    val genS = mutable.ArrayBuffer.empty[Double]
    val fixtureS = mutable.ArrayBuffer.empty[Double]

    /** Corpus generation plus the workload's fixture, into fresh dirs. */
    def setup(i: Int, seed: Long, parent: Long): Input = {
      val in = Input(seed, a.work.resolve(s"corpus$i").toString, a.work.resolve(s"store$i"))
      val t0 = System.nanoTime()
      span("ScaleGen.generate", "sources.gen", parent) { _ =>
        ScaleGen.generate(spark, in.corpus, a.sf, seed, "fixed")
      }
      val t1 = System.nanoTime()
      a.workload match {
        case "medallion_refresh" =>
          span("bootstrap", "fixture", parent)(id =>
            build(id, bootstrapRaw(raw(id, in.corpus)), in.store))
        case "mart_queries" =>
          span("EcomFixture.marts", "ecom.landing", parent) { _ =>
            EcomFixture.marts(spark, in.corpus); EcomFixture.martsStreamed(spark, in.corpus)
          }
        case _ =>
      }
      genS += (t1 - t0) / 1e9
      fixtureS += (System.nanoTime() - t1) / 1e9
      in
    }

    // ------------------------------------------------------------ passes --

    /** Timed latencies per operation name. */
    val opLatency = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    /** One pass over `in`; returns its timed seconds (the operations only:
      * copies, fingerprints and cleanup between operations are not timed).
      * Every output is fingerprinted. */
    def pass(p: Int, in: Input, parent: Long): Double = {
      val land = a.work.resolve(s"land$p")
      def opName(name: String) = s"$name (pass $p)"
      def timedOp(name: String)(body: => Unit): (Boolean, Double) = {
        val gc0 = gcMs
        val t0 = System.nanoTime()
        val ok = attempt(opName(name))(body)
        val t = (System.nanoTime() - t0) / 1e9
        if (p > 0) {
          opGcMs += gcMs - gc0
          opHeapPeak = opHeapPeak.max(liveHeap())
        }
        (ok, t)
      }
      def keys(ks: Seq[String]): Double = ks.map { k =>
        var df: DataFrame = null
        val (ok, t) = timedOp(k) {
          span(k, "queries.op", parent) { op =>
            df = span("build", "queries.build", op)(_ => SparkEntry.queries(k)(spark, in.corpus))
            span("exec", "queries.exec", op)(_ => Bench.exec(df))
          }
        }
        if (ok) {
          if (p > 0) opLatency.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += t
          try span("fingerprint", "check", parent) { _ =>
            record(in.seed, k, p, opName(k), fingerprint(df))
          } catch { case e: Throwable =>
            fail(opName(k), s"fingerprint: ${e.getClass.getName}: ${e.getMessage}")
          }
        }
        spark.catalog.clearCache()
        t
      }.sum
      /** The medallion workloads' one operation per pass: a ModelGraph.run. */
      def medallion(tables: Seq[String]): Double = {
        val (ok, t) = timedOp("ModelGraph.run")(build(parent, raw(parent, in.corpus), land))
        if (ok) {
          if (p > 0) opLatency.getOrElseUpdate("ModelGraph.run", mutable.ArrayBuffer.empty) += t
          fingerprintTables(parent, land, tables, in.seed, p, opName("ModelGraph.run"))
        }
        t
      }
      a.workload match {
        case "medallion_build" => medallion(landedModels)
        case "medallion_refresh" => copyTree(in.store, land); medallion(IncrementalMarts)
        case "mart_queries" => keys(MartKeys)
        case "operator_keys" => keys(OperatorKeys)
      }
    }

    def close(): Unit = rec.drain()
    def allSpans: Seq[Span] = synchronized(spans.toList)
  }

  // ----------------------------------------------------------------- main --

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(Cores)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val r = new Run(a, spark)
    if (a.trace) {
      spark.sparkContext.addSparkListener(r.rec)
      spark.listenerManager.register(r.rec)
    }
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val runId = r.newId()
    val runStart = System.currentTimeMillis()

    // Committed fingerprints, per seed. The first input is a committed seed
    // other than the run's own, so every run checks its outputs against
    // committed values, whatever its seed; with none committed (no
    // --expected) it is the run's seed again, and the check is that two
    // set-ups give the same outputs.
    val committed: Map[Long, Map[String, String]] =
      a.expected.map(Expected.load(_, a.sf)).getOrElse(Map.empty)
    val refSeed = committed.keys.toSeq.sorted.find(_ != a.seed).getOrElse {
      require(a.expected.isEmpty, s"${a.expected.get} has no fingerprints at sf ${a.sf}" +
        s" for a seed other than ${a.seed}")
      a.seed
    }

    // set-up: one per input; setup_s takes their median
    val setupId = r.newId()
    val setupStart = System.currentTimeMillis()
    var setupOk = true
    for ((seed, i) <- Seq(refSeed, a.seed).zipWithIndex if setupOk)
      setupOk = r.attempt(s"setup ${i + 1}")(r.inputs += r.setup(i + 1, seed, setupId))
    val setupEnd = System.currentTimeMillis()
    val inputBytes = r.inputs.lastOption.map(in => bytesUnder(Paths.get(in.corpus))).getOrElse(0L)

    val passWall = mutable.ArrayBuffer.empty[Double]
    val passLanded = mutable.ArrayBuffer.empty[Double]
    val passFiles = mutable.ArrayBuffer.empty[Double]
    val passHeap = mutable.ArrayBuffer.empty[Double]
    val passGc = mutable.ArrayBuffer.empty[Double]
    val passIds = mutable.ArrayBuffer.empty[Long]
    var warmupS = 0.0
    if (setupOk) {
      // warm-up: untimed, but checked, and counted in setup_s
      val w0 = System.nanoTime()
      val warm = r.inputs.take(warmupPasses(a.workload))
      for ((in, p) <- warm.zip(1 - warm.size to 0)) { // numbered up to 0
        r.span("warmup", "warmup", runId)(id => r.pass(p, in, id))
        rm(a.work.resolve(s"land$p"))
        spark.catalog.clearCache(); System.gc()
      }
      warmupS = (System.nanoTime() - w0) / 1e9
      // timed passes: closed loop, one client, until the time is used up
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      var p = 1
      while (p == 1 || System.nanoTime() < deadline) {
        r.opGcMs = 0L
        r.opHeapPeak = 0L
        val tmp0 = bytesUnder(tmp)
        val files0 = filesUnder(tmp)
        val wall = r.span(s"pass$p", "pass", runId) { id =>
          passIds += id; r.pass(p, r.inputs.last, id)
        }
        passWall += wall
        passHeap += r.opHeapPeak / 1e6
        passGc += r.opGcMs / 1e3
        val land = a.work.resolve(s"land$p")
        passLanded += (bytesUnder(land) + (bytesUnder(tmp) - tmp0).max(0L)) / 1e6
        passFiles += (filesUnder(land) + (filesUnder(tmp) - files0).max(0L)).toDouble
        rm(land)
        spark.catalog.clearCache(); System.gc()
        p += 1
      }
    }

    // correctness: every pass on a seed must repeat the reference
    // fingerprint — the committed value where there is one, else the first
    // pass's on that seed
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    r.fps.foreach { case ((seed, name), byPass) =>
      val mine = committed.getOrElse(seed, Map.empty).get(name)
      val ref = mine.getOrElse(byPass(byPass.keys.min)._2)
      val what = if (mine.isDefined) "committed" else if (byPass.size > 1) "first pass"
        else "unchecked"
      byPass.foreach { case (_, (op, f)) =>
        if (f != ref) r.fail(op, s"$name (seed $seed) fingerprint $f != $what $ref")
      }
      checks += Map("seed" -> seed, "name" -> name, "reference" -> what,
        "fingerprints" -> byPass.map { case (p, (_, f)) => p.toString -> f })
    }
    // per seed: what its outputs were checked against
    val reference = checks.groupBy(_("seed").toString).map { case (seed, cs) =>
      seed -> cs.map(_("reference")).distinct.mkString("+")
    }
    // the refreshed incremental marts must equal a cold build over the full raw
    if (a.workload == "medallion_refresh" && setupOk) {
      val cold = a.work.resolve("cold")
      r.attempt("cold build") {
        r.span("cold build", "check", runId) { id =>
          r.build(id, r.raw(id, r.inputs.last.corpus), cold)
          r.fingerprintTables(id, cold, IncrementalMarts, a.seed, ColdPass, "cold build", "cold:")
        }
      }
      IncrementalMarts.foreach { m =>
        val c = r.fps.get((a.seed, "cold:" + m)).flatMap(_.get(ColdPass)).map(_._2)
        r.fps.get((a.seed, m)).foreach(_.foreach { case (_, (op, f)) =>
          if (c.exists(_ != f)) r.fail(op, s"$m refreshed store $f != cold build ${c.get}")
        })
      }
    }
    r.close()

    // the tail over each operation's median: a run has at most ten
    // operations, so no percentile has ten samples beyond it, and the
    // slowest operation is reported at percentile 100
    val (tv, tp, tn) = tail(r.opLatency.values.map(median))
    val failed = r.failedOps.size
    def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    val e2e = Map(
      "wall_s" -> m(median(passWall), "s"),
      "op_p50_s" -> m(median(r.opLatency.values.flatten), "s"),
      "op_tail_s" -> (m(tv, "s") ++ Map("percentile" -> tp, "samples" -> tn)),
      "setup_s" -> m(sessionS + median(r.genS.zip(r.fixtureS).map { case (g, f) => g + f }) +
        warmupS, "s"),
      "heap_peak_mb" -> m(median(passHeap), "MB"),
      "landed_mb" -> m(median(passLanded), "MB"),
      "fail_frac" -> m(failed.toDouble / r.attempted.max(1), "ratio"))
    val layers =
      if (!a.trace) Map.empty[String, Map[String, Any]]
      else Layers.metrics(r, passIds.toSet, passWall.toSeq, passLanded.toSeq,
        passFiles.toSeq, passGc.toSeq, inputBytes, median(passWall))
        .map { case (k, (v, u)) => k -> m(v, u) }
    val detail = Map(
      "workload" -> a.workload, "seed" -> a.seed, "sf" -> a.sf, "seconds" -> a.seconds,
      "trace" -> a.trace, "passes" -> passWall.size, "pass_wall_s" -> passWall,
      "pass_landed_mb" -> passLanded, "pass_heap_peak_mb" -> passHeap, "pass_gc_s" -> passGc,
      "session_s" -> sessionS, "gen_s" -> r.genS, "fixture_s" -> r.fixtureS,
      "warmup_s" -> warmupS, "input_bytes" -> inputBytes,
      "op_latency_s" -> r.opLatency, "failures" -> r.failures, "checks" -> checks,
      "reference" -> reference)
    val result = Map(
      "correct" -> (failed == 0 && setupOk),
      "attempted" -> r.attempted,
      "failed" -> failed,
      "end_to_end" -> e2e,
      "per_layer" -> layers)
    Files.writeString(a.out.resolve("detail.json"), json(detail))
    if (a.trace) Files.writeString(a.out.resolve("trace.json"), json(Map(
      "spans" -> Layers.allSpans(r, runId, runStart, setupId, setupStart, setupEnd),
      "per_layer" -> layers)))
    Files.writeString(a.out.resolve("result.json"), json(result))
    spark.stop()
  }
}
