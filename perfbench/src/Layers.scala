package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.plans.ModelGraph

/** The span tree of a traced run and the per-layer metrics derived from it.
  *
  * Tree: run → set-up / warm-up / pass → operation (a key, or a
  * `ModelGraph.run`) → phase (build / exec, or a model write) → Spark job
  * → stage. Driver spans come from [[PerfBench.Run.span]]; a job's parent
  * is the innermost driver span that submitted it (a local property), or
  * the model write whose SQL execution it ran; a model write is the extent
  * of the write executions whose output path names the model. */
object Layers {

  final case class Node(id: String, parent: String, name: String, kind: String,
      start: Long, end: Long, op: String)

  /** The timed spans of a pass: the operations and the raw-frame call. */
  val TimedKinds = Set("queries.op", "plans.run", "ecom.raw")

  /** Kinds that are operations: every job must sit under exactly one. */
  val OpKinds = Set("queries.op", "plans.run", "ecom.raw", "ecom.landing", "sources.gen", "fixture",
    "check")

  private def modelOf(path: String): String = {
    val n = Paths.get(path.stripPrefix("file:")).getFileName.toString
    n.stripPrefix(".").stripSuffix(".__replace_tmp")
  }

  final class Tree(r: PerfBench.Run, extra: Seq[PerfBench.Span]) {
    val driver: Map[Long, PerfBench.Span] = (r.allSpans ++ extra).map(s => s.id -> s).toMap
    private val rec = r.rec

    def ancestors(id: Long): List[PerfBench.Span] = driver.get(id) match {
      case Some(s) => s :: ancestors(s.parent)
      case None => Nil
    }
    def opOf(id: Long): Option[PerfBench.Span] =
      ancestors(id).find(s => OpKinds(s.kind))

    val jobs = rec.synchronized(rec.jobs.values.toList)
    val execs = rec.synchronized(rec.execs.toMap)
    val stages = rec.synchronized(rec.stages.toList)

    private def execOf(j: PerfBench.Job): Option[PerfBench.Exec] =
      execs.get(j.exec).map(e => execs.getOrElse(e.root, e))

    /** The driver span a job belongs to: the one its local property names
      * when the job started inside that span; otherwise (a pooled thread
      * created earlier carries a stale property) the innermost driver span
      * it started in — one client issues one operation at a time. */
    val jobSpan: Map[Int, (Long, String)] = jobs.map { j =>
      def startsIn(s: PerfBench.Span) = s.start <= j.start && j.start <= s.end
      j.id -> (driver.get(j.span).filter(startsIn) match {
        case Some(s) => (s.id, "property")
        case None => driver.values.filter(startsIn).toSeq.sortBy(s => (s.end - s.start, -s.id))
          .headOption.map(s => (s.id, "time")).getOrElse((-1L, "none"))
      })
    }.toMap
    def spanOf(j: PerfBench.Job): Long = jobSpan(j.id)._1

    /** Model writes: (run span id, model) -> (start, end, executions). */
    val models: Map[(Long, String), (Long, Long, Seq[Long])] = {
      val m = mutable.Map.empty[(Long, String), (Long, Long, Seq[Long])]
      val byExec = jobs.groupBy(j => execOf(j).map(_.id).getOrElse(-1L))
      execs.values.filter(_.writePath.isDefined).foreach { e =>
        val runSpan = byExec.getOrElse(e.id, Nil).flatMap(j => opOf(spanOf(j)))
          .find(_.kind == "plans.run")
        runSpan.foreach { s =>
          val k = (s.id, modelOf(e.writePath.get))
          val (a, b, xs) = m.getOrElse(k, (Long.MaxValue, Long.MinValue, Nil))
          m(k) = (a.min(e.start), b.max(e.end), xs :+ e.id)
        }
      }
      m.toMap
    }
    private val modelOfExec: Map[Long, (Long, String)] =
      models.flatMap { case (k, (_, _, xs)) => xs.map(_ -> k) }

    def jobParent(j: PerfBench.Job): String =
      execOf(j).flatMap(e => modelOfExec.get(e.id)) match {
        case Some((run, m)) => s"m$run/$m"
        case None => if (driver.contains(spanOf(j))) s"d${spanOf(j)}" else "none"
      }

    def stageJob(s: PerfBench.Stage): Option[PerfBench.Job] =
      jobs.find(j => j.stages.contains(s.id) && j.start <= s.start && s.end <= j.end)

    /** The scheduler stamps a job's end, and its last stage's, after it has
      * released the thread waiting for the job, so a job can end a few ms
      * after the span that submitted it: job and stage ends are clipped to
      * their parent's. */
    def nodes: Seq[Node] = {
      def op(id: Long) = opOf(id).map(s => s"d${s.id}").getOrElse("none")
      val spans = driver.values.toSeq.sortBy(_.id).map(s =>
        Node(s"d${s.id}", if (s.parent == 0) "" else s"d${s.parent}", s.name, s.kind,
          s.start, s.end, op(s.id))) ++
        models.toSeq.map { case ((run, m), (a, b, _)) =>
          Node(s"m$run/$m", s"d$run", m, "plans.model", a, b, s"d$run") }
      def clip(parent: String, end: Long, ends: Map[String, Long]) =
        ends.get(parent).fold(end)(end.min)
      val spanEnd = spans.map(n => n.id -> n.end).toMap
      val jobNodes = jobs.map { j =>
        val parent = jobParent(j)
        Node(s"j${j.id}", parent, s"job ${j.id} (${jobSpan(j.id)._2})", "spark.job",
          j.start, clip(parent, j.end, spanEnd), op(spanOf(j)))
      }
      val jobEnd = jobNodes.map(n => n.id -> n.end).toMap
      spans ++ jobNodes ++ stages.map { s =>
        val parent = stageJob(s).map(j => s"j${j.id}").getOrElse("none")
        Node(s"s${s.id}.${s.attempt}", parent, s"stage ${s.id}", "spark.stage",
          s.start, clip(parent, s.end, jobEnd), stageJob(s).map(j => op(spanOf(j))).getOrElse("none"))
      }
    }
  }

  def allSpans(r: PerfBench.Run, runId: Long, runStart: Long, setupId: Long,
      setupStart: Long, setupEnd: Long): Seq[Node] =
    new Tree(r, Seq(
      PerfBench.Span(runId, 0, "run", "run", runStart, System.currentTimeMillis()),
      PerfBench.Span(setupId, runId, "setup", "setup", setupStart, setupEnd))).nodes

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    xs.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - a.max(cur); cur = b }
      }
    total
  }

  def metrics(r: PerfBench.Run, passIds: Set[Long],
      passWall: Seq[Double], passLanded: Seq[Double], passFiles: Seq[Double], passGc: Seq[Double],
      inputBytes: Long, wallS: Double): Map[String, (Double, String)] = {
    val t = new Tree(r, Nil)
    val n = passWall.size.max(1).toDouble
    def timed(id: Long) = {
      val as = t.ancestors(id)
      as.exists(s => passIds(s.id)) && !as.exists(_.kind == "check")
    }
    val spans = t.driver.values.filter(s => timed(s.id)).toSeq
    def dur(s: PerfBench.Span) = (s.end - s.start) / 1e3
    def kindS(k: String) = spans.filter(_.kind == k).map(dur).sum / n
    val jobs = t.jobs.filter(j => timed(t.spanOf(j)))
    def jobsUnder(k: String) = jobs.count(j => t.ancestors(t.spanOf(j)).exists(_.kind == k)) / n
    val jobIds = jobs.map(_.id).toSet
    val stages = t.stages.filter(s => t.stageJob(s).exists(j => jobIds(j.id)))
    val execIds = jobs.map(_.exec).toSet
    val writes = t.execs.values.filter(e => execIds(e.id) && e.writePath.isDefined)

    // plans: model writes inside the timed ModelGraph.run spans
    val runs = spans.filter(_.kind == "plans.run")
    val models = r.models
    val sources = models.flatMap(_.deps).toSet -- models.map(_.name)
    val level: Map[String, Int] = ModelGraph.levels(models, sources)
      .zipWithIndex.flatMap { case (ms, i) => ms.map(_.name -> i) }.toMap
    val materialized = models.count(_.materialization != ModelGraph.View)
    val perRun = runs.map { run =>
      val ms = t.models.collect { case ((id, m), (s, e, _)) if id == run.id => (m, s, e) }.toSeq
      val byLevel = ms.groupBy { case (m, _, _) => level.getOrElse(m, -1) }.values
      val writeMs = ms.map { case (_, s, e) => e - s }.sum
      val levelMs = byLevel.map(l => l.map(_._3).max - l.map(_._2).min).sum
      val critical = byLevel.map(l => l.map { case (_, s, e) => e - s }.max).sum
      val gap = (run.end - run.start) - covered(ms.map { case (_, s, e) => (s, e) }, run.start, run.end)
      val inc = ms.filter { case (m, _, _) => PerfBench.IncrementalMarts.contains(m) }
        .map { case (_, s, e) => e - s }.sum
      (writeMs, levelMs, critical, gap, inc)
    }
    val planJobs = jobsUnder("plans.run")
    val writeMs = perRun.map(_._1).sum

    // spark: every workload job of the timed passes
    val opSpans = spans.filter(s => TimedKinds(s.kind))
    val opMs = opSpans.map(s => s.end - s.start).sum
    val busyMs = opSpans.map(s => covered(jobs.map(j => (j.start, j.end)), s.start, s.end)).sum
    val taskS = stages.map(_.taskMs).sum / 1e3

    // queries: plan time of the queries the timed exec phases planned
    val execSpans = spans.filter(_.kind == "queries.exec")
    val planS = r.rec.synchronized(r.rec.plans.toList).collect {
      case (s, ms) if execSpans.exists(e => e.start <= s && s <= e.end) => ms
    }.sum / 1e3

    val landedMb = PerfBench.median(passLanded)
    Map(
      "plans.run_s" -> (kindS("plans.run"), "s"),
      "plans.jobs" -> (planJobs, "count"),
      "plans.jobs_per_model" -> (planJobs / materialized, "count"),
      "plans.model_write_s" -> (writeMs / 1e3 / n, "s"),
      "plans.slot_util" -> (if (perRun.isEmpty) 0.0
        else writeMs.toDouble / (perRun.map(_._2).sum * PerfBench.Cores).max(1L), "ratio"),
      "plans.critical_path_s" -> (perRun.map(_._3).sum / 1e3 / n, "s"),
      "plans.driver_gap_s" -> (perRun.map(_._4).sum / 1e3 / n, "s"),
      "plans.incremental_s" -> (perRun.map(_._5).sum / 1e3 / n, "s"),
      "sources.gen_s" -> (PerfBench.median(r.genS), "s"),
      "sources.write_bytes" -> (stages.map(_.outBytes).sum / n, "bytes"),
      "sources.write_rows" -> (stages.map(_.outRows).sum / n, "count"),
      "sources.landed_files" -> (PerfBench.median(passFiles), "count"),
      "sources.write_s" -> (writes.map(e => e.end - e.start).sum / 1e3 / n, "s"),
      "sources.read_bytes" -> (stages.map(_.inBytes).sum / n, "bytes"),
      "sources.landed_bytes" -> (landedMb * 1e6, "bytes"),
      "sources.landed_per_input" -> (landedMb * 1e6 / inputBytes.max(1L), "ratio"),
      "ecom.raw_s" -> (kindS("ecom.raw"), "s"),
      "ecom.landing_s" -> (PerfBench.median(t.driver.values.filter(_.kind == "ecom.landing")
        .map(dur)) match { case d if d.isNaN => 0.0; case d => d }, "s"),
      "queries.build_s" -> (kindS("queries.build"), "s"),
      "queries.build_jobs" -> (jobsUnder("queries.build"), "count"),
      "queries.plan_s" -> (planS / n, "s"),
      "queries.exec_s" -> (kindS("queries.exec"), "s"),
      "queries.exec_jobs" -> (jobsUnder("queries.exec"), "count"),
      "spark.jobs" -> (jobs.size / n, "count"),
      "spark.stages" -> (stages.size / n, "count"),
      "spark.tasks" -> (stages.map(_.tasks).sum / n, "count"),
      "spark.task_s" -> (taskS / n, "s"),
      "spark.slot_util" -> (taskS * 1e3 / (opMs * PerfBench.Cores).max(1L), "ratio"),
      "spark.idle_s" -> ((opMs - busyMs) / 1e3 / n, "s"),
      "spark.shuffle_read_bytes" -> (stages.map(_.shuffleRead).sum / n, "bytes"),
      "spark.shuffle_write_bytes" -> (stages.map(_.shuffleWrite).sum / n, "bytes"),
      "spark.spill_bytes" -> (stages.map(_.spill).sum / n, "bytes"),
      "spark.gc_s" -> (passGc.sum / n, "s"),
      "spark.single_task_stage_s" -> (stages.filter(_.tasks == 1)
        .map(s => s.end - s.start).sum / 1e3 / n, "s"),
      // the traced run's pass wall: minus the untraced wall_s, the overhead
      "trace.wall_s" -> (wallS, "s"))
  }
}

/** Committed expected fingerprints: `{"sf": .., "seeds": {"42": {name: fp}}}`;
  * none when they were recorded at another sf. */
object Expected {
  def load(f: Path, sf: Double): Map[Long, Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(f))
    if (root.path("sf").asDouble() != sf) Map.empty
    else root.path("seeds").fields().asScala.map { e =>
      e.getKey.toLong -> e.getValue.fields().asScala.map(x => x.getKey -> x.getValue.asText()).toMap
    }.toMap
  }
}
