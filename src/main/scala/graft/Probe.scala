package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Sync

/** The measurement CLI: one session, one key selector, one listener, five
  * modes over the named query keys.
  *
  *  - `stages`: an untimed warm-up pass, then one timed pass, printing
  *    its wall seconds split into the build (`SparkEntry.queries(k)`, where
  *    the eager checkpoint, spill and training jobs run) and the exec
  *    ([[Bench.exec]]) phase with the Spark jobs each started, the classes
  *    Janino compiled during it and their compile seconds (a warm pass
  *    should compile next to nothing, see [[GraftSession]]), then one line
  *    per stage of the timed pass (tasks, input / shuffle / spill bytes,
  *    cpu and GC seconds, call site). The UI is disabled, so the listener
  *    stands in for its Stages tab and attributes a key's wall time to operators.
  *  - `plan`: writes `<outDir>/<key>_<tag>.txt`, the full formatted plan (the
  *    layout of the before/after evidence under `plans/`). Building the
  *    DataFrame still runs the key's eager jobs, so the plan is the one the
  *    bench executes.
  *  - `countplan`: compares the operators a bare `count()` keeps against
  *    the full plan. `PRUNED` means a count-driven measurement would time a
  *    lighter query than the bench does (see [[Bench.exec]]).
  *  - `pressure`: one JSON line per key with spill bytes, peak task
  *    execution memory and the [[Sync.fingerprint]] of the output, so a run
  *    under a small heap (`SPARK_DRIVER_MEM`, or
  *    `SPARK_GRAFT_CONF="spark.memory.fraction=0.2"` to force the spill
  *    paths) hash-compares against a roomy run on the same corpus.
  *  - `dump`: multi-part parquet per key under `<outDir>` (no coalesce, so
  *    outputs of tens of millions of rows write at full parallelism) plus
  *    `oracle_sql.json`: what `tools/fingerprint_check.py` grades.
  *
  * Usage: runMain graft.Probe <mode> <sfDir> <keys|ALL> [outDir [tag]]
  */
object Probe {
  private val Usage =
    "usage: Probe <stages|plan|countplan|pressure|dump> <sfDir> <keys|ALL> [outDir [tag]]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 5, Usage)
    val Array(mode, sfDir, csv) = args.take(3)
    val keys = SparkEntry.select(csv)
    def arg(i: Int, name: String): String = args.lift(i).getOrElse(
      throw new IllegalArgumentException(s"$mode needs <$name>; $Usage"))
    val run: SparkSession => Unit = mode match {
      case "stages" => stages(_, sfDir, keys)
      case "plan" =>
        val (outDir, tag) = (arg(3, "outDir"), arg(4, "tag"))
        plan(_, sfDir, keys, outDir, tag)
      case "countplan" => countplan(_, sfDir, keys)
      case "pressure" => pressure(_, sfDir, keys)
      case "dump" =>
        val outDir = arg(3, "outDir")
        dump(_, sfDir, keys, outDir)
      case _ => throw new IllegalArgumentException(s"unknown mode '$mode'; $Usage")
    }
    val spark = GraftSession.local()
    try run(spark) finally spark.stop()
  }

  final case class Stage(id: Int, name: String, wall: Double, tasks: Int, input: Long,
      shufRead: Long, shufWrite: Long, spill: Long, cpu: Double, gc: Double, run: Double)

  /** One phase of a timed pass: its seconds and the Spark jobs it started. */
  final case class Phase(sec: Double, jobs: Int)

  /** One key's `stages` record: the timed pass's seconds, its build and
    * exec phases, the classes compiled during it and their compile
    * seconds, and its stages. */
  final case class Timed(key: String, sec: Double, build: Phase, exec: Phase,
      compiled: Long, compileSec: Double, stages: Vector[Stage])

  /** Spill and peak task execution memory over one key's tasks. */
  final case class Memory(memSpill: Long, diskSpill: Long, peakExec: Long)

  /** The listener `stages` and `pressure` read: job start times, completed
    * stages and task-level memory counters since the last [[reset]]. */
  final class Recorder extends SparkListener {
    private val jobStarts = mutable.ArrayBuffer.empty[Long]
    private val done = mutable.ArrayBuffer.empty[Stage]
    private var memory = Memory(0, 0, 0)
    private var events = 0L

    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobStarts += j.time; events += 1 }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val stage = Stage(si.stageId, si.name,
        (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3,
        si.numTasks, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.executorCpuTime / 1e9, m.jvmGCTime / 1e3, m.executorRunTime / 1e3)
      synchronized { done += stage; events += 1 }
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) memory = Memory(memory.memSpill + m.memoryBytesSpilled,
        memory.diskSpill + m.diskBytesSpilled,
        math.max(memory.peakExec, m.peakExecutionMemory))
      events += 1
    }

    def reset(): Unit = synchronized { jobStarts.clear(); done.clear(); memory = Memory(0, 0, 0) }
    /** Jobs submitted in [from, until), epoch ms (the clock Spark stamps
      * its events with). */
    def jobsIn(from: Long, until: Long): Int =
      synchronized(jobStarts.count(t => t >= from && t < until))
    def stages: Vector[Stage] = synchronized(done.toVector)
    def mem: Memory = synchronized(memory)

    /** Waits until the listener bus has delivered the jobs that ran: the
      * event count is unchanged over three polls, 10 s at most, so events
      * of one pass never leak into the next one's snapshot. */
    def drain(): Unit = {
      var (last, stable) = (-1L, 0)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = synchronized(events)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    }
  }

  /** Runs `f` with a [[Recorder]] attached to the session's listener bus. */
  private def recording[A](spark: SparkSession)(f: Recorder => A): A = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try f(rec) finally spark.sparkContext.removeSparkListener(rec)
  }

  /** Seconds `body` takes, with its result. */
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Drops what a key cached and collects its dead shuffle files, outside
    * any timed region, so each key starts from the same state. */
  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  private def query(spark: SparkSession, sfDir: String, key: String): DataFrame =
    SparkEntry.queries(key)(spark, sfDir)

  /** Janino compiles so far in this JVM and their nanoseconds; the
    * counters are JVM-global and only grow. */
  private def compiles(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Per key: the timed pass's seconds, compiles and completed stages. */
  def stages(spark: SparkSession, sfDir: String, keys: Seq[String])
      : Seq[Timed] = recording(spark) { rec =>
    def mb(b: Long): String = f"${b / 1048576.0}%8.1f"
    keys.map { k =>
      Bench.exec(query(spark, sfDir, k)) // warm-up: codegen, JIT, footers
      settle(spark)
      rec.drain()
      rec.reset()
      val (n0, ns0) = compiles()
      val t0 = System.currentTimeMillis()
      val (df, buildSec) = timed(query(spark, sfDir, k))
      val t1 = System.currentTimeMillis()
      val (_, execSec) = timed(Bench.exec(df))
      val t2 = System.currentTimeMillis()
      val (n1, ns1) = compiles()
      rec.drain()
      val snap = rec.stages
      val (build, exec) = (Phase(buildSec, rec.jobsIn(t0, t1)), Phase(execSec, rec.jobsIn(t1, t2 + 1)))
      settle(spark)
      val t = Timed(k, buildSec + execSec, build, exec, n1 - n0, (ns1 - ns0) / 1e9, snap)
      println(f"== $k: ${t.sec}%.2f s (build ${build.sec}%.2f s, ${build.jobs} jobs; "
        + f"exec ${exec.sec}%.2f s, ${exec.jobs} jobs), ${snap.size} stages, "
        + f"${t.compiled} classes compiled in ${t.compileSec}%.2f s "
        + f"(Σ stage wall ${snap.map(_.wall).sum}%.2f s — overlap makes this > key wall)")
      println("   wall  tasks  input_MB  shuf_r_MB  shuf_w_MB  spill_MB   cpu_s    gc_s   run_s  stage")
      snap.sortBy(-_.wall).take(40).foreach { s =>
        println(f"  ${s.wall}%5.2f  ${s.tasks}%5d  ${mb(s.input)}  ${mb(s.shufRead)}   "
          + f"${mb(s.shufWrite)}  ${mb(s.spill)}  ${s.cpu}%6.2f  ${s.gc}%6.2f  ${s.run}%6.2f  [${s.id}] ${s.name.take(80)}")
      }
      t
    }
  }

  /** Writes each key's formatted plan in full; returns the files written.
    * The session's plan-string cut ([[GraftSession]]) is lifted while the
    * plan is formatted: it falls where the raw expression-id digits put it,
    * so two runs of one plan would cut it at different places. The dump is
    * a diagnostic outside every timed region. */
  def plan(spark: SparkSession, sfDir: String, keys: Seq[String],
      outDir: String, tag: String): Seq[Path] = {
    Files.createDirectories(Paths.get(outDir))
    keys.map { k =>
      val qe = query(spark, sfDir, k).queryExecution
      val cut = spark.conf.get(MaxPlanString)
      spark.conf.unset(MaxPlanString) // Spark's default: no practical cut
      val text = try qe.explainString(FormattedMode) finally spark.conf.set(MaxPlanString, cut)
      val file = Files.writeString(Paths.get(outDir, s"${k}_$tag.txt"), text)
      println(s"[plan] wrote $file (${text.length} chars)")
      settle(spark)
      file
    }
  }

  private val MaxPlanString = "spark.sql.maxPlanStringLength"

  private def operators(plan: LogicalPlan): Map[String, Int] =
    plan.collect { case n => n.nodeName }.groupBy(identity).view.mapValues(_.size).toMap

  /** Per key, the line printed: `ok`, `PRUNED` with the operators a bare
    * count() loses, or `skip` with the exception the key threw. */
  def countplan(spark: SparkSession, sfDir: String, keys: Seq[String]): Seq[String] =
    keys.map { k =>
      val line =
        try {
          val df = query(spark, sfDir, k)
          val full = operators(df.queryExecution.optimizedPlan)
          val counted = operators(df.groupBy().count().queryExecution.optimizedPlan)
          val lost = for {
            op <- Seq("Join", "Aggregate", "Window", "Generate", "CollectMetrics")
            f = full.getOrElse(op, 0)
            c = counted.getOrElse(op, 0) - (if (op == "Aggregate") 1 else 0)
            if c < f
          } yield s"$op $f->${math.max(c, 0)}"
          if (lost.nonEmpty) s"PRUNED $k: ${lost.mkString(", ")}" else s"ok     $k"
        } catch { case e: Exception => s"skip   $k: ${e.getClass.getSimpleName}" }
      println(line)
      settle(spark)
      line
    }

  final case class Pressure(key: String, sec: Double, mem: Memory,
      fingerprint: Option[Sync.Fingerprint])

  /** Per key: fingerprint (None when the key failed) and memory counters. */
  def pressure(spark: SparkSession, sfDir: String, keys: Seq[String])
      : Seq[Pressure] = recording(spark) { rec =>
    val heap = Runtime.getRuntime.maxMemory()
    keys.map { k =>
      rec.reset()
      val (fp, sec) = timed {
        try Some(Sync.fingerprint(query(spark, sfDir, k)))
        catch {
          // A VM error (OOM, stack overflow) taints every later key's
          // counters: abort, and probe one key per JVM when hunting the
          // OOM floor. Other failures are per key and reported.
          case e: VirtualMachineError =>
            System.err.println(s"[pressure] $k FATAL: ${e.getClass.getSimpleName}, aborting run")
            throw e
          case e: Exception =>
            System.err.println(s"[pressure] $k FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }
      rec.drain()
      val p = Pressure(k, sec, rec.mem, fp)
      settle(spark)
      println(s"""{"probe":"pressure","key":"$k","ok":${fp.isDefined},"sec":$sec,""" +
        s""""heap_bytes":$heap,"mem_spill":${p.mem.memSpill},"disk_spill":${p.mem.diskSpill},""" +
        s""""peak_exec_mem":${p.mem.peakExec},"rows":${fp.fold(-1L)(_.rows)},""" +
        s""""xor":${fp.fold(0L)(_.xor)},"sum":"${fp.fold("")(_.sum.toString)}"}""")
      p
    }
  }

  /** Writes each key's output as multi-part parquet at `<outDir>/<key>`,
    * then the keys' oracle SQL into `<outDir>/oracle_sql.json`. */
  def dump(spark: SparkSession, sfDir: String, keys: Seq[String], outDir: String): Unit = {
    keys.foreach { k =>
      val (_, sec) = timed(query(spark, sfDir, k).write.mode("overwrite").parquet(s"$outDir/$k"))
      System.err.println(f"[dump] $k $sec%.1fs")
      settle(spark)
    }
    Verify.writeOracleSql(outDir, Some(keys.toSet))
  }
}
