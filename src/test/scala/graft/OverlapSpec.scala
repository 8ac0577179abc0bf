package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.Overlap.Task
import graft.sources.DataGen

/** The one runner of concurrent Spark jobs: its schedule, its failure
  * contract, the local properties its jobs carry, and a source scan that
  * keeps every driver pool in Overlap.scala. */
class OverlapSpec extends SparkSpec {

  test("ready tasks start by priority, ties in input order, each after its deps") {
    val started = new CopyOnWriteArrayList[String]
    def task(name: String, deps: Seq[String] = Nil, priority: Int = 0) =
      Task[Int](name, deps, priority) { done => started.add(name); done.values.sum + 1 }
    val out = Overlap.run("spec:", 1, Seq(
      task("a"), task("b", priority = 2), task("c", Seq("b"), priority = 5),
      task("d"), task("e", Seq("a", "c"))))
    assert(started.asScala.toSeq == Seq("b", "c", "a", "d", "e"))
    assert(out == Map("a" -> 1, "b" -> 1, "c" -> 2, "d" -> 1, "e" -> 4))
    val e = intercept[IllegalArgumentException](Overlap.run("spec:", 2, Seq(task("x", Seq("y")))))
    assert(e.getMessage.contains("never ready (unknown dep or cycle): x"), e.getMessage)
  }

  test("a failing task waits out its siblings' jobs, names itself, carries later failures") {
    import spark.implicits._
    val sc = spark.sparkContext
    val sleepy = udf { (v: Long) => Thread.sleep(1500); v }.asNondeterministic()
    val (inJob, jobEnded) = (new AtomicBoolean, new AtomicBoolean)
    val e = intercept[RuntimeException] {
      Overlap.all[Unit]("spec: fan-out", 2, Seq(
        "sibling" -> { () =>
          inJob.set(true)
          spark.range(0, 2, 1, 2).select(sleepy($"id")).collect()
          jobEnded.set(true)
          throw new IllegalStateException("late")
        },
        "boom" -> { () =>
          val deadline = System.currentTimeMillis() + 30000
          while (!(inJob.get && sc.statusTracker.getActiveJobIds.nonEmpty) &&
              System.currentTimeMillis() < deadline) Thread.sleep(10)
          assert(!jobEnded.get, "the sibling's job ended before the failure")
          throw new IllegalStateException("boom")
        }))
    }
    assert(jobEnded.get, "the call threw before the sibling's job ended")
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a job of the call is still active")
    assert(e.getMessage.startsWith("spec: fan-out boom failed"), e.getMessage)
    assert(e.getCause.getMessage == "boom")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("late"))
  }

  test("every job of a fan-out carries its caller's local properties") {
    val Call = "overlap.spec.call"
    val sc = spark.sparkContext
    val data = DataGen.generateAll(spark, nCustomers = 20, nProducts = 10, seed = 5)
    val dir = Files.createTempDirectory("overlap-props").toString
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).flatMap(p => Option(p.getProperty(Call))).getOrElse("unset"))
    }
    def withCall[A](v: String)(body: => A): A = {
      sc.setLocalProperty(Call, v)
      try body finally sc.setLocalProperty(Call, null)
    }
    /** The value each job of one `writeAll` call carried. The bus delivers
      * in order, so once a fence job arrives every job of the call has. */
    def call(v: String): Seq[String] = {
      seen.clear()
      withCall(v)(DataGen.writeAll(data, s"$dir/$v", "2026-01-01T00:00:00"))
      withCall("fence")(spark.range(1).count())
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains("fence") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.contains("fence"), "the fence job never reached the listener")
      seen.asScala.toSeq.takeWhile(_ != "fence")
    }
    sc.addSparkListener(listener)
    try {
      val (first, second) = (call("1"), call("2"))
      assert(first.size >= data.size && first.forall(_ == "1"), s"first call's jobs: $first")
      assert(second.size >= data.size && second.forall(_ == "2"), s"second call's jobs: $second")
    } finally sc.removeSparkListener(listener)
  }

  test("no driver pool, global context or Future combinator outside Overlap.scala") {
    val banned = Seq("Executors.new", "ExecutorCompletionService", "ExecutionContext.global",
      "Implicits.global", "Future.traverse", "Future.sequence")
    val offenders = MainSources.offenders("graft/Overlap.scala")(line => banned.exists(line.contains))
    assert(offenders.isEmpty,
      s"start concurrent Spark jobs through graft.Overlap:\n${offenders.mkString("\n")}")
  }
}
