package graft

import java.util.concurrent.{ExecutorCompletionService, Executors, TimeUnit}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** The one runner of concurrent Spark jobs on driver threads: the
  * medallion's models (`dbt run --threads`), Verify's keys, the daily
  * ingests and landing writes (the reference DAG's parallel tasks) and
  * paired k-means trainings. Contract of [[run]]:
  *  - each call creates its own fixed pool, so its threads inherit the
  *    caller's Spark local properties and active session; the pool is
  *    shut down and awaited in a `finally`;
  *  - a task starts once its deps (maybe none) have finished; among ready
  *    tasks the highest priority goes first, ties in input order;
  *  - when a task throws, no task starts after it, running tasks finish,
  *    then the call throws an exception that names the failed task and
  *    carries its cause (later failures ride along as suppressed);
  *  - no Spark job of the call is active once the call returns or throws.
  */
object Overlap {

  /** A unit of work named `name`: `body` receives the results of `deps`. */
  final case class Task[R](name: String, deps: Seq[String] = Nil, priority: Int = 0)(
      val body: Map[String, R] => R)

  /** Runs `tasks` on `width` threads under the contract above; returns
    * each task's result by name. The failure message reads
    * "`label` <task> failed: <cause>". */
  def run[R](label: String, width: Int, tasks: Seq[Task[R]]): Map[String, R] = {
    require(tasks.map(_.name).distinct.size == tasks.size, s"$label: duplicate task names")
    val threads = math.max(1, width)
    val done = mutable.Map.empty[String, R]
    val pool = Executors.newFixedThreadPool(threads)
    val finished = new ExecutorCompletionService[(Task[R], Try[R])](pool)
    var waiting = tasks // not started yet, in input order
    var running = 0
    var failure: Option[Throwable] = None
    def startReady(): Unit = {
      val ready = waiting.filter(_.deps.forall(done.contains)).sortBy(-_.priority)
      ready.take(threads - running).foreach { t =>
        waiting = waiting.filterNot(_ eq t)
        val deps = t.deps.map(d => d -> done(d)).toMap
        finished.submit(() => t -> Try(t.body(deps)))
        running += 1
      }
    }
    try {
      startReady()
      while (running > 0) {
        val (t, result) = finished.take().get()
        running -= 1
        result match {
          case Success(r) =>
            done(t.name) = r
            if (failure.isEmpty) startReady()
          case Failure(e) if failure.nonEmpty => failure.get.addSuppressed(e)
          case Failure(e) => failure = Some(new RuntimeException(s"$label ${t.name} failed: $e", e))
        }
      }
      failure.foreach(throw _)
      require(waiting.isEmpty,
        s"$label: never ready (unknown dep or cycle): ${waiting.map(_.name).mkString(", ")}")
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
    done.toMap
  }

  /** Independent tasks, one thread each up to `width`; results in input order. */
  def all[R](label: String, width: Int, tasks: Seq[(String, () => R)]): Seq[R] = {
    val done = run(label, width, tasks.map { case (n, f) => Task[R](n)(_ => f()) })
    tasks.map { case (n, _) => done(n) }
  }

  /** Two independent tasks on two threads. */
  def both[A, B](label: String, a: (String, () => A), b: (String, () => B)): (A, B) = {
    val r = all[Any](label, 2, Seq(a, b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
