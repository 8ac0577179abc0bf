package graft

/** Benchmark main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR
  * and prints one JSON line with per-query wall seconds. A first warm-up
  * query initializes the session/codegen so timings reflect execution, not
  * JVM startup. */
object Bench {
  /** The timed terminal: a full-plan noop write, NOT count(). A bare
    * count() lets Catalyst prune everything cardinality-preserving that
    * the count doesn't need — unique-key left joins, windows, generates,
    * whole aggregate subtrees (measured by `graft.Probe countplan`: 38 of
    * 175 keys lost operators, text_lm_score lost its entire LM join) — so a
    * count-driven benchmark was timing a DIFFERENT, lighter query. The
    * noop sink executes the declared plan with every output column
    * (including the deterministic output sort the oracle gate also pays)
    * and discards rows at the executors. */
  def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Runs `body`; a failure is reported on stderr, never swallowed. */
  private def attempt(label: String)(body: => Unit): Boolean =
    try { body; true }
    catch { case e: Throwable =>
      System.err.println(s"[bench] $label FAILED: ${e.getClass.getName}: ${e.getMessage}")
      false
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional local-iteration filter: SPARK_GRAFT_BENCH_ONLY=q1,q2 times
    // just those queries (the driver never sets it — full run). Unknown
    // names are refused here, before the session starts.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(SparkEntry.select(_).toSet)
    val spark = GraftSession.local()
    // Warm-up pass: run every query once untimed. This amortizes one-time
    // costs that are not query throughput — Janino whole-stage-codegen
    // compilation, JIT warm-up, parquet footer caching. The timed pass then
    // measures steady-state execution, which is what scales with data size.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    ordered.foreach { case (name, fn) =>
      val w0 = System.nanoTime()
      attempt(s"warmup $name")(exec(fn(spark, sfDir)))
      System.err.println(f"[bench] warmup $name ${(System.nanoTime() - w0) / 1e9}%.1fs")
      spark.catalog.clearCache()
      // Reclaim the key's shuffle files NOW: ContextCleaner deletes them
      // only after their ShuffleDependency objects are GC'd, and a 48 GiB
      // heap can run a whole rung without a single full GC — measured on
      // the skew100 rung: 24 GiB of dead shuffle files from completed keys
      // accumulated in one blockmgr dir and ENOSPC'd the box mid-warmup.
      // On a cluster each executor's shuffle dirs have the same lifetime
      // problem at 1000x the volume; forcing the collection at key
      // boundaries (outside any timed region) bounds disk to the single
      // largest key instead of the sum of all keys.
      System.gc()
    }
    // A failing query must be visible as a FAILURE, not recorded as a
    // (typically tiny) timing that silently improves the total: emit null
    // for it in the JSON and exit nonzero.
    //
    // Two timed passes, minimum per query: the metric is the engine's
    // steady-state cost, and the min discards interference from whatever
    // else the host is running during one pass (measured: a co-located
    // CPU-heavy process inflated a 0.8s query to 31s in a single-pass run).
    // Cache hygiene: operators that persist intermediates (e.g. connected
    // components' label generations) would otherwise accumulate
    // MEMORY_AND_DISK blocks across warmup + two timed passes. Clearing
    // between queries (outside the timed region) keeps every query's
    // timing independent of what ran before it.
    def timedPass(): Seq[(String, Double, Boolean)] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = attempt(name)(exec(fn(spark, sfDir)))
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] timed $name $t%.1fs")
      spark.catalog.clearCache()
      System.gc() // see warmup loop: bound shuffle-file disk per key
      (name, t, ok)
    }
    val results = timedPass().zip(timedPass()).map { case ((n, t1, ok1), (_, t2, ok2)) =>
      (n, math.min(t1, t2), ok1 && ok2)
    }
    val qs = results.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) v.toString else "null")
    }.mkString("{", ",", "}")
    val failed = results.filterNot(_._3).map(_._1)
    val total = results.filter(_._3).map(_._2).sum
    // Protocol stamp (VERDICT r11 #8): single-key and batched runs of the
    // same code differ up to 2× at small scales (JVM/JIT variance), so
    // ladders are only comparable within one protocol. The steady-state
    // rule this main implements — one JVM per scale, ALL keys, warm-up
    // pass, min of two timed passes — is stamped into every emitted line;
    // a SPARK_GRAFT_BENCH_ONLY subset is stamped as such so a partial run
    // can never be mistaken for (or compared against) a full ladder.
    val protocol =
      if (only.isDefined) "subset-1jvm-min2(NOT comparable to full runs)"
      else "1jvm-allkeys-warmup-min2"
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","failed":${failed.length},"protocol":"$protocol"}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.length} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
