package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

import graft.ecom.{Ecom, EcomFixture}
import graft.plans.ModelGraph

/** A repeated medallion build reuses the classes the first build compiled:
  * the generated-class cache holds a whole run's working set
  * ([[GraftSession]]). With Spark's default of 100 entries the second build
  * recompiled ~340 classes, a pass ~30% longer at sf0.01. */
class CodegenCacheSpec extends SparkSpec {

  /** Classes a steady build may still compile: the few multi-`countDistinct`
    * stages whose generated source differs from run to run (measured 6–30
    * at sf0.001–0.01; ROADMAP item 3). */
  private val MaxRecompiles = 60

  private def build(): Unit =
    ModelGraph.run(spark, Ecom.models(EcomFixture.now, EcomFixture.today),
      EcomFixture.raw(spark, sfDir), Files.createTempDirectory("codegen-cache").toString)

  test("the session's generated-class cache is sized for a whole run") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a repeated medallion build compiles (almost) nothing") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    build()
    val before = compiles.getCount
    build()
    val recompiled = compiles.getCount - before
    assert(recompiled <= MaxRecompiles,
      s"the second build compiled $recompiled classes (at most $MaxRecompiles expected)")
  }
}
