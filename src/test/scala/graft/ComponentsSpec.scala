package graft

import graft.operators.Components

class ComponentsSpec extends SparkSpec {

  test("connected components labels chains and separate clusters") {
    import spark.implicits._
    // path 1-2-3-4-5 (diameter 4, needs several propagation rounds)
    // plus a separate pair 10-11 and a triangle 20-21-22
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val got = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("edge direction does not matter") {
    import spark.implicits._
    val got = Components.connectedComponents(
        Seq((7L, 3L), (3L, 9L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 3L, 7L -> 3L, 9L -> 3L))
  }

  test("pointer jumping converges a diameter-255 chain in O(log d) rounds") {
    import spark.implicits._
    val chain = (1L until 256L).map(i => (i, i + 1)).toDF("src", "dst")
    // plain min-label propagation needs ~255 rounds; label doubling closes
    // a 2^k-hop chain in ~k+slack. maxIterations=12 FAILS LOUDLY if the
    // operator ever regresses to linear rounds.
    val scratch = java.nio.file.Files.createTempDirectory("cc_chain").toString
    val got = Components.connectedComponents(chain, maxIterations = 12,
      scratchDir = Some(scratch)).as[(Long, Long)].collect()
    assert(got.length == 256 && got.forall(_._2 == 1L))
    // cleanup contract: only the final labeling's files outlive the call
    val left = new java.io.File(scratch).listFiles().map(_.getName).toSet
    assert(left == Set("components"), s"stale spills left behind: $left")
  }

  test("non-convergence throws loudly and still cleans its spills") {
    import spark.implicits._
    val chain = (1L until 256L).map(i => (i, i + 1)).toDF("src", "dst")
    val scratch = java.nio.file.Files.createTempDirectory("cc_fail").toString
    intercept[IllegalStateException] {
      Components.connectedComponents(chain, maxIterations = 2,
        scratchDir = Some(scratch))
    }
    val left = new java.io.File(scratch).listFiles().map(_.getName).toSet
    assert(left.isEmpty, s"failed run left spills behind: $left")
  }

  test("a second call into the same scratch dir replaces the labeling") {
    import spark.implicits._
    // the result is published by renaming the converged generation onto
    // `components`; renaming onto an existing directory would nest it
    // there, and the first call's labeling would survive as the result
    val scratch = java.nio.file.Files.createTempDirectory("cc_reuse").toString
    def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Components.connectedComponents(edges.toDF("src", "dst"),
        scratchDir = Some(scratch)).as[(Long, Long)].collect().toMap
    assert(run(Seq((1L, 2L), (2L, 3L))) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(run(Seq((5L, 6L), (7L, 8L), (8L, 9L))) ==
      Map(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
    val left = new java.io.File(scratch).listFiles().map(_.getName).toSet
    assert(left == Set("components"), s"stale spills left behind: $left")
    val nested = new java.io.File(s"$scratch/components").listFiles().filter(_.isDirectory)
    assert(nested.isEmpty, s"components holds directories: ${nested.map(_.getName).toSeq}")
  }

  test("operator releases every cached block before returning (ADVICE r3)") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cc = Components.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
    assert(cc.count() == 5)
    // unpersist(blocking=false) is async — bound the wait, don't race it
    val deadline = System.currentTimeMillis() + 10000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"components left cached RDDs behind: $leaked")
  }
}
