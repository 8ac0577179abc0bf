package graft

import graft.streaming.Streams

/** VERDICT r14 #3 — streaming state width derived from source volume.
  * `streamSession` used to pin shuffle.partitions=8 (the r9 measured fix:
  * per-store fixed cost dominated small drains at 32), but 8 was a
  * constant tuned to one corpus, and the checkpoint pins whatever the
  * first run chose. [[Streams.stateWidthFor]] replaces the constant with
  * volume-derived math, graded like SaltedJoin.capacityThreshold: this
  * spec pins the function against the measured anchors (floor at every
  * drain volume the suite grades — see PERF.md r15 width ladder — slope,
  * monotonicity, cap), plus the fence behavior of the a_median state
  * budget that landed the same round.
  */
class StateWidthSpec extends SparkSpec {

  private val MiB = 1L << 20

  test("floor: every graded drain volume derives the r9-measured best width") {
    // measured anchors: driver sf0.1 events = 2 MB (r9: 8 beat 32 by
    // 3.3x), skew1 events = 18 MB, and the r15 skew10 ladder (169 MB)
    // measured flat across 8/11/16/32 — the floor holds through every
    // volume the suite can grade locally
    assert(Streams.stateWidthFor(0L) == Streams.MinStreamStateWidth)
    assert(Streams.stateWidthFor(2 * MiB) == Streams.MinStreamStateWidth)
    assert(Streams.stateWidthFor(18 * MiB) == Streams.MinStreamStateWidth)
  }

  test("slope: one store per StreamStateBytesPerStore beyond the floor") {
    val per = Streams.StreamStateBytesPerStore
    assert(Streams.stateWidthFor(100 * per) == 100)
    assert(Streams.stateWidthFor(100 * per + 1) == 101) // ceil, not floor
    // a 1 TB source must not be served by 8 unboundedly-growing stores
    val tb = Streams.stateWidthFor(1L << 40)
    assert(tb == ((1L << 40) + per - 1) / per,
      s"1 TB derived width $tb must follow the slope")
    assert(tb > Streams.MinStreamStateWidth)
  }

  test("monotone in volume, capped at 2^20 stores") {
    val ladder = Seq(0L, 1 * MiB, 18 * MiB, 169 * MiB, 1L << 30, 1L << 40,
      1L << 47, Long.MaxValue).map(Streams.stateWidthFor)
    assert(ladder == ladder.sorted, s"width must be monotone, got $ladder")
    assert(Streams.stateWidthFor(Long.MaxValue) == (1 << 20))
    // a 100 TB source hits the cap: ~100 MB of source per store, bounded
    assert(Streams.stateWidthFor(100L * (1L << 40)) == (1 << 20))
  }

  test("a_median fence: tiny budget refuses loudly, naming a_median_hist") {
    val s2 = spark.newSession()
    s2.conf.set("graft.maxMedianStateRows", "10")
    val e = intercept[IllegalArgumentException] {
      queries.PipelineQueries.queries("a_median")(s2, sfDir).collect()
    }
    assert(e.getMessage.contains("a_median_hist"),
      s"fence message must name the bounded-state twin: ${e.getMessage}")
    assert(e.getMessage.contains("graft.maxMedianStateRows"),
      s"fence message must name the override knob: ${e.getMessage}")
  }

  test("a_median fence: the default budget passes the test corpus") {
    val rows = queries.PipelineQueries.queries("a_median")(spark, sfDir).collect()
    assert(rows.nonEmpty)
  }
}
