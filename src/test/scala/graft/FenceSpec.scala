package graft

/** The scale-fence policy module: the one compare at its boundary, the
  * override read, the shared refusal wording, and a source scan that keeps
  * every budget key declared in [[Fence]] alone. */
class FenceSpec extends SparkSpec {

  test("the compare admits mass = limit·per and refuses one unit more") {
    assert(Fence.admits(1024L * 7, 1024L, per = 7))
    assert(!Fence.admits(1024L * 7 + 1, 1024L, per = 7))
    assert(Fence.admits(0L, 0L))
    assert(!Fence.admits(1L, 0L))
    // scaled mass: 10·16/9 = 17.78 — a budget of 17 (the truncated scaled
    // mass) must refuse, 18 admits
    assert(!Fence.admits(10L, 17L, num = 16, den = 9))
    assert(Fence.admits(10L, 18L, num = 16, den = 9))
    // at an exact scaled boundary: 9·16/9 = 16
    assert(Fence.admits(9L, 16L, num = 16, den = 9))
    assert(!Fence.admits(9L, 15L, num = 16, den = 9))
    // a deliberately huge override cannot overflow into a refusal
    assert(Fence.admits(Long.MaxValue, Long.MaxValue, per = 1L << 20))
  }

  test("a malformed override names its key") {
    val s2 = spark.newSession()
    s2.conf.set(Fence.BruteForceRows.key, "a-lot")
    val e = intercept[IllegalArgumentException](Fence.BruteForceRows.read(s2))
    assert(e.getMessage.contains("graft.maxBruteForceRows") &&
      e.getMessage.contains("a-lot"), e.getMessage)
  }

  test("a refusal states density, budget, twin and key once") {
    val s2 = spark.newSession()
    s2.conf.set(Fence.BandPairsPerDoc.key, "2")
    Fence.check(s2, Fence.BandPairsPerDoc, "k", 20L, per = 10, unit = "doc")(
      "w", "use the twin", "the exact join")
    val e = intercept[IllegalArgumentException](
      Fence.check(s2, Fence.BandPairsPerDoc, "k", 21L, per = 10, unit = "doc")(
        "band index is saturated", "Use the twin", "the exact join"))
    assert(e.getMessage == "k: band index is saturated (2.10/doc, budget 2/doc). " +
      "Use the twin, or raise graft.maxBandPairsPerDoc to run the exact join " +
      "deliberately.", e.getMessage)
  }

  test("every budget is declared once in Fence, under its own key") {
    val keys = "Budget\\(\"(graft\\.[A-Za-z]+)\"".r
      .findAllMatchIn(MainSources.read(MainSources.root.resolve("graft/Fence.scala")))
      .map(_.group(1)).toList
    assert(keys.size == 10 && keys.distinct == keys, s"budget keys: $keys")
  }

  test("no graft.* conf key or system property is read outside Fence.scala") {
    val confLiteral = "\"graft\\.[a-z]".r
    val offenders = MainSources.offenders("graft/Fence.scala") { line =>
      confLiteral.findFirstIn(line).nonEmpty || line.contains("sys.props")
    }
    assert(offenders.isEmpty,
      s"declare budgets in Fence.scala and read them through Fence:\n${offenders.mkString("\n")}")
  }
}
