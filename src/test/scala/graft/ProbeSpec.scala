package graft

import java.nio.file.{Files, Paths}

import graft.operators.Sync

/** Each `graft.Probe` mode on one cheap key, on the shared session. */
class ProbeSpec extends SparkSpec {
  private val key = "j10_star_revenue"
  private def df = SparkEntry.queries(key)(spark, sfDir)

  test("plan writes a non-empty formatted plan per key") {
    val out = Files.createTempDirectory("probe-plan").toString
    val Seq(file) = Probe.plan(spark, sfDir, Seq(key), out, "t")
    assert(file.getFileName.toString == s"${key}_t.txt")
    assert(Files.size(file) > 0)
  }

  test("dump writes multi-part parquet with the key's row count, and its oracle SQL") {
    val out = Files.createTempDirectory("probe-dump").toString
    Probe.dump(spark, sfDir, Seq(key), out)
    assert(spark.read.parquet(s"$out/$key").count() == df.count())
    assert(Files.readString(Paths.get(out, "oracle_sql.json")).contains(s"\"$key\""))
  }

  test("countplan reports ok or PRUNED for the key") {
    val Seq(line) = Probe.countplan(spark, sfDir, Seq(key))
    assert(line.startsWith("ok") || line.startsWith("PRUNED"), line)
    assert(line.contains(key))
  }

  test("stages records the timed pass's stages") {
    val Seq(t) = Probe.stages(spark, sfDir, Seq(key))
    assert(t.key == key && t.sec > 0)
    assert(t.stages.nonEmpty)
    // the pass splits into the key's build and its exec, each with the
    // jobs it started; this key builds lazily and executes in jobs
    assert(t.sec == t.build.sec + t.exec.sec)
    assert(t.build.jobs == 0, s"j10_star_revenue's build ran ${t.build.jobs} jobs")
    assert(t.exec.jobs > 0 && t.exec.sec > 0)
    // the warm-up pass compiled the key's classes; the timed pass reuses them
    assert(t.compiled <= 2, s"timed pass compiled ${t.compiled} classes")
    assert(t.compileSec == 0 || t.compiled > 0)
  }

  test("pressure's fingerprint equals Sync.fingerprint of the same key") {
    val Seq(p) = Probe.pressure(spark, sfDir, Seq(key))
    assert(p.key == key)
    assert(p.fingerprint.contains(Sync.fingerprint(df)))
  }

  test("the key selector refuses unknown keys, naming them") {
    val e = intercept[IllegalArgumentException](SparkEntry.select(s"nope,$key"))
    assert(e.getMessage.contains("nope"))
    assert(!e.getMessage.contains(key))
    assert(SparkEntry.select(key) == Seq(key))
    assert(SparkEntry.select("ALL") == SparkEntry.queries.keys.toSeq.sorted)
  }
}
