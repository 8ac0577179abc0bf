package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A key whose dump
  * throws fails the run: every other output is still written, then the
  * failed keys are listed on stderr and the exit code is 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    // A space-separated key list would silently verify only args(2) and
    // leave the rest looking like missing outputs — refuse loudly.
    require(args.length <= 3,
      s"usage: Verify <sfDir> <outDir> [comma,separated,keys] — got " +
        s"${args.length} args (join key lists with commas, not spaces)")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names (fast local iteration);
    // unknown names are refused before the session starts.
    val only: Option[Set[String]] = args.lift(2).map(SparkEntry.select(_).toSet)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Independent queries overlap their stages on Overlap (~3x vs
    // sequential). Width follows the cores (VERDICT r15 #6): queries plan
    // on the driver before their tasks fan out. Floor 4 overlaps I/O with
    // compute on small boxes; cap 16 bounds concurrent result buffers.
    // Each task catches its own key's failure.
    val width = math.min(math.max(spark.sparkContext.defaultParallelism, 4), 16)
    val failed = Overlap.all("Verify: key", width, selected.toSeq.map { case (name, fn) =>
      name -> { () =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    }).flatten.sorted
    writeOracleSql(outDir, only)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.length} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes `<outDir>/oracle_sql.json`, the DuckDB replay of every key.
    * With a key subset (`only`), entries already in the file for other
    * keys are kept. */
  private[graft] def writeOracleSql(outDir: String, only: Option[Set[String]]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Subset re-runs must NOT repoint un-run keys' oracle SQL: the e2e
    // key's SQL embeds its per-process landing root, so pairing a stale
    // dump with a fresh root breaks the replay. Keep the existing entry
    // for any key not in this run's subset.
    val prior: Map[String, String] = only match {
      case Some(_) if Files.exists(Paths.get(s"$outDir/oracle_sql.json")) =>
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        JsonMethods.parse(Files.readString(Paths.get(s"$outDir/oracle_sql.json")))
          .asInstanceOf[JObject].obj.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
    val merged = prior ++ SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) } ++
      SparkEntry.oracleSql.filter { case (k, _) => !prior.contains(k) }
    val json = merged
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
