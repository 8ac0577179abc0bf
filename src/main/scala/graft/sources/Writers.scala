package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks — SURVEY.md §2.1 S4-S5: header CSV and the CSV+JSON-metadata pair
  * the reference persists per ingested table
  * (ref: 0_ingest_historic_synthetic_data.py:173-202,270-285).
  */
object Writers {

  /** S4: header CSV. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S6: JDBC sink — roundtrip-proven against embedded Derby
    * (SourcesSpec); live endpoints are a deployment concern (SURVEY §7.5).
    * Batched, optionally repartitioned to bound connection count. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      maxConnections: Int = 8): Unit =
    (if (df.rdd.getNumPartitions > maxConnections)
       df.coalesce(maxConnections) else df)
      .write.mode(SaveMode.Overwrite)
      .option("batchsize", "10000")
      .jdbc(url, table, new java.util.Properties)

  /** Envelope-JSON writer — the generator's output document shape
    * (`{"metadata": {...}, "data": [...]}`,
    * 0_generate_historic_synthetic_data.py:434-447). The envelope is a
    * SINGLE document per table, so this is inherently a small-table sink
    * (reference tables are ≤ tens of MB); `maxRows` guards against
    * accidentally collecting a fact table. */
  def writeJsonEnvelope(df: DataFrame, table: String, path: String,
      generatedAt: String, maxRows: Long = 1000000): Unit = {
    // ONE job, guard intact: collect at most maxRows+1 serialized rows —
    // overflow still fails loudly before any write, without the separate
    // count() pass this sink used to pay per envelope (a composed daily
    // loop writes several envelopes, so the job count shows up in wall).
    val limit = (math.min(maxRows, Int.MaxValue - 1L) + 1).toInt
    val rows = df.toJSON.limit(limit).collect()
    require(rows.length <= maxRows,
      s"envelope sink is for small tables; $table has more than $maxRows rows")
    val n = rows.length
    val records = rows.mkString(",\n    ")
    val doc =
      s"""{"metadata": {"table": "$table", "recordCount": $n,
         |              "generatedAt": "$generatedAt", "version": "1.0"},
         | "data": [
         |    $records
         | ]}""".stripMargin
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), doc)
  }

  /** S5: data + sidecar metadata JSON (row count, column names/types, and
    * the min of a date column if given) — the reference's per-table ingest
    * manifest. Count and min compute in ONE distributed aggregate pass;
    * only the 1-row summary reaches the driver. */
  def writeCsvWithMetadata(df: DataFrame, path: String,
      metadataPath: String, minDateColumn: Option[String] = None): Unit = {
    writeCsv(df, path)
    val aggs = count(lit(1)).as("n") +:
      minDateColumn.map(c => min(col(c)).cast("string").as("min_date")).toSeq
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    val minDate = minDateColumn.map(_ => Option(row.getString(1)).getOrElse(""))
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val cols = df.schema.fields
      .map(f => s"{${q(f.name)}: ${q(f.dataType.simpleString)}}")
      .mkString("[", ",", "]")
    val json = s"""{"record_count": $n, "columns": $cols""" +
      minDate.map(d => s""", "min_date": ${q(d)}""").getOrElse("") + "}"
    Files.createDirectories(Paths.get(metadataPath).getParent)
    Files.writeString(Paths.get(metadataPath), json)
  }
}
