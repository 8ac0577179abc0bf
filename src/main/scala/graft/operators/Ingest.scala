package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.sources.Sources

/** The incremental-ingest pipeline — the reference's `IncrementalETL`
  * re-expressed as a composition of distributed transforms
  * (ref: ingest_latest_synthetic_data.py:787-844 run_etl; transform_data
  * at :196-244; type coercion :392-423).
  *
  * Every step is a narrow projection except the PK dedup (one shuffle on
  * the key) and the upsert anti-join (broadcast when updates are small —
  * the daily-increment case). No driver-side rows.
  */
object Ingest {

  /** Lineage metadata columns added to every ingested table
    * (ref: 0_ingest_historic_synthetic_data.py:121-123). `loadedAt` and
    * `batchId` are injected, not wall-clock — deterministic replays
    * (SURVEY §7.4 #3). */
  def withLineage(df: DataFrame, dataSource: String, batchId: String,
      loadedAt: java.sql.Timestamp): DataFrame =
    df.withColumn("DATA_SOURCE", lit(dataSource))
      .withColumn("BATCH_ID", lit(batchId))
      .withColumn("LOADED_AT", lit(loadedAt))

  /** Declarative per-column coercion: (name → target type), applied only
    * where the column exists; `*_ID` columns forced to string — the
    * reference's get_duck_type rule (ingest_latest:427-429). Casts are
    * try-cast-like (null on failure, non-ANSI). */
  def coerce(df: DataFrame, types: Map[String, DataType]): DataFrame = {
    val out = df.columns.map { c =>
      types.get(c)
        .map(t => col(c).cast(t).as(c))
        .orElse(if (c.toUpperCase.endsWith("_ID")) Some(col(c).cast("string").as(c)) else None)
        .getOrElse(col(c))
    }
    df.select(out.toIndexedSeq: _*)
  }

  /** Full normalize: uppercase names → lineage → coercions
    * (transform_data parity). */
  def normalize(df: DataFrame, dataSource: String, batchId: String,
      loadedAt: java.sql.Timestamp, types: Map[String, DataType]): DataFrame =
    coerce(withLineage(Sources.upperColumns(df), dataSource, batchId, loadedAt), types)

  /** Align + combine historic and latest parts: pandas concat parity —
    * missing columns null-filled (ingest_latest:811-821). */
  def combineParts(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_.unionByName(_, allowMissingColumns = true))

  /** End-to-end ingest of one table increment into a parquet target:
    * combine → keep-latest-per-PK → keyed upsert. */
  def ingest(target: String, parts: Seq[DataFrame], pks: Seq[String],
      orderDesc: Seq[Column]): Unit = {
    val combined = combineParts(parts)
    val deduped = DedupLatest(combined, pks, orderDesc)
    Upsert.intoParquet(target, deduped, pks)
  }
}
