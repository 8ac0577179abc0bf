package graft.operators

import org.apache.spark.sql.DataFrame

import graft.sources.ParquetFormat

/** Keyed delete-then-insert upsert — the reference's signature stateful op
  * (ingest_latest_synthetic_data.py:505-589 local, :610-703 MotherDuck).
  *
  * Logical form: target ⟕anti updates ∪ updates. On plain parquet the write
  * is temp-dir + atomic rename (no MERGE primitive); on Delta/Iceberg the
  * same plan maps to MERGE. Updates are assumed already deduped to one row
  * per key (compose with [[DedupLatest]] first, as the reference does).
  *
  * Scale: the anti-join shuffles both sides on the key unless `updates` is
  * small enough to broadcast — which is the common case (daily increment vs
  * full history), and Catalyst/AQE picks the broadcast automatically.
  */
object Upsert {

  /** Pure merge of two DataFrames (no IO) — unit-testable core.
    * allowMissingColumns: updates may carry new columns (schema evolution);
    * surviving target rows get NULL there — pandas concat alignment parity
    * (ingest_latest:811-821). */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    target.join(updates, keys, "left_anti")
      .unionByName(updates, allowMissingColumns = true)

  /** Merge into a parquet path through [[ParquetFormat]]'s crash-safe
    * swap, staged at `path.__tmp_upsert` with the backup at
    * `path.__bak_upsert`. A leftover backup with no target means a crash
    * happened between the two renames — the next call restores it before
    * merging. Not atomic for concurrent readers (see [[ParquetFormat]]). */
  def intoParquet(path: String, updates: DataFrame, keys: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = updates.sparkSession
    val target = new Path(path)
    val tmp = new Path(path + ".__tmp_upsert")
    val bak = new Path(path + ".__bak_upsert")
    ParquetFormat.recover(spark, target, tmp, bak)
    val merged =
      if (target.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(target))
        merge(ParquetFormat.read(spark, path), updates, keys)
      else updates
    ParquetFormat.swap(merged, target, tmp, bak)
  }
}
