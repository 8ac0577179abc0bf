package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.ParquetFormat

/** The layered-transform runner — the reference's dbt DAG re-expressed as
  * plain function composition (SURVEY §2.1 S10, §3 entry point 1).
  *
  * A model is a named `Map[name, DataFrame] => DataFrame`; `ref()` becomes
  * a map lookup. Materialization mirrors dbt_project.yml:19-30:
  *  - [[View]]: lazily composed (the DataFrame IS the view — Catalyst
  *    inlines it into downstream plans, enabling cross-model pushdown the
  *    reference only gets from DuckDB's view inlining);
  *  - [[Table]]: written to parquet and re-read, cutting the plan like a
  *    dbt table (reused intermediates computed once);
  *  - [[Incremental]]: high-watermark append — only source rows newer than
  *    `MAX(watermarkCol)` of the existing output are computed and appended
  *    (ref: fct_customer_orders.sql:18-20 is_incremental pattern).
  */
object ModelGraph {

  sealed trait Materialization
  case object View extends Materialization
  case object Table extends Materialization
  final case class Incremental(watermarkCol: String) extends Materialization

  /** Partition-replace merge for AGGREGATED incremental models (ref:
    * fct_customer_activity.sql:2, month-grain). High-watermark APPEND is
    * wrong for aggregates: the boundary group (e.g. the current month)
    * keeps accreting source rows, so its row must be re-derived, not
    * appended next to a stale copy. Refresh recomputes every group at or
    * past MAX(watermarkCol) of the store and replaces that range, carrying
    * strictly-older groups forward untouched. Because the filter lands on
    * a grouping column, Catalyst pushes it below the aggregate — the
    * recompute scans only the affected range of the source, not all of it. */
  final case class IncrementalMerge(watermarkCol: String) extends Materialization

  final case class Model(
      name: String,
      deps: Seq[String],
      build: Map[String, DataFrame] => DataFrame,
      materialization: Materialization = View)

  /** Kahn topological order; fails on cycles or missing deps. */
  def topoOrder(models: Seq[Model], sources: Set[String]): Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    val resolved = mutable.LinkedHashSet.empty[String] ++ sources
    val remaining = mutable.Queue.empty[Model] ++ models
    val out = mutable.ArrayBuffer.empty[Model]
    var stuckFor = 0
    while (remaining.nonEmpty) {
      val m = remaining.dequeue()
      m.deps.find(d => !resolved.contains(d)) match {
        case Some(d) if !byName.contains(d) && !sources.contains(d) =>
          throw new IllegalArgumentException(s"model ${m.name}: unknown dep $d")
        case Some(_) =>
          remaining.enqueue(m); stuckFor += 1
          if (stuckFor > remaining.size)
            throw new IllegalArgumentException(
              s"dependency cycle involving ${remaining.map(_.name).mkString(", ")}")
        case None =>
          resolved += m.name; out += m; stuckFor = 0
      }
    }
    out.toSeq
  }

  /** Compose the graph lazily over in-memory sources; returns every model's
    * DataFrame. Views stay unmaterialized — one Catalyst plan end-to-end. */
  def compose(models: Seq[Model], sources: Map[String, DataFrame]): Map[String, DataFrame] = {
    val acc = mutable.Map.empty[String, DataFrame] ++ sources
    topoOrder(models, sources.keySet).foreach { m =>
      acc(m.name) = m.build(acc.toMap)
    }
    acc.toMap -- sources.keys
  }

  /** Dependency levels: level(m) = 1 + max over deps — models in the same
    * level are independent by construction. [[run]] does not schedule by
    * level; the benchmark's tracer groups model writes by it. */
  def levels(models: Seq[Model], sources: Set[String]): Seq[Seq[Model]] = {
    val lvl = mutable.Map.empty[String, Int] ++ sources.map(_ -> 0)
    val ordered = topoOrder(models, sources)
    // foldLeft, not .max: a source-free model (empty deps — valid input,
    // e.g. a seed/constant table) sits at level 1, not in an exception.
    ordered.foreach(m => lvl(m.name) = 1 + m.deps.map(lvl).foldLeft(0)(math.max))
    ordered.groupBy(m => lvl(m.name)).toSeq.sortBy(_._1).map(_._2)
  }

  /** Watermark-aggregate alias — named so no real model column collides. */
  private val WmAlias = "__graft_wm"

  /** Materialize the graph under `base` honoring each model's
    * materialization — the `dbt run` analog.
    *
    * Models run DEPENDENCY-DRIVEN (like `dbt run --threads`) on
    * [[graft.Overlap]]'s `parallelism` threads and failure contract: a
    * model starts once its `deps` have landed, the one heading the longest
    * chain below it first. Results equal a sequential run's: a model sees
    * only its declared deps, final when it starts.
    *
    * Every landed model is a plain parquet directory `baseDir/<name>`
    * ([[graft.sources.ParquetFormat]]), re-read with the schema just
    * written, so no job re-infers it; an [[IncrementalMerge]] publishes
    * its self-reading replace through that format's crash-safe swap.
    *
    * Cache contract: a [[View]] that two or more models read is persisted
    * for the run, so its plan runs once instead of once per reader, and is
    * released (blocking unpersist) before `run` returns or throws. */
  def run(spark: SparkSession, models: Seq[Model],
      sources: Map[String, DataFrame], baseDir: String,
      parallelism: Int = 4): Map[String, DataFrame] = {
    val order = topoOrder(models, sources.keySet)

    def materialize(m: Model, deps: Map[String, DataFrame]): DataFrame = {
      val path = s"$baseDir/${m.name}"
      val built = m.build(deps)
      // the re-read takes the schema just written: no job re-infers it
      def landed(written: DataFrame): DataFrame =
        ParquetFormat.read(spark, path, written.schema)
      m.materialization match {
        case View => built
        case Table =>
          ParquetFormat.overwrite(built, path)
          landed(built)
        case Incremental(wm) =>
          // A NULL watermark is unsupportable under high-watermark APPEND:
          // the row can never be compared against MAX(wm), so it would
          // either vanish (fails `>`) or duplicate on every refresh.
          // Fail loudly per-row instead of silently losing data —
          // assert_true returns NULL when the predicate holds, so the
          // filter passes every valid row and throws on the first NULL.
          val guarded = built.filter(assert_true(col(wm).isNotNull,
            lit(s"Incremental($wm): NULL watermark row — high-watermark append " +
              "cannot track it; filter NULLs upstream or use IncrementalMerge")).isNull)
          if (!ParquetFormat.exists(spark, path)) { // first run bootstraps the full build (SURVEY §7.4 #5)
            ParquetFormat.overwrite(guarded, path)
          } else {
            // reserved alias: a model watermarking on a column literally
            // named like the aggregate alias must not self-collide
            val watermark = ParquetFormat.read(spark, path).agg(max(col(wm)).as(WmAlias))
            ParquetFormat.append(guarded.crossJoin(broadcast(watermark))
              .filter(col(wm) > col(WmAlias)).drop(WmAlias), path)
          }
          landed(guarded)
        case IncrementalMerge(wm) =>
          // crash recovery FIRST: a merge that died mid-replace must be
          // repaired rather than letting the existence probe trigger a
          // fresh full rebuild (recover restores an orphaned backup).
          ParquetFormat.recover(spark, path)
          if (!ParquetFormat.exists(spark, path)) {
            ParquetFormat.overwrite(built, path)
            landed(built)
          } else {
            val existing = ParquetFormat.read(spark, path)
            val watermark = existing.agg(max(col(wm)).as(WmAlias))
            val keep = existing.crossJoin(broadcast(watermark))
              .filter(col(wm) < col(WmAlias)).drop(WmAlias)
            // >= (not >): the boundary group is the one that accretes; an
            // all-null/empty store recomputes everything (isNull arm).
            // NULL-watermark rows route into fresh EXPLICITLY — they fail
            // both `< max` (keep) and `>= max` (fresh) under 3-valued
            // logic and would otherwise vanish on every refresh; since
            // keep ∪ fresh replaces the store, re-deriving them from the
            // new build each refresh is exactly right (no duplication).
            val fresh = built.crossJoin(broadcast(watermark))
              .filter(col(wm) >= col(WmAlias) || col(WmAlias).isNull ||
                col(wm).isNull).drop(WmAlias)
            // the merged frame reads from `path`: replace stages it in a
            // hidden sibling and swaps it in, never overwriting the scan
            val merged = keep.unionByName(fresh)
            ParquetFormat.replace(merged, path)
            landed(merged)
          }
      }
    }

    val readers = order.map(m => m.name -> order.filter(_.deps.contains(m.name))).toMap
    // views two or more models read: persisted for the run, computed once
    val shared = order.filter(m => m.materialization == View && readers(m.name).size > 1)
      .map(_.name).toSet
    // longest chain of models below each one: of the ready models, the one
    // heading the longest chain takes the next free thread
    val below = mutable.Map.empty[String, Int]
    order.reverseIterator.foreach { m =>
      below(m.name) = readers(m.name).map(r => below(r.name) + 1).foldLeft(0)(math.max)
    }
    val cached = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    val tasks = order.map { m =>
      graft.Overlap.Task[DataFrame](m.name, m.deps.filterNot(sources.contains), below(m.name)) { done =>
        val df = materialize(m, m.deps.map(d => d -> sources.getOrElse(d, done(d))).toMap)
        // a frame the caller already cached stays the caller's to release
        if (shared(m.name) && df.storageLevel == StorageLevel.NONE) cached.add(df.persist())
        df
      }
    }
    try graft.Overlap.run("ModelGraph.run: model", parallelism, tasks)
    finally cached.forEach(_.unpersist(blocking = true))
  }
}
