package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, E2EQueries, EcomQueries, ExtendedQueries, GraphQueries, MediaQueries, PipelineQueries, RelationalQueries, SimilarityQueries, TextQueries, TimeSeriesQueries, TrainingQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the operator packs; every key has either a
  * DuckDB oracle in `oracleSql` (hash-compared by the driver) or is a
  * hash-based/approximate operator checked rows-only.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("j10_star_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ TextQueries.queries ++
      SimilarityQueries.queries ++ AnalyticsQueries.queries ++
      ExtendedQueries.queries ++ PipelineQueries.queries ++
      TrainingQueries.queries ++ MediaQueries.queries ++ EcomQueries.queries ++
      E2EQueries.queries ++ GraphQueries.queries ++ TimeSeriesQueries.queries

  /** The keys a comma-separated list names, in the order given; `ALL`
    * selects every key, sorted. Any name not in [[queries]] is refused
    * before work starts, all of them in one message: a misspelled key must
    * not silently verify or time nothing. */
  def select(csv: String): Seq[String] = {
    val known = queries
    if (csv == "ALL") known.keys.toSeq.sorted
    else {
      val keys = csv.split(",", -1).toSeq.distinct
      val unknown = keys.filterNot(known.contains)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown query keys: ${unknown.map(k => s"'$k'").mkString(", ")}")
      keys
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ TextQueries.oracle ++
      SimilarityQueries.oracle ++ AnalyticsQueries.oracle ++
      ExtendedQueries.oracle ++ PipelineQueries.oracle ++
      TrainingQueries.oracle ++ MediaQueries.oracle ++ EcomQueries.oracle ++
      E2EQueries.oracle ++ GraphQueries.oracle ++ TimeSeriesQueries.oracle
}
