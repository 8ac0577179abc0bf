package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Core scalar helpers — parity with the reference's SQL-function surface
  * (SURVEY.md §2.8). All are pure `Column` trees over built-in functions:
  * Catalyst-optimizable, whole-stage-codegen friendly, no opaque lambdas.
  */
object F {

  /** dbt_utils.generate_surrogate_key port: md5 over '-'-joined columns with
    * the dbt null sentinel. Reference macro expansion cited at
    * dbt/dbt_duckdb/models/ecom_intermediate/entities/locations.sql:53. */
  def surrogateKey(cols: Column*): Column =
    md5(concat_ws("-", cols.map(c =>
      coalesce(c.cast("string"), lit("_dbt_utils_surrogate_key_null_"))): _*))

  /** DuckDB/Postgres EXTRACT(dow) numbering (Sunday=0) from Spark's
    * dayofweek (Sunday=1). Reference: dim_dates.sql:10. */
  def dowSundayZero(c: Column): Column = dayofweek(c) - lit(1)

  /** NULLIF(a, b) as an expression (Spark has nullif in SQL; keep a Column
    * form for DataFrame code). */
  def nullIf(a: Column, b: Column): Column = when(a === b, lit(null)).otherwise(a)

  /** Safe division: x / NULLIF(d, 0) — the reference's per-customer average
    * pattern (fct_customer_orders.sql:13). */
  def safeDiv(x: Column, d: Column): Column = x / nullIf(d, lit(0))

  /** Money-exact sum input: route a double money column through a decimal so
    * SUM is exact integer arithmetic (deterministic, engine-portable) rather
    * than order-dependent float accumulation. */
  def money(c: Column): Column = c.cast("decimal(18,2)")

  /** THE output form for money aggregates: exact decimal sum, DOUBLE result.
    * Result columns must never be DECIMAL — a decimal output reads back
    * scale-preserving ("138014.00") where float-rendering consumers (and the
    * oracle gate) produce "138014.0"; both engines convert the identical
    * exact decimal to the identical nearest double. Use this (not an inline
    * cast) so the rule lives in one place. */
  def moneySum(c: Column): Column = sum(money(c)).cast("double")

  /** An events row's `value` as integer cents, rounded half up — the
    * order-free exact money form the event keys sum and compare. */
  def valueCents: Column = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")

  /** A money column as integer cents, `CAST(round(c * 100) AS BIGINT)`,
    * the form the keys' oracles spell. Kept apart from [[valueCents]]:
    * `floor(x * 100 + 0.5)` rounds the sum in double arithmetic first, so
    * the two can differ by a cent, and each key's oracle fixes its form. */
  def cents(c: Column): Column = round(c * 100).cast("bigint")
}
