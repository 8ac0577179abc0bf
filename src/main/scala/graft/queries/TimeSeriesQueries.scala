package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.F

/** Time-series analytics over the events stream — the monitoring family
  * next to qa_volume_anomaly (count spikes) and qa_drift_psi (distribution
  * drift): smoothing and changepoint detection on the VALUE dimension.
  *
  * Both keys keep the engine's integer-exactness discipline: the EWMA's
  * α = 1/2 geometric weights are powers of two over a FIXED 16-event
  * horizon (so the smoothed value is one integer dot product — no float
  * recurrence whose rounding would diverge between engines), and the CUSUM
  * statistic is the cross-multiplied form n·prefix − k·total (the mean
  * subtraction scaled to integers before it happens, same trick as the PSI
  * monitor's 2pp flags).
  */
object TimeSeriesQueries {

  private type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "ts_ewma" -> tsEwma,
    "ts_cusum" -> tsCusum,
    "ts_streaks" -> tsStreaks,
    "ts_peak_concurrency" -> tsPeakConcurrency,
    "ts_forecast_naive" -> tsForecastNaive,
    "ts_acf_lag7" -> tsAcfLag7,
    "ts_session_stats" -> tsSessionStats
  )

  /** Per-type daily value series (event_type, day, x = Σ cents): the
    * heavy input collapses to (type, day) grain in ONE hash aggregate, so
    * the forecast, autocorrelation, CUSUM and streak windows all run over
    * a table bounded by types × days, not by the corpus. */
  private def dailyCents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"event_type", $"ts".cast("date").as("day"))
      .agg(sum(F.cents($"value")).as("x"))
  }

  /** Gap-based sessions, per event: (user_id, tus, prev, news, sid) with
    * `sid` the user's running session number — a new session starts when
    * more than [[GapUs]] (30 min) passes since the user's previous event.
    * One user-keyed window pass; callers aggregate by (user_id, sid). */
  private def sessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wUser = Window.partitionBy($"user_id").orderBy($"tus")
    Tables(s, dir, "events")
      .select($"user_id", expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tus"))
      .withColumn("prev", lag($"tus", 1).over(wUser))
      .withColumn("news",
        ($"prev".isNull || $"tus" - $"prev" > GapUs).cast("long"))
      .withColumn("sid", sum($"news").over(wUser))
  }

  /** Session depth/duration profile — the engagement histogram next to
    * [[tsPeakConcurrency]]'s load profile, built from the SAME 30-min-gap
    * sessions: sessions bucketed by event depth (capped at 10+), each
    * bucket carrying count, exact summed duration-µs and the max. Output
    * is ≤10 rows at any corpus size. */
  private val tsSessionStats: Q = (s, dir) => {
    import s.implicits._
    sessions(s, dir)
      .groupBy($"user_id", $"sid")
      .agg(count(lit(1)).as("depth"), (max($"tus") - min($"tus")).as("dur_us"))
      .groupBy(least($"depth", lit(10L)).as("depth_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum($"dur_us").as("sum_duration_us"),
        max($"dur_us").as("max_duration_us"))
      .orderBy($"depth_bucket")
  }

  /** Seasonal-naive forecast backtest — the baseline every demand model
    * must beat: predict day d with day d−7, score on exact integer cents
    * (n evaluated, Σ|err|, Σerr for bias; the consumer divides for
    * MAE). Days without a lag-7 observation are excluded, not
    * zero-filled. */
  private val tsForecastNaive: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    dailyCents(s, dir)
      .withColumn("pred_day", lag($"day", 7).over(w))
      .withColumn("pred", lag($"x", 7).over(w))
      // a 7-rows-back observation is only the seasonal twin if it is
      // exactly 7 CALENDAR days back (dense series: equivalent; sparse:
      // prevents scoring against the wrong weekday)
      .filter($"pred".isNotNull && expr("datediff(day, pred_day)") === 7)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_eval"),
        sum(abs($"x" - $"pred")).as("sum_abs_err_cents"),
        sum($"x" - $"pred").as("sum_err_cents"))
      .orderBy($"event_type")
  }

  /** Lag-7 autocovariance and variance NUMERATORS per event type, exact:
    * n²-scaled so the mean subtraction stays integral —
    * acov = Σₜ(n·xₜ−S)(n·xₜ₋₇−S), var the same with both terms current,
    * summed over exactly the lag-covered days. Widened to DECIMAL(38)
    * (the n-scaled deviations square past 2⁶³). Emitted as the exact
    * integer PAIR rather than a floored ratio: the two engines disagree
    * on negative integer division (truncate vs floor), and a consumer
    * divides floats anyway. Weekly seasonality shows as acov_num > 0
    * against var_num. */
  private val tsAcfLag7: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    dailyCents(s, dir)
      .withColumn("xl", lag($"x", 7).over(w))
      .withColumn("pl", lag($"day", 7).over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum($"x").over(wAll))
      .filter($"xl".isNotNull && expr("datediff(day, pl)") === 7)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_terms"), max($"n").as("n_days"),
        // emitted as exact decimal STRINGS: a >2⁶³ integer column would
        // otherwise ride as DECIMAL(38)/HUGEINT, whose engine-to-pandas
        // renderings diverge (int repr vs float repr) in the hash gate
        sum(expr("""(CAST(n AS DECIMAL(38,0)) * x - s)
                  | * (CAST(n AS DECIMAL(38,0)) * xl - s)""".stripMargin))
          .cast("decimal(38,0)").cast("string").as("acov_num"),
        sum(expr("""(CAST(n AS DECIMAL(38,0)) * x - s)
                  | * (CAST(n AS DECIMAL(38,0)) * x - s)""".stripMargin))
          .cast("decimal(38,0)").cast("string").as("var_num"))
      .orderBy($"event_type")
  }

  /** EWMA horizon: events beyond the 16th-most-recent carry weight
    * < 2⁻¹⁶ of the total — below cent resolution — so the truncation IS
    * the infinite recurrence at integer precision, not an approximation
    * knob. */
  private val Horizon = 16

  /** Per-user α=1/2 EWMA of the event value (integer cents) at each
    * user's LAST event, truncated to the trailing [[Horizon]] events.
    * scaled = Σᵢ cents(lag i) · 2^(15−i), weight-sum 2¹⁶−1; a missing lag
    * (user has fewer than 16 events) contributes zero — the standard
    * cold-start bias, identical on both engines by COALESCE.
    *
    * One window pass: all 16 lags share the single (user_id, ts,
    * event_id) sort — one Exchange + one sort of the events table, the
    * same shape as an_funnel. The keep-latest filter reuses the window's
    * partitioning (count over the same key), so nothing reshuffles. */
  private val tsEwma: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wAll = Window.partitionBy($"user_id")
    val scaled: Column = (0 until Horizon)
      .map(i => coalesce(lag($"cents", i).over(w), lit(0L)) *
        lit(1L << (Horizon - 1 - i)))
      .reduce(_ + _)
    Tables(s, dir, "events")
      .select($"user_id", $"event_id", $"ts",
        F.cents($"value").as("cents"))
      .withColumn("ewma_x", scaled)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(wAll))
      .filter($"rn" === $"n_events")
      .select($"user_id", $"n_events", $"ewma_x")
      .orderBy($"user_id")
  }

  /** Offline CUSUM changepoint per event type over the daily value
    * series: the day k maximizing |n·Σᵢ≤ₖxᵢ − k·Σx| (the scaled cumulative
    * deviation from the global mean — exact integers, ties broken
    * earliest). The cumsum window and the argmax rank run over
    * [[dailyCents]] — the a_mode two-level shape applied to a sequential
    * statistic. */
  private val tsCusum: Q = (s, dir) => {
    import s.implicits._
    val wSeq = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    val wPick = Window.partitionBy($"event_type")
      .orderBy(abs($"cusum").desc, $"day".asc)
    dailyCents(s, dir)
      .withColumn("k", row_number().over(wSeq).cast("long"))
      .withColumn("prefix", sum($"x").over(wSeq))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("total", sum($"x").over(wAll))
      .withColumn("cusum", $"n_days" * $"prefix" - $"k" * $"total")
      .withColumn("pick", row_number().over(wPick))
      .filter($"pick" === 1)
      .select($"event_type", $"day".as("cp_day"), abs($"cusum").as("cusum_abs"),
        $"n_days")
      .orderBy($"event_type")
  }

  /** Longest run of consecutive DOWN days (daily value strictly below the
    * previous day) per event type — the gaps-and-islands pattern: a run is
    * the group where row_number-over-sequence minus row_number-over-down
    * is constant, so runs fall out of two window ranks with NO self-join
    * or recursive walk. Ties on length break to the earliest ending run. */
  private val tsStreaks: Q = (s, dir) => {
    import s.implicits._
    val wSeq = Window.partitionBy($"event_type").orderBy($"day")
    val daily = dailyCents(s, dir)
      .withColumn("down", $"x" < lag($"x", 1).over(wSeq))
      .filter($"down")
    val wPick = Window.partitionBy($"event_type")
      .orderBy($"len".desc, $"end_day".asc)
    daily
      .withColumn("grp", datediff($"day", lit("1970-01-01").cast("date"))
        - row_number().over(wSeq))
      .groupBy($"event_type", $"grp")
      .agg(count(lit(1)).as("len"), max($"day").as("end_day"))
      .withColumn("pick", row_number().over(wPick))
      .filter($"pick" === 1)
      .select($"event_type", $"len", $"end_day")
      .orderBy($"event_type")
  }

  /** Session gap: 30 minutes, in microseconds. */
  private val GapUs = 30L * 60 * 1000000

  /** Peak concurrent SESSIONS per day — the interval-sweep staple
    * (capacity planning, licensing, load-profile audits). Each of the
    * [[sessions]] emits +1 at its start and −1 one µs after its end;
    * concurrency is the running sum of per-instant net deltas, and the
    * day's peak is the max running level, counting the carry-in level at
    * day start.
    *
    * The running sum is the TWO-LEVEL distributed prefix sum
    * (a_median_hist / train_curriculum_order discipline): the heavy
    * within-day cumsum is partitioned by day, and only the tiny
    * (day, net) table crosses partitions for the day-offset window — no
    * global sort of the delta stream at any corpus size. */
  private val tsPeakConcurrency: Q = (s, dir) => {
    import s.implicits._
    val sess = sessions(s, dir)
      .groupBy($"user_id", $"sid")
      .agg(min($"tus").as("s"), max($"tus").as("e"))
    val deltas = sess.select($"s".as("tus"), lit(1L).as("d"))
      .unionByName(sess.select(($"e" + 1).as("tus"), lit(-1L).as("d")))
      .groupBy($"tus").agg(sum($"d").as("net"))
      .withColumn("day", expr("CAST(timestamp_micros(tus) AS DATE)"))
    val wDay = Window.partitionBy($"day").orderBy($"tus")
    val wCarry = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val dayNet = deltas.groupBy($"day").agg(sum($"net").as("day_net"))
      .withColumn("carry", coalesce(sum($"day_net").over(wCarry), lit(0L)))
      .select($"day", $"carry")
    deltas
      .withColumn("within", sum($"net").over(wDay))
      .groupBy($"day").agg(max($"within").as("max_within"))
      .join(dayNet, "day")
      .select($"day",
        greatest($"carry" + $"max_within", $"carry").as("peak_concurrency"))
      .orderBy($"day")
  }

  private val EwmaTerms: String = (0 until Horizon)
    .map(i => s"COALESCE(LAG(cents, $i) OVER w, 0) * ${1L << (Horizon - 1 - i)}")
    .mkString(" + ")

  def oracle: Map[String, String] = Map(
    "ts_ewma" ->
      s"""WITH c AS (SELECT user_id, event_id, ts,
         |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         |e AS (SELECT user_id,
         |  CAST($EwmaTerms AS BIGINT) AS ewma_x,
         |  ROW_NUMBER() OVER w AS rn,
         |  COUNT(*) OVER (PARTITION BY user_id) AS n_events
         | FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, n_events, ewma_x FROM e
         |WHERE rn = n_events ORDER BY user_id""".stripMargin,

    "ts_session_stats" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
        |s1 AS (SELECT user_id, tus,
        |  LAG(tus, 1) OVER (PARTITION BY user_id ORDER BY tus) AS prev
        | FROM ev),
        |s2 AS (SELECT user_id, tus,
        |  SUM(CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY tus) AS sid
        | FROM s1),
        |sess AS (SELECT user_id, sid, COUNT(*) AS depth,
        |  MAX(tus) - MIN(tus) AS dur_us FROM s2 GROUP BY 1, 2)
        |SELECT LEAST(depth, 10) AS depth_bucket, COUNT(*) AS n_sessions,
        | CAST(SUM(dur_us) AS BIGINT) AS sum_duration_us,
        | CAST(MAX(dur_us) AS BIGINT) AS max_duration_us
        |FROM sess GROUP BY 1 ORDER BY depth_bucket""".stripMargin,

    "ts_forecast_naive" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, x,
        |  LAG(x, 7) OVER w AS pred, LAG(day, 7) OVER w AS pred_day
        | FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, COUNT(*) AS n_eval,
        | CAST(SUM(abs(x - pred)) AS BIGINT) AS sum_abs_err_cents,
        | CAST(SUM(x - pred) AS BIGINT) AS sum_err_cents
        |FROM l WHERE pred IS NOT NULL AND day - pred_day = 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_acf_lag7" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, x,
        |  LAG(x, 7) OVER w AS xl, LAG(day, 7) OVER w AS pl,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n,
        |  SUM(x) OVER (PARTITION BY event_type) AS s
        | FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, COUNT(*) AS n_terms, CAST(MAX(n) AS BIGINT) AS n_days,
        | CAST(CAST(SUM((CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * xl - s))
        |   AS HUGEINT) AS VARCHAR) AS acov_num,
        | CAST(CAST(SUM((CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x - s))
        |   AS HUGEINT) AS VARCHAR) AS var_num
        |FROM l WHERE xl IS NOT NULL AND day - pl = 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_streaks" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |dn AS (SELECT event_type, day,
        |  x < LAG(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS down
        | FROM d),
        |f AS (SELECT event_type, day,
        |  (day - DATE '1970-01-01')
        |    - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS grp
        | FROM dn WHERE down),
        |r AS (SELECT event_type, grp, COUNT(*) AS len, MAX(day) AS end_day
        | FROM f GROUP BY 1, 2),
        |p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |  ORDER BY len DESC, end_day ASC) AS pick FROM r)
        |SELECT event_type, len, end_day FROM p
        |WHERE pick = 1 ORDER BY event_type""".stripMargin,

    "ts_peak_concurrency" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
        |s1 AS (SELECT user_id, tus,
        |  LAG(tus, 1) OVER (PARTITION BY user_id ORDER BY tus) AS prev
        | FROM ev),
        |s2 AS (SELECT user_id, tus,
        |  SUM(CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY tus) AS sid
        | FROM s1),
        |sess AS (SELECT user_id, sid, MIN(tus) AS s, MAX(tus) AS e
        | FROM s2 GROUP BY 1, 2),
        |dl AS (SELECT s AS tus, 1 AS d FROM sess
        | UNION ALL SELECT e + 1, -1 FROM sess),
        |net AS (SELECT tus, CAST(SUM(d) AS BIGINT) AS net,
        |  CAST(make_timestamp(tus) AS DATE) AS day FROM dl GROUP BY tus),
        |run AS (SELECT day, tus,
        |  SUM(net) OVER (PARTITION BY day ORDER BY tus) AS within FROM net),
        |mw AS (SELECT day, MAX(within) AS max_within FROM run GROUP BY day),
        |dn2 AS (SELECT day, SUM(net) AS day_net FROM net GROUP BY day),
        |cr AS (SELECT day, COALESCE(SUM(day_net) OVER (ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
        | FROM dn2)
        |SELECT mw.day,
        | CAST(GREATEST(carry + max_within, carry) AS BIGINT) AS peak_concurrency
        |FROM mw JOIN cr ON mw.day = cr.day ORDER BY mw.day""".stripMargin,

    "ts_cusum" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
        |  SUM(x) OVER w AS prefix,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n_days,
        |  SUM(x) OVER (PARTITION BY event_type) AS total
        | FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |s AS (SELECT *, n_days * prefix - k * total AS cusum,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY abs(n_days * prefix - k * total) DESC, day ASC) AS pick
        | FROM c)
        |SELECT event_type, day AS cp_day,
        | CAST(abs(cusum) AS BIGINT) AS cusum_abs, n_days
        |FROM s WHERE pick = 1 ORDER BY event_type""".stripMargin
  )
}
