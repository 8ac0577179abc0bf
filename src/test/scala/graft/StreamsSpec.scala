package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, count, expr, lit, max, min, pmod, when}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import graft.streaming.Streams.EventC

object StreamsSpec {
  /** The event-table shape the stream tests feed to MemoryStream. */
  final case class Event(ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  /** Event shape with an id, for the attribution join. */
  final case class AttrEvent(ts: Timestamp, user_id: Long,
      event_type: String, event_id: Long)
}

class StreamsSpec extends SparkSpec {
  import StreamsSpec.Event

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumblingCounts aggregates a micro-batched stream by window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.tumblingCounts(in.toDF(), "1 day", "2 days")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Update).start()
    in.addData(
      Event(ts("2024-01-01 01:00:00"), 1, "view", 1.0),
      Event(ts("2024-01-01 02:00:00"), 2, "view", 2.0),
      Event(ts("2024-01-02 01:00:00"), 1, "click", 4.0))
    q.processAllAvailable()
    val rows = spark.table("tumbling")
      .select("window_start", "event_type", "n_events", "total_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    q.stop()
    assert(rows == Set(
      (ts("2024-01-01 00:00:00"), "view", 2L, 3.0),
      (ts("2024-01-02 00:00:00"), "click", 1L, 4.0)))
  }

  test("sessionize closes a session after the inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventC]
    val q = Streams.sessionizeCents(in.toDS(), gapMs = 30 * 60 * 1000L).writeStream
      .format("memory").queryName("sessions").outputMode(OutputMode.Append).start()
    // session 1: two events 10 min apart; then 2h silence ends it
    in.addData(
      EventC(ts("2024-01-01 10:00:00"), 7, 100),
      EventC(ts("2024-01-01 10:10:00"), 7, 200))
    q.processAllAvailable()
    in.addData(EventC(ts("2024-01-01 12:00:00"), 7, 500))
    q.processAllAvailable()
    // push the event-time watermark far enough to time out session 2 as well
    in.addData(EventC(ts("2024-01-02 00:00:00"), 8, 0))
    q.processAllAvailable()
    in.addData(EventC(ts("2024-01-03 00:00:00"), 8, 0))
    q.processAllAvailable()
    val got = spark.table("sessions")
      .select("user_id", "session_start_ms", "session_end_ms", "n_events", "total_cents")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    q.stop()
    def ms(s: String) = ts(s).getTime
    assert(got.contains(
      (7L, ms("2024-01-01 10:00:00"), ms("2024-01-01 10:10:00"), 2L, 300L)))
    assert(got.contains(
      (7L, ms("2024-01-01 12:00:00"), ms("2024-01-01 12:00:00"), 1L, 500L)))
  }

  test("sessionizeCents cross-batch stragglers: before-gap event is its own " +
      "session, within-gap event widens the span (never a vacuous merge)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventC]
    val q = Streams.sessionizeCents(in.toDS(), gapMs = 30 * 60 * 1000L,
      latenessMs = 60 * 60 * 1000L).writeStream
      .format("memory").queryName("sess_straggler")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // batch 1 opens sessions at 12:00; watermark advances to 11:00
    in.addData(EventC(ts("2024-01-01 12:00:00"), 7, 100),
      EventC(ts("2024-01-01 12:00:00"), 9, 900))
    q.processAllAvailable()
    // batch 2 delivers admitted stragglers: u7 @11:15 is >30min BEFORE the
    // open session (must close as its own singleton, NOT merge via the
    // vacuously-true t-end<=gap), u9 @11:50 is within gap (must WIDEN)
    in.addData(EventC(ts("2024-01-01 11:15:00"), 7, 5),
      EventC(ts("2024-01-01 11:50:00"), 9, 50))
    q.processAllAvailable()
    // push the watermark far enough to time out the open sessions
    in.addData(EventC(ts("2024-01-01 18:00:00"), 8, 0))
    q.processAllAvailable()
    in.addData(EventC(ts("2024-01-01 19:00:00"), 8, 0))
    q.processAllAvailable()
    val got = spark.table("sess_straggler").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    q.stop()
    def ms(s: String) = ts(s).getTime
    assert(got.contains((7L, ms("2024-01-01 11:15:00"), ms("2024-01-01 11:15:00"), 1L, 5L)),
      s"straggler before the gap must close as its own session: $got")
    assert(got.contains((7L, ms("2024-01-01 12:00:00"), ms("2024-01-01 12:00:00"), 1L, 100L)),
      s"the open session must stay unmerged: $got")
    assert(got.contains((9L, ms("2024-01-01 11:50:00"), ms("2024-01-01 12:00:00"), 2L, 950L)),
      s"within-gap straggler must widen the session span: $got")
  }

  test("sessionizeCents sibling stragglers within gap merge into ONE session; " +
      "a bridging straggler merges the chain into the open session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventC]
    val q = Streams.sessionizeCents(in.toDS(), gapMs = 30 * 60 * 1000L,
      latenessMs = 60 * 60 * 1000L).writeStream
      .format("memory").queryName("sess_siblings")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // batch 1 opens sessions at 12:00; watermark advances to 11:00
    in.addData(EventC(ts("2024-01-01 12:00:00"), 7, 100),
      EventC(ts("2024-01-01 12:00:00"), 9, 900))
    q.processAllAvailable()
    // batch 2: u7 gets TWO before-gap stragglers 10 min apart (11:10,
    // 11:20) — the globally-sorted replay chains them into one 2-event
    // session, not two singletons. u9 gets a straggler at 11:05 plus a
    // BRIDGE at 11:33: 11:05→11:33 is within gap and 11:33→12:00 is within
    // gap, so all three merge with the open session into one 3-event span.
    in.addData(EventC(ts("2024-01-01 11:10:00"), 7, 1),
      EventC(ts("2024-01-01 11:20:00"), 7, 2),
      EventC(ts("2024-01-01 11:05:00"), 9, 3),
      EventC(ts("2024-01-01 11:33:00"), 9, 4))
    q.processAllAvailable()
    // push the watermark far enough to time out the open sessions
    in.addData(EventC(ts("2024-01-01 18:00:00"), 8, 0))
    q.processAllAvailable()
    in.addData(EventC(ts("2024-01-01 19:00:00"), 8, 0))
    q.processAllAvailable()
    val got = spark.table("sess_siblings").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    q.stop()
    def ms(s: String) = ts(s).getTime
    assert(got.contains((7L, ms("2024-01-01 11:10:00"), ms("2024-01-01 11:20:00"), 2L, 3L)),
      s"sibling stragglers within gap must chain into one session: $got")
    assert(got.contains((7L, ms("2024-01-01 12:00:00"), ms("2024-01-01 12:00:00"), 1L, 100L)),
      s"the open session must stay unmerged from the early chain: $got")
    assert(got.contains((9L, ms("2024-01-01 11:05:00"), ms("2024-01-01 12:00:00"), 3L, 907L)),
      s"a bridging straggler must merge the early chain into the open session: $got")
  }

  test("sessionizeCents AvailableNow drain: emission boundary is STRICT " +
      "(timeout == final watermark does not fire)") {
    import spark.implicits._
    // gap 30 min, lateness 60 min; max event 20:00 → final watermark 19:00.
    // Trailing-session timeouts: 18:30 → 19:00 (== watermark, must NOT
    // emit), 18:29:59 → 18:59:59 (< watermark, must emit), 18:30:01 →
    // 19:00:01 (> watermark, must not emit). User 6's first session is
    // closed in-batch by its second event and must emit regardless.
    val dir = java.nio.file.Files.createTempDirectory("sessbound").toString
    Seq(
      EventC(ts("2024-01-01 10:00:00"), 1, 100),
      EventC(ts("2024-01-01 18:30:00"), 3, 300),
      EventC(ts("2024-01-01 18:29:59"), 4, 400),
      EventC(ts("2024-01-01 18:30:01"), 5, 500),
      EventC(ts("2024-01-01 09:00:00"), 6, 600),
      EventC(ts("2024-01-01 11:00:00"), 6, 601),
      EventC(ts("2024-01-01 20:00:00"), 9, 900)
    ).toDS().coalesce(1).write.parquet(s"$dir/in")
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[EventC]].schema)
      .parquet(s"$dir/in").as[EventC]
    val sess = Streams.sessionizeCents(in, gapMs = 30 * 60 * 1000L,
      latenessMs = 60 * 60 * 1000L)
    sess.writeStream.format("memory").queryName("sessbound")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val got = spark.table("sessbound").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    def ms(s: String) = ts(s).getTime
    assert(got == Set(
      (1L, ms("2024-01-01 10:00:00"), 1L, 100L),
      (4L, ms("2024-01-01 18:29:59"), 1L, 400L),
      (6L, ms("2024-01-01 09:00:00"), 1L, 600L),
      (6L, ms("2024-01-01 11:00:00"), 1L, 601L)))
  }

  test("runAvailableNow drains a file source incrementally to parquet") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("avnow").toString
    Seq(Event(ts("2024-01-01 01:00:00"), 1, "view", 1.0),
      Event(ts("2024-01-01 02:00:00"), 2, "click", 2.0))
      .toDS().write.parquet(s"$dir/in/batch0")
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/*")
    Streams.runAvailableNow(in, s"$dir/ckpt", s"$dir/out")
    assert(spark.read.parquet(s"$dir/out").count() == 2)
    // second increment: only new files processed (checkpoint advances)
    Seq(Event(ts("2024-01-02 01:00:00"), 3, "view", 3.0))
      .toDS().write.parquet(s"$dir/in/batch1")
    Streams.runAvailableNow(
      spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .parquet(s"$dir/in/*"),
      s"$dir/ckpt", s"$dir/out")
    assert(spark.read.parquet(s"$dir/out").count() == 3)
  }

  test("purchaseAttribution joins purchases to in-window views only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamsSpec.AttrEvent]
    val q = Streams.purchaseAttribution(in.toDF())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    in.addData(
      StreamsSpec.AttrEvent(ts("2024-01-01 09:30:00"), 1, "view", 11),  // in window
      StreamsSpec.AttrEvent(ts("2024-01-01 08:00:00"), 1, "view", 12),  // too old
      StreamsSpec.AttrEvent(ts("2024-01-01 09:40:00"), 2, "view", 13),  // other user
      StreamsSpec.AttrEvent(ts("2024-01-01 10:00:00"), 1, "purchase", 99))
    q.processAllAvailable()
    val got = spark.table("attr").select("purchase_id", "view_id")
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(got == Set((99L, 11L)))
  }

  test("enrichWithDim joins a stream to a broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = Streams.enrichWithDim(in.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    in.addData(
      Event(ts("2024-01-01 01:00:00"), 1, "view", 1.0),
      Event(ts("2024-01-01 01:00:00"), 9, "view", 2.0)) // no dim row
    q.processAllAvailable()
    val got = spark.table("enriched").select("user_id", "tier")
      .as[(Long, Option[String])].collect().toSet
    q.stop()
    assert(got == Set((1L, Some("gold")), (9L, None)))
  }

  test("streamingDedup drops repeated keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.streamingDedup(in.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    in.addData(
      Event(ts("2024-01-01 01:00:00"), 1, "view", 1.0),
      Event(ts("2024-01-01 01:00:00"), 1, "view", 9.0),
      // same key LATER inside the watermark: still a duplicate (dedup is
      // on the keys alone, not on (keys, ts))
      Event(ts("2024-01-01 03:00:00"), 1, "view", 5.0),
      Event(ts("2024-01-01 01:00:00"), 2, "view", 2.0))
    q.processAllAvailable()
    val n = spark.table("dedup").count()
    q.stop()
    assert(n == 2)
  }

  test("upsertSink merges each wave into the keyed parquet target") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert_sink").toFile.getAbsolutePath
    val src = s"$dir/src"
    val target = s"$dir/target"

    def wave(rows: Seq[Event], sub: String): Unit = {
      rows.toDS().write.parquet(s"$src/$sub")
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$src/*")
      Streams.upsertSink(stream, target, s"$dir/ckpt",
        keys = Seq("user_id"), orderCols = Seq("ts"))
    }

    wave(Seq(
      Event(ts("2024-01-01 01:00:00"), 1, "view", 1.0),
      Event(ts("2024-01-01 02:00:00"), 1, "view", 2.0),
      Event(ts("2024-01-01 01:00:00"), 2, "view", 5.0)), "w1")
    val after1 = spark.read.parquet(target)
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    assert(after1 === Set((1L, 2.0), (2L, 5.0)), "latest row per key after wave 1")

    // Wave 2: update user 1, insert user 3; the checkpoint must process
    // only the new files, and user 2 must survive untouched.
    wave(Seq(
      Event(ts("2024-01-02 01:00:00"), 1, "click", 9.0),
      Event(ts("2024-01-02 01:00:00"), 3, "view", 7.0)), "w2")
    val after2 = spark.read.parquet(target)
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    assert(after2 === Set((1L, 9.0), (2L, 5.0), (3L, 7.0)))
  }

  test("purchaseAttributionLeft: null rows emit only below the final watermark " +
      "(STRICT, ms-truncated) — matched rows emit regardless") {
    import spark.implicits._
    import StreamsSpec.AttrEvent
    def drain(events: Seq[AttrEvent], tag: String): Set[(Long, Option[Long])] = {
      val dir = java.nio.file.Files.createTempDirectory(tag).toString
      events.toDS().coalesce(1).write.parquet(s"$dir/in")
      val in = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[AttrEvent]].schema)
        .parquet(s"$dir/in")
      Streams.purchaseAttributionLeft(in)
        .select(col("purchase_id"), col("view_id"))
        .writeStream.format("memory").queryName(tag)
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      spark.table(tag).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    }
    def uts(s: String, micros: Int): Timestamp = {
      val t = Timestamp.valueOf(s); t.setNanos(t.getNanos + micros * 1000); t
    }
    val a = drain(Seq(
      AttrEvent(ts("2024-01-01 20:00:00"), 1, "view", 10),
      AttrEvent(ts("2024-01-01 11:30:00"), 5, "view", 11),
      AttrEvent(ts("2024-01-01 12:00:00"), 5, "purchase", 50),
      AttrEvent(ts("2024-01-01 17:59:59"), 2, "purchase", 51),
      AttrEvent(ts("2024-01-01 18:00:00"), 3, "purchase", 52),
      AttrEvent(ts("2024-01-01 18:00:01"), 4, "purchase", 53),
      AttrEvent(ts("2024-01-01 20:00:00"), 9, "purchase", 54)), "leftattr_a")
    // WM = min(maxV, maxP) − 2 h = 18:00. Matched (50,11) always emits;
    // 51 (17:59:59 < WM) emits its null row; 52 (== WM) does NOT — the
    // boundary is STRICT; 53/54 (> WM) stay buffered in state.
    assert(a === Set((50L, Some(11L)), (51L, None)))
    // µs probe: maxima at 20:00:00.000900 put an untruncated WM at
    // 18:00:00.000900 — but the engine computes watermarks in WHOLE
    // MILLISECONDS (event-time stats floor µs → ms), so WM is
    // 18:00:00.000 exactly and the 500 µs purchase is NOT strictly below
    // it. The DuckDB replay must apply the same // 1000 truncation.
    val b = drain(Seq(
      AttrEvent(uts("2024-01-01 20:00:00", 900), 1, "view", 10),
      AttrEvent(uts("2024-01-01 18:00:00", 500), 3, "purchase", 62),
      AttrEvent(uts("2024-01-01 20:00:00", 900), 9, "purchase", 64)), "leftattr_b")
    assert(b === Set.empty, "ms-truncated strict boundary must hold back the 500µs purchase")
  }

  test("bucketed interval join: hub-user drain equals the batch join as a " +
      "MULTISET (full coverage, no bucket-explode duplicates)") {
    import spark.implicits._
    import StreamsSpec.AttrEvent
    // One hub user with dense traffic engineered around the hour-bucket
    // edges the r14 state-key fix introduces: matches in the SAME bucket,
    // matches CROSSING a bucket boundary (p in the view's next hour),
    // the inclusive v_ts == p_ts tie, the exclusive v_ts == p_ts − 1h
    // boundary, and interleaved cold users. A view exploded into two
    // probe buckets could double-emit if the equality key were wrong —
    // compare as a multiset so any duplicate fails, and against the
    // BATCH interval join so any dropped pair fails.
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def at(ms: Long) = new Timestamp(base + ms)
    val H = 3600L * 1000
    val events =
      // hub user 1: views every 10 min for 3 h, purchases every 25 min
      (0 until 18).map(i => AttrEvent(at(i * 10 * 60000L), 1, "view", 100 + i)) ++
      (0 until 7).map(i => AttrEvent(at(i * 25 * 60000L + 5000), 1, "purchase", 200 + i)) ++
      Seq(
        AttrEvent(at(4 * H), 1, "view", 300),            // exactly p_ts − nothing
        AttrEvent(at(5 * H), 1, "purchase", 301),        // v_ts == p_ts − 1h: excluded
        AttrEvent(at(5 * H), 1, "view", 302),            // v_ts == p_ts: included
        AttrEvent(at(6 * H), 2, "view", 400),            // cold users
        AttrEvent(at(6 * H + 1000), 2, "purchase", 401),
        AttrEvent(at(6 * H), 3, "purchase", 402))        // purchase with no view
    val dir = java.nio.file.Files.createTempDirectory("bucketjoin").toString
    events.toDS().coalesce(1).write.parquet(s"$dir/in")
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[AttrEvent]].schema)
      .parquet(s"$dir/in")
    Streams.purchaseAttribution(in)
      .select(col("purchase_id"), col("view_id"))
      .writeStream.format("memory").queryName("bucketattr")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = spark.table("bucketattr")
      .as[(Long, Long)].collect().toSeq.sorted
    val df = events.toDF()
    val batch = df.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"), $"event_id".as("purchase_id"))
      .join(df.filter($"event_type" === "view")
          .select($"user_id".as("vu"), $"ts".as("vts"), $"event_id".as("view_id")),
        $"pu" === $"vu" && $"vts" > $"pts" - expr("INTERVAL 1 hour") && $"vts" <= $"pts")
      .select($"purchase_id", $"view_id")
      .as[(Long, Long)].collect().toSeq.sorted
    // sanity: the hub construction really is dense — multiple views per
    // purchase on average, so a double-emit or a drop would move the count
    assert(batch.size >= 30, s"sanity: expected a dense match set, got ${batch.size}")
    assert(streamed == batch,
      s"streamed multiset (${streamed.size}) != batch interval join (${batch.size})")
    // non-vacuity for the boundary cases the bucketing must respect
    val set = batch.toSet
    assert(!set.contains((301L, 300L)), "v_ts == p_ts − 1h must stay excluded")
    assert(set.contains((301L, 302L)), "v_ts == p_ts must stay included")
  }

  test("st_stream_session_ooo: multi-batch out-of-order drain equals the " +
      "single-batch drain, with real stragglers riding batch 2") {
    import graft.queries.RelationalQueries
    // sf0.01: the guard-band construction plants a nonzero straggler set
    // (sf0.001's 30-minute band is usually empty — too few events)
    val dir = "/root/testdata/sf0.01"
    val ooo = RelationalQueries.queries("st_stream_session_ooo")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val single = RelationalQueries.queries("st_stream_session")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(ooo == single,
      "out-of-order 2-batch drain diverged from the single-batch drain")
    // non-vacuity: replicate the straggler predicate and demand planted
    // out-of-order traffic actually crossed the batch boundary
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"),
        expr("unix_millis(CAST(ts AS TIMESTAMP))").as("tms"))
    val m = ev.agg(max(col("tms"))).head().getLong(0)
    val elig = ev.groupBy(col("user_id"))
      .agg(max(when(col("tms") > m - 85 * 60000L && col("tms") <= m - 55 * 60000L,
        1).otherwise(0)).as("has_guard"))
      .filter(col("has_guard") === 0 &&
        pmod(graft.functions.Vectors.hash60(
          concat(lit("ooo_"), col("user_id").cast("string"))), lit(2)) === 1)
      .select(col("user_id"))
    val nStragglers = ev.join(elig, "user_id")
      .filter(col("tms") > m - 55 * 60000L && col("tms") <= m - 25 * 60000L)
      .count()
    assert(nStragglers > 0, "no stragglers planted — the OOO drain is vacuous")
  }

  test("upsertSink: crash between temp-write and swap, then a lost batch " +
      "commit, both converge to the global keep-latest state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("upsert_crash").toString
    val src = s"$root/src"
    val target = s"$root/target"
    val ckpt = s"$root/ckpt"
    def drain(checkpoint: String): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet").parquet(s"$src/*")
      Streams.upsertSink(stream, target, checkpoint,
        keys = Seq("user_id"), orderCols = Seq("ts"))
    }
    def state(): Set[(Long, Double)] = spark.read.parquet(target)
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    def copyDir(from: String, to: String): Unit = {
      import java.nio.file.{Files, Path, Paths}
      val f = Paths.get(from)
      Files.walk(f).forEach { p =>
        val t = Paths.get(to).resolve(f.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    }
    Seq(Event(ts("2024-01-01 01:00:00"), 1, "view", 1.0),
      Event(ts("2024-01-01 02:00:00"), 2, "view", 5.0)).toDS()
      .write.parquet(s"$src/w1")
    drain(ckpt)
    assert(state() === Set((1L, 1.0), (2L, 5.0)))
    // snapshot the checkpoint BEFORE batch 2 — later replayed as the
    // "target swapped but the commit was lost" crash
    copyDir(ckpt, s"$root/ckpt_stale")
    // crash window injection for batch 2 (the OperatorsSpec windows, now
    // under the STREAMING sink): a stale half-written tmp AND the target
    // moved aside mid-swap — on restart intoParquet must discard the tmp
    // and restore the backup before merging
    Seq(Event(ts("2024-01-01 09:00:00"), 9, "view", 0.0)).toDS()
      .write.parquet(target + ".__tmp_upsert")
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + ".__bak_upsert")))
    Seq(Event(ts("2024-01-01 03:00:00"), 1, "click", 9.0),
      Event(ts("2024-01-01 03:00:00"), 3, "view", 7.0)).toDS()
      .write.parquet(s"$src/w2")
    drain(ckpt)
    val want = Set((1L, 9.0), (2L, 5.0), (3L, 7.0))
    assert(state() === want, "restart after mid-swap crash lost or duplicated rows")
    // lost-commit replay: restart from the stale checkpoint — batch 2 is
    // re-delivered against the already-merged target; the keyed merge must
    // be idempotent (no duplicates, no regressions)
    drain(s"$root/ckpt_stale")
    assert(state() === want, "replayed batch was not idempotent")
  }

  test("st_stream_dedup drains to exactly the batch dedup state") {
    import graft.queries.RelationalQueries
    val streamed = RelationalQueries.queries("st_stream_dedup")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.Tables(spark, sfDir, "documents")
      .groupBy(graft.functions.Text.fingerprint(col("text")).as("fingerprint"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch, "streaming state diverged from the batch replay")
    // every document is accounted for exactly once across the state
    val total = graft.Tables(spark, sfDir, "documents").count()
    assert(streamed.toSeq.map(_._2).sum === total)
  }
}
