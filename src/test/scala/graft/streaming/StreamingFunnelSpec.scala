package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamingFunnel.{ClosedSession, Event}

class StreamingFunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stateful sessionizer closes sessions on gap across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = new StreamingFunnel.Sessionizer(gapSeconds = 1800)
      .sessionize(input.toDS())
    val q = sessions.writeStream
      .format("memory").queryName("closed_sessions")
      .outputMode("append").start()
    try {
      // batch 1: two events 10min apart (one open session)
      input.addData(
        Event(1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0),
        Event(2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("closed_sessions").count() === 0) // still open

      // batch 2: event 50min later → closes session 1, opens session 2
      input.addData(Event(3L, ts("2024-01-01 11:00:00"), 7L, "view", 5.0))
      q.processAllAvailable()
      val closed = spark.table("closed_sessions").as[ClosedSession].collect()
      assert(closed.length === 1)
      val s = closed.head
      assert(s.user_id === 7L)
      assert(s.session_num === 1L)
      assert(s.n_events === 2L)
      assert(s.duration_us === 600000000L)
      assert(s.total_value === 3.0)

      // batch 3: another user interleaved — state is per-user
      input.addData(
        Event(4L, ts("2024-01-01 12:30:00"), 8L, "view", 1.0),
        Event(5L, ts("2024-01-01 12:00:00"), 7L, "view", 1.0))
      q.processAllAvailable()
      val all = spark.table("closed_sessions").as[ClosedSession].collect()
      assert(all.count(_.user_id == 7L) === 2) // session 2 closed by the 12:00 gap
      assert(all.count(_.user_id == 8L) === 0) // user 8's first session still open
    } finally q.stop()
  }

  test("sessionizer: a cross-batch late event merges without moving boundaries backward") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // gap 1500s chosen so the OLD bug discriminates: rolling lastUs back to
    // the late 09:50 event would make the 10:20 event look 1800s away
    // (> gap) and close the session with end < start (negative duration)
    val sessions = new StreamingFunnel.Sessionizer(gapSeconds = 1500)
      .sessionize(input.toDS())
    val q = sessions.writeStream
      .format("memory").queryName("late_merge_sessions")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0))
      q.processAllAvailable()
      // late arrival 10 min BEHIND the open session's last event: merges,
      // stretching start back — last must stay 10:00, not roll to 09:50
      input.addData(Event(2L, ts("2024-01-01 09:50:00"), 7L, "view", 2.0))
      q.processAllAvailable()
      // 10:20 is 1200s after the true last (10:00) → same session
      input.addData(Event(3L, ts("2024-01-01 10:20:00"), 7L, "click", 4.0))
      q.processAllAvailable()
      input.addData(Event(4L, ts("2024-01-01 12:00:00"), 7L, "view", 0.0)) // closes it
      q.processAllAvailable()
      val closed = spark.table("late_merge_sessions").as[ClosedSession].collect()
      assert(closed.length === 1)
      val s = closed.head
      assert(s.n_events === 3L)
      assert(s.start_us === ts("2024-01-01 09:50:00").getTime * 1000L)
      assert(s.end_us === ts("2024-01-01 10:20:00").getTime * 1000L)
      assert(s.duration_us === 1800000000L) // 30 min, strictly non-negative
      assert(s.total_value === 7.0)
    } finally q.stop()
  }

  test("sessionizer: a late event a full gap before the open session's start is its own session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // gap 1500s; the 08:00 late arrival is 7200s before the open session's
    // 10:00 start — for a behind-lastUs event tsUs - lastUs is always ≤ gap,
    // so the OLD merge condition would swallow it and stretch the session
    // back two hours where batch sessionization cuts a gap
    val sessions = new StreamingFunnel.Sessionizer(gapSeconds = 1500)
      .sessionize(input.toDS())
    val q = sessions.writeStream
      .format("memory").queryName("too_old_sessions")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(2L, ts("2024-01-01 08:00:00"), 7L, "view", 2.0))
      q.processAllAvailable()
      input.addData(Event(3L, ts("2024-01-01 12:00:00"), 7L, "view", 0.0)) // closes 10:00
      q.processAllAvailable()
      val closed = spark.table("too_old_sessions").as[ClosedSession].collect()
        .sortBy(_.session_num)
      assert(closed.length === 2)
      // the too-old event closed immediately as its own single-event
      // session, taking the ordinal BEFORE the (renumbered) open session
      assert(closed(0).session_num === 1L)
      assert(closed(0).n_events === 1L)
      assert(closed(0).start_us === ts("2024-01-01 08:00:00").getTime * 1000L)
      assert(closed(0).duration_us === 0L)
      assert(closed(0).total_value === 2.0)
      assert(closed(1).session_num === 2L)
      assert(closed(1).n_events === 1L)
      assert(closed(1).start_us === ts("2024-01-01 10:00:00").getTime * 1000L)
    } finally q.stop()
  }

  test("sessionizer: same-batch late events merge with each other and can bridge into the open session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // gap 1500s. Open session starts 10:00. One batch then delivers BOTH
    // 09:20 (a full gap before start — alone it would be its own session)
    // and 09:40 (within gap of both 09:20 and 10:00). Batch semantics
    // chain all three into ONE session; a per-event state machine that
    // eagerly emitted 09:20 before seeing 09:40 would wrongly split it.
    val sessions = new StreamingFunnel.Sessionizer(gapSeconds = 1500)
      .sessionize(input.toDS())
    val q = sessions.writeStream
      .format("memory").queryName("bridge_sessions")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0))
      q.processAllAvailable()
      input.addData(
        Event(2L, ts("2024-01-01 09:20:00"), 7L, "view", 2.0),
        Event(3L, ts("2024-01-01 09:40:00"), 7L, "view", 4.0))
      q.processAllAvailable()
      assert(spark.table("bridge_sessions").count() === 0) // nothing split off
      input.addData(Event(4L, ts("2024-01-01 12:00:00"), 7L, "view", 0.0)) // closes it
      q.processAllAvailable()
      val closed = spark.table("bridge_sessions").as[ClosedSession].collect()
      assert(closed.length === 1)
      val s = closed.head
      assert(s.session_num === 1L)
      assert(s.n_events === 3L)
      assert(s.start_us === ts("2024-01-01 09:20:00").getTime * 1000L)
      assert(s.end_us === ts("2024-01-01 10:00:00").getTime * 1000L)
      assert(s.total_value === 7.0)
      // user 9: two same-batch too-old events (both a full gap before the
      // open session, within gap of each other) form ONE earlier closed
      // session, not two singletons
      input.addData(Event(5L, ts("2024-01-01 10:00:00"), 9L, "view", 1.0))
      q.processAllAvailable()
      input.addData(
        Event(6L, ts("2024-01-01 08:00:00"), 9L, "view", 2.0),
        Event(7L, ts("2024-01-01 08:10:00"), 9L, "view", 4.0))
      q.processAllAvailable()
      val pre = spark.table("bridge_sessions").as[ClosedSession].collect()
        .filter(_.user_id == 9L)
      assert(pre.length === 1)
      assert(pre.head.session_num === 1L)
      assert(pre.head.n_events === 2L)
      assert(pre.head.start_us === ts("2024-01-01 08:00:00").getTime * 1000L)
      assert(pre.head.end_us === ts("2024-01-01 08:10:00").getTime * 1000L)
    } finally q.stop()
  }

  test("event-time timeout flushes tail sessions once the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = new StreamingFunnel.Sessionizer(
      gapSeconds = 1800, flushWatermark = Some("1 second"))
      .sessionize(input.toDS())
    val q = sessions.writeStream
      .format("memory").queryName("flushed_sessions")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("flushed_sessions").count() === 0) // open, not timed out
      // another user's event pushes the watermark far past 7's gap deadline
      input.addData(Event(2L, ts("2024-01-02 00:00:00"), 8L, "view", 1.0))
      q.processAllAvailable()
      // one more batch so the timeout (evaluated against the advanced
      // watermark) fires
      input.addData(Event(3L, ts("2024-01-02 00:00:01"), 8L, "view", 1.0))
      q.processAllAvailable()
      val flushed = spark.table("flushed_sessions").as[ClosedSession].collect()
      assert(flushed.exists(s => s.user_id == 7L && s.n_events == 1L),
        s"tail session not flushed: ${flushed.mkString(",")}")
    } finally q.stop()
  }

  test("streaming attribution equals batch Attribution.ihc bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(1L, ts("2024-01-01 09:00:00"), 7L, "view", 1.0),
      Event(2L, ts("2024-01-01 09:30:00"), 7L, "click", 2.0),
      Event(3L, ts("2024-01-01 09:45:00"), 7L, "view", 1.0),
      Event(4L, ts("2024-01-01 10:00:00"), 7L, "purchase", 50.0),
      Event(5L, ts("2024-01-01 09:10:00"), 8L, "signup", 0.0),
      Event(6L, ts("2024-01-01 09:20:00"), 8L, "purchase", 10.0),
      // second conversion for user 7 — journey includes all 3 sessions again
      Event(7L, ts("2024-01-01 11:00:00"), 7L, "purchase", 20.0))
    val input = MemoryStream[Event]
    val attributed = new StreamingAttribution.Attributor().attribute(input.toDS())
    val q = attributed.writeStream
      .format("memory").queryName("stream_attr")
      .outputMode("append").start()
    try {
      // split across micro-batches to exercise state carry-over
      input.addData(events.take(3): _*); q.processAllAvailable()
      input.addData(events.slice(3, 6): _*); q.processAllAvailable()
      input.addData(events.drop(6): _*); q.processAllAvailable()
      val got = spark.table("stream_attr")
        .select("conversion_id", "session_id", "journey_pos", "journey_len",
          "initializer", "holder", "closer", "ihc")
        .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
        .collect().toSet

      // batch twin over the identical events
      import graft.funnel.Funnel
      import graft.operators.{Attribution, Journeys}
      val ev = events.toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = Attribution.ihc(
        Journeys.construct(Funnel.conversions(ev), Funnel.sessions(ev)))
        .select(col("conversion_id"), col("session_id"),
          col("journey_pos").cast("long"), col("journey_len"),
          col("initializer"), col("holder"), col("closer"), col("ihc"))
        .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
        .collect().toSet
      assert(got === batch) // exact double equality — same integer-ratio arithmetic
      assert(got.nonEmpty && got.map(_._1) === Set(4L, 6L, 7L))
    } finally q.stop()
  }

  test("streaming attribution lookback prunes state and bounds journeys") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val attributed = new StreamingAttribution.Attributor(
      lookbackUs = Some(3600L * 1000000L)) // 1 hour
      .attribute(input.toDS())
    val q = attributed.writeStream
      .format("memory").queryName("stream_attr_lb")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1L, ts("2024-01-01 06:00:00"), 7L, "view", 1.0), // > 1h before conv
        Event(2L, ts("2024-01-01 09:30:00"), 7L, "click", 2.0))
      q.processAllAvailable()
      input.addData(Event(3L, ts("2024-01-01 10:00:00"), 7L, "purchase", 50.0))
      q.processAllAvailable()
      val got = spark.table("stream_attr_lb")
        .select("session_id", "ihc")
        .as[(Long, Double)].collect().toMap
      assert(got.keySet === Set(2L)) // the 06:00 session is outside the window
      assert(got(2L) === 1.0)        // single-session journey takes full credit
    } finally q.stop()
  }

  test("attribution: a timely out-of-order conversion keeps sessions only the watermark may prune") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // lookback 1h, lateness 2h: after batch 1 (max event 12:00) the
    // watermark is 10:00, so the safe prune horizon is 09:00 — pruning
    // behind the NEWEST session (12:00 − 1h = 11:00) would drop the 10:00
    // session that the timely 10:30 conversion still needs
    val attributed = new StreamingAttribution.Attributor(
      lookbackUs = Some(3600L * 1000000L), flushWatermark = Some("2 hours"))
      .attribute(input.toDS())
    val q = attributed.writeStream
      .format("memory").queryName("stream_attr_ooo")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0),
        Event(2L, ts("2024-01-01 12:00:00"), 7L, "click", 2.0))
      q.processAllAvailable()
      // 10:30 ≥ watermark (10:00): Spark processes it, and its journey is
      // exactly the 10:00 session (the 12:00 one is in its future)
      input.addData(Event(3L, ts("2024-01-01 10:30:00"), 7L, "purchase", 50.0))
      q.processAllAvailable()
      val got = spark.table("stream_attr_ooo")
        .select("conversion_id", "session_id", "ihc")
        .as[(Long, Long, Double)].collect()
      assert(got.toSeq === Seq((3L, 1L, 1.0)))
    } finally q.stop()
  }

  test("attribution: purchase-only batches far past an old session's horizon do not kill the query") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val attributed = new StreamingAttribution.Attributor(
      lookbackUs = Some(600L * 1000000L), flushWatermark = Some("1 minute"))
      .attribute(input.toDS())
    val q = attributed.writeStream
      .format("memory").queryName("stream_attr_clamp")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0))
      q.processAllAvailable()
      // another user's event drives the watermark hours past user 7's
      // lookback horizon (10:10) without touching user 7's state
      input.addData(Event(2L, ts("2024-01-01 13:00:00"), 8L, "view", 1.0))
      q.processAllAvailable()
      // user 7 now gets a purchase in the SAME invocation that sees the
      // advanced watermark: the un-clamped timeout stamp (10:10 < 12:59
      // watermark) used to throw inside flatMapGroupsWithState and kill
      // the whole query; the clamped path just evicts the stale session
      input.addData(Event(3L, ts("2024-01-01 13:30:00"), 7L, "purchase", 9.0))
      q.processAllAvailable() // throws StreamingQueryException under the old code
      assert(spark.table("stream_attr_clamp").count() === 0) // empty journey, no rows
      assert(q.isActive)
    } finally q.stop()
  }

  test("attribution: flushWatermark without a lookback bound is rejected at construction") {
    // without a lookback every buffered session stays reachable forever,
    // so a flush timeout would silently change results — and the old code
    // simply never set the timeout, retaining idle users' state unbounded
    val e = intercept[IllegalArgumentException] {
      new StreamingAttribution.Attributor(flushWatermark = Some("10 minutes"))
    }
    assert(e.getMessage.contains("lookback"))
  }

  test("q34 file-stream attribution equals batch q03 on sf0.001") {
    val q34 = graft.SparkEntry.queries("q34_stream_attribution")(spark, TinySf)
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().toSet
    val q03 = graft.SparkEntry.queries("q03_attribution")(spark, TinySf)
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().toSet
    assert(q34.nonEmpty)
    assert(q34 === q03) // exact double equality — bit-equal streaming twin
  }
}
