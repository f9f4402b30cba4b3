package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of the batch funnel: the reference is strictly batch
  * (SURVEY §2.8 — `schedule_interval=None`), but a 100 TB attribution
  * pipeline ingests events continuously, so the engine ships the streaming
  * surface as a first-class module:
  *
  *   - `runningCounters`: update-mode unwindowed per-key counters;
  *   - `Sessionizer`: gap-based sessionization with explicit per-user
  *     state via `flatMapGroupsWithState` — emits a session exactly once,
  *     when its closing gap is observed. Matches the batch
  *     operators.Sessionize grouping semantics for closed sessions.
  *
  * State is one small record per user; the shuffle key (user_id) is the
  * same as the batch operator's, so the plan shape survives the
  * batch→stream port unchanged.
  */
object StreamingFunnel {

  /** Update-mode running counters — the seventh streaming shape:
    * UNWINDOWED global per-key aggregation. No watermark, no window —
    * state is one row per key, it never expires, and every micro-batch
    * re-emits exactly the keys it touched with their new running totals
    * (`OutputMode.Update` at the sink; a last-write-wins store keyed on
    * `keyCol` always holds the current counters). The running sum is
    * carried in state as DECIMAL(28,12), so cross-batch accumulation
    * order can't flip double low bits — the half-up rescale to (28,6)
    * happens per emitted row, making the final state bit-reproducible
    * and oracle-checkable against the plain batch GROUP BY.
    *
    * Scale shape: same single hash exchange on the grouping key as the
    * batch A2 rollup, with map-side partial aggregation per micro-batch;
    * state volume is O(distinct keys), independent of stream length. */
  def runningCounters(events: DataFrame, keyCol: String = "event_type"): DataFrame =
    events
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast(org.apache.spark.sql.types.DecimalType(28, 6))
          .cast("double").as("sum_value"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Exact epoch micros of a Timestamp. `getTime` alone truncates to
    * MILLIS — sub-ms event times would sort/compare differently than the
    * µs-exact batch operators; the nanos field restores full precision.
    * floorDiv, not /: for pre-epoch fractional seconds getTime is negative
    * (e.g. 1969-12-31T23:59:59.5 → getTime = -500) and truncating division
    * would round toward zero, off by a full second. */
  private[streaming] def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  case class OpenSession(sessionNum: Long, startUs: Long, lastUs: Long,
      nEvents: Long, totalValue: Double)

  case class ClosedSession(user_id: Long, session_num: Long, n_events: Long,
      start_us: Long, end_us: Long, duration_us: Long, total_value: Double)

  /** Gap-based stateful sessionizer. A session closes when a later event
    * of the same user arrives more than `gapSeconds` after the session's
    * last event; the closed session is emitted exactly once (Append mode).
    * The still-open session stays in state.
    *
    * With `flushWatermark` set, the input is watermarked on `ts` and an
    * event-time timeout flushes a user's open session once the watermark
    * passes its gap deadline — without it, tail sessions (never followed
    * by another event) would sit in state forever.
    *
    * Late events — divergence bound vs batch sessionization: each micro-
    * batch is sessionized by INTERVAL MERGING over (open state ∪ sorted
    * batch events), so any arrival order WITHIN a batch produces exactly
    * the batch result — late events merge with the open session when
    * within one gap of its span, merge with EACH OTHER into earlier
    * sessions, and can bridge two candidate sessions into one. At batch
    * end every candidate but the temporally last is emitted with
    * ascending ordinals (the batch renumbering of this user's
    * not-yet-emitted sessions); the last stays open. The residual
    * divergence is strictly CROSS-batch: an event arriving after the
    * session batch semantics would have placed it in was already emitted
    * lands in its own (or the open) session instead — Append mode cannot
    * retract emitted rows — bounded by the allowed lateness and
    * impossible once the watermark passes (late-beyond-watermark events
    * are dropped upstream).
    *
    * Ordinals and state eviction: a timeout flush REMOVES the user's
    * state (that bounding is the point of `flushWatermark` — state stays
    * O(active users), not O(all users ever)), so a user who returns
    * after a flush restarts at session_num 1 and `(user_id,
    * session_num)` is NOT unique across a stream's lifetime. Keeping a
    * per-user counter alive forever would make state unbounded again.
    * Consumers needing a globally unique session key should use
    * `(user_id, start_us, end_us)`: start times alone are strictly
    * increasing at emission on the NO-late-data path, but a cross-batch
    * late event inside the allowed lateness (e.g. a replayed first
    * event timestamped at or before an already-emitted session's start)
    * is emitted as its own singleton whose start_us can equal or
    * precede an emitted session's. Adding end_us closes that gap except
    * for one degenerate case — an exact replay of an already-emitted
    * single-event session reproduces the same (start_us, end_us) span;
    * such colliding rows describe the SAME real-world span, so keying
    * on the triple merely dedups the replay. Outside the lateness
    * window no collision is possible (late-beyond-watermark events are
    * dropped upstream).
    */
  class Sessionizer(
      gapSeconds: Long = 1800L,
      flushWatermark: Option[String] = None) extends Serializable {
    private val gapUs = gapSeconds * 1000000L

    def sessionize(events: Dataset[Event]): Dataset[ClosedSession] = {
      val spark = events.sparkSession
      import spark.implicits._
      val (input, timeoutConf) = flushWatermark match {
        case Some(delay) =>
          (events.withWatermark("ts", delay).as[Event], GroupStateTimeout.EventTimeTimeout)
        case None => (events, GroupStateTimeout.NoTimeout)
      }
      input
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(process)
    }

    private def close(userId: Long, s: OpenSession): ClosedSession =
      ClosedSession(userId, s.sessionNum, s.nEvents,
        s.startUs, s.lastUs, s.lastUs - s.startUs, s.totalValue)

    private def process(
        userId: Long,
        events: Iterator[Event],
        state: GroupState[OpenSession]): Iterator[ClosedSession] = {
      if (state.hasTimedOut) {
        val flushed = state.getOption.map(close(userId, _))
        state.remove()
        return flushed.iterator
      }
      val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      // INTERVAL MERGING over (state ∪ batch): within one micro-batch the
      // events are all in hand, so sessionization can be exactly batch-
      // faithful regardless of arrival order — a per-event state machine
      // cannot be (an early too-old event must not be emitted before a
      // later same-batch event that bridges it back to the open session).
      // `ivs` holds gap-separated candidate sessions ordered by start; the
      // open session from state seeds it. Each event merges into every
      // interval within one gap of it (possibly BRIDGING two — the merged
      // result absorbs both), else starts its own. At batch end, every
      // interval except the temporally last is closed and emitted with
      // ascending ordinals from the stored session number (exactly the
      // batch renumbering for this user's not-yet-emitted sessions); the
      // last stays open in state. Boundaries only ever widen, so
      // durations stay non-negative. Cross-batch divergence is confined
      // to late events arriving AFTER the session batch semantics would
      // have put them in was emitted (Append mode cannot retract) — see
      // the class scaladoc for the bound.
      val baseNum = state.getOption.map(_.sessionNum).getOrElse(1L)
      val ivs = scala.collection.mutable.ArrayBuffer.empty[OpenSession]
      state.getOption.foreach(ivs += _)
      sorted.foreach { e =>
        val tsUs = micros(e.ts)
        // binary search, not a scan: intervals are >gap-separated, so an
        // event can touch at most the TWO ADJACENT intervals around its
        // insertion point (an interval further left ends >gap before the
        // one at pos-1 starts, hence >2·gap before tsUs; symmetrically
        // right). O(log k) per event keeps a degenerate backfill batch —
        // one user, 100k gap-separated events — from going quadratic.
        var lo = 0; var hi = ivs.length
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (ivs(m).startUs <= tsUs) lo = m + 1 else hi = m
        }
        val pos = lo // first interval starting after tsUs
        val touchIdx = Seq(pos - 1, pos).filter { i =>
          i >= 0 && i < ivs.length &&
            tsUs >= ivs(i).startUs - gapUs && tsUs <= ivs(i).lastUs + gapUs
        }
        if (touchIdx.isEmpty) {
          ivs.insert(pos, OpenSession(0L, tsUs, tsUs, 1L, e.value))
        } else {
          // merge the event and the touched interval(s) — a both-sides
          // touch BRIDGES the two neighbors into one
          val merged = touchIdx.map(ivs).reduce { (a, b) =>
            OpenSession(0L,
              math.min(a.startUs, b.startUs), math.max(a.lastUs, b.lastUs),
              a.nEvents + b.nEvents, a.totalValue + b.totalValue)
          }
          val withEvent = merged.copy(
            startUs = math.min(merged.startUs, tsUs),
            lastUs = math.max(merged.lastUs, tsUs),
            nEvents = merged.nEvents + 1,
            totalValue = merged.totalValue + e.value)
          touchIdx.reverse.foreach(ivs.remove)
          ivs.insert(touchIdx.head, withEvent)
        }
      }
      val closed = Seq.newBuilder[ClosedSession]
      val numbered = ivs.zipWithIndex.map { case (iv, i) =>
        iv.copy(sessionNum = baseNum + i)
      }
      numbered.dropRight(1).foreach(iv => closed += close(userId, iv))
      val open = numbered.lastOption
      open.foreach { s =>
        state.update(s)
        // flush once the watermark passes this session's gap deadline —
        // rounded UP to ms (floor would flush up to 1 ms early and split a
        // session an at-deadline event would have continued) and clamped
        // strictly above the current watermark: a late-but-timely event can
        // leave lastUs + gap behind the watermark, and setTimeoutTimestamp
        // THROWS on a stamp at/behind it, killing the whole query
        if (flushWatermark.isDefined)
          state.setTimeoutTimestamp(math.max(
            state.getCurrentWatermarkMs() + 1L,
            (s.lastUs + gapUs) / 1000L + 1L))
      }
      closed.result().iterator
    }
  }
}
