package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap sessionization: the stateful twin of the batch
  * `EventAnalytics.sessionizeOf` (30-minute inactivity gap), emitting a
  * session row when the watermark certifies no more events can join it.
  *
  * State is ONE small entry per open session per user — bounded by the
  * active-user set, reclaimed by EVENT-time timeout at last-event +
  * gap (plus the watermark delay). Event-time, not processing-time:
  * deterministic in tests and no empty wall-clock batches just to fire
  * timers (the same design as [[StreamingDedup]]).
  *
  * In-batch events for a key are sorted by event time before folding —
  * the per-group iterator arrives in shuffle order — and a batch that
  * itself contains a > gap silence closes the earlier session inline,
  * so one batch can emit several sessions for one user.
  */
object StreamingSessionize {

  case class Ev(user_id: Long, ts: Timestamp)
  case class Open(start: Long, end: Long, n: Long)
  case class Session(user_id: Long, start_ts: Timestamp, end_ts: Timestamp,
                     n_events: Long, duration_sec: Double)

  private def toSession(uid: Long, s: Open): Session =
    Session(uid, new Timestamp(s.start), new Timestamp(s.end), s.n,
      (s.end - s.start) / 1e3)

  /** @param gap inactivity gap that closes a session (and the allowed
    *            lateness horizon), e.g. "30 minutes" */
  def sessions(events: DataFrame, gap: String = "30 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    val gapMillis =
      gapMs.days * SequentialMonitor.DayMs + gapMs.microseconds / 1000L
    require(gapMs.months == 0 && gapMillis > 0,
      s"gap must be a positive sub-month duration, got '$gap'")

    events.select(col("user_id"), col("ts")).as[Ev]
      .withWatermark("ts", gap)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Open, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, evs: Iterator[Ev], state: GroupState[Open]) =>
          if (state.hasTimedOut) {
            // Watermark passed last-event + gap: nothing can extend the
            // session any more — emit and clear.
            val done = state.get
            state.remove()
            Iterator.single(toSession(uid, done))
          } else {
            val sorted = evs.map(_.ts.getTime).toArray.sorted
            var open = state.getOption
            val closed = Vector.newBuilder[Session]
            sorted.foreach { t =>
              open match {
                case Some(s) if t - s.end <= gapMillis =>
                  // min() on start: a late-but-within-watermark event
                  // can precede the open session's first event, and the
                  // batch twin (which sorts globally) would count it
                  // into this session's span.
                  open = Some(Open(math.min(s.start, t), math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closed += toSession(uid, s)
                  open = Some(Open(t, t, 1))
                case None =>
                  open = Some(Open(t, t, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              // Fire once the event-time watermark passes end + gap.
              state.setTimeoutTimestamp(s.end, gap)
            }
            closed.result().iterator
          }
      }
  }
}
