package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Behavior

/** Streaming EWMA anomaly smoother: the stateful twin of the batch
  * `EventAnalytics.ewmaSmoothOf` (λ = 1/2) over tumbling event-time
  * windows, flagging a window whose total departs from the smoothed
  * history by more than `spikeFactor`×.
  *
  * One stateful operator does both the windowed sum AND the smoothing:
  * chaining a windowed aggregate into a second stateful map is the
  * shape Spark restricts, and the EWMA is a per-key scalar anyway.
  * State per event type is ONE small entry — the open window's partial
  * sum plus the running EWMA — bounded by the type vocabulary,
  * reclaimed by event-time timeout one window after the last event.
  * Money rides as integer micros inside the state (the batch family's
  * quantization contract); the λ = 1/2 blend halves an exact integer.
  *
  * A window emits when a LATER window's event arrives for the key or
  * when the watermark times the key out — each emission folds the
  * closed window into the EWMA before the next compares against it.
  * Gaps: only OBSERVED windows smooth (the batch twin renormalizes
  * the same way — an absent day contributes nothing).
  */
object StreamingEwma {

  case class Ev(event_type: String, ts: Timestamp, value: Double)
  case class S(windowStart: Long, partialMicros: Long, ewmaMicros: Option[Long])
  case class Smoothed(event_type: String, window_start: Timestamp,
                      total: Double, ewma_prev: Option[Double], spike: Boolean)

  /** @param windowMinutes tumbling window width
    * @param spikeFactor   flag when total > factor × prior EWMA */
  def smoothed(events: DataFrame, windowMinutes: Int = 60,
               spikeFactor: Double = 2.0): Dataset[Smoothed] = {
    require(windowMinutes > 0, s"windowMinutes must be positive, got $windowMinutes")
    require(spikeFactor > 0, s"spikeFactor must be positive, got $spikeFactor")
    import events.sparkSession.implicits._
    val winMs = windowMinutes * 60000L

    def emit(et: String, ws: Long, partial: Long, prior: Option[Long]): Smoothed =
      Smoothed(et, new Timestamp(ws), partial / 1e6,
        prior.map(_ / 1e6), prior.exists(p => partial > spikeFactor * p))

    def fold(prior: Option[Long], closedPartial: Long): Long =
      prior.map(p => (p + closedPartial) / 2).getOrElse(closedPartial)

    events.select(col("event_type"), col("ts"), col("value")).as[Ev]
      .withWatermark("ts", s"$windowMinutes minutes")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[S, Smoothed](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (et, evs: Iterator[Ev], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(emit(et, s.windowStart, s.partialMicros, s.ewmaMicros))
          } else {
            // shared fold-order contract (SequentialMonitor leg 1)
            val sorted = SequentialMonitor.ordered(
              evs.map(e => (e.ts.getTime, e.value)))(p => (p._1, 0L))
            var cur = state.getOption
            val out = Vector.newBuilder[Smoothed]
            sorted.foreach { case (t, v) =>
              val ws = t - java.lang.Math.floorMod(t, winMs)
              val qv = Behavior.micro(v)
              cur match {
                case Some(s) if ws == s.windowStart =>
                  cur = Some(s.copy(partialMicros = s.partialMicros + qv))
                case Some(s) if ws > s.windowStart =>
                  out += emit(et, s.windowStart, s.partialMicros, s.ewmaMicros)
                  cur = Some(S(ws, qv, Some(fold(s.ewmaMicros, s.partialMicros))))
                case Some(s) => // late event for an already-open later window:
                  // inside the watermark this cannot happen (the window
                  // was opened by a newer event, so ws >= open start);
                  // guard anyway by folding it into the open window.
                  cur = Some(s.copy(partialMicros = s.partialMicros + qv))
                case None =>
                  cur = Some(S(ws, qv, None))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // finalize once the watermark passes the window's end
              state.setTimeoutTimestamp(s.windowStart + winMs - 1,
                s"$windowMinutes minutes")
            }
            out.result().iterator
          }
      }
  }
}
