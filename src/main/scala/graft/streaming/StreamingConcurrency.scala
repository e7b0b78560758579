package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import SequentialMonitor.{DayUs, epochDayOfMicros}

/** Streaming peak-concurrency gauge — the live twin of
  * `EventAnalytics.peakConcurrencyOf` (the capacity number ops watch on
  * a wall: provision for the MAX, bill for the mean), fed by the
  * SESSION stream ([[StreamingSessionize]]'s output, or any source of
  * closed (user, start, end) spans).
  *
  * Same sweep-line semantics as the batch operator: each session
  * contributes +1 at start and −1 one µs past its end (exclusive end —
  * ends sort before starts at the same instant, so handoffs don't
  * double-count), the running sum's per-day maximum is the day's peak,
  * and concurrency CARRIES across midnight (a session open at 23:59
  * still occupies 00:00). Running-max order only depends on the
  * (µs, delta) sort — at one instant all −1s apply before all +1s and
  * each block is monotone — so the streamed fold over (µs, delta)
  * reproduces the batch window's max exactly (StreamingSpec pins
  * streamed ≡ batch on closed days).
  *
  * State: the GLOBAL sweep is one logical fold, so the operator keys
  * on a single constant group — pending markers for still-open days
  * plus the carry (running concurrency where the last closed day
  * ended). Marker volume is sessions (events ÷ session length) and a
  * micro-batch only folds its own arrivals, so the single task sees
  * minutes of traffic per trigger, not history; state holds at most
  * the open days' markers and is reclaimed day by day as the
  * watermark closes them. A day closes — and emits exactly once, in
  * day order — when the event-time watermark passes its midnight.
  *
  * Correctness bound (documented, the batch twin has none): a
  * session's markers enter at its END event time, so a START marker
  * for an already-closed day (a span longer than the watermark delay)
  * would arrive late; size the watermark delay ≥ the max session span
  * (the gap bound its upstream sessionizer enforces).
  */
object StreamingConcurrency {

  case class Sess(user_id: Long, start_ts: Timestamp, end_ts: Timestamp)
  case class Pending(day: Long, us: Long, delta: Int)
  case class St(pending: Seq[Pending], carry: Long)
  case class DayPeak(day: java.sql.Date, n_sessions_started: Long,
                     peak_concurrent: Long)

  /** @param lateness watermark delay on the session END time; must be
    *                 ≥ the max session span for exact day attribution */
  def dayPeaks(sessions: DataFrame, lateness: String = "30 minutes"): Dataset[DayPeak] = {
    import sessions.sparkSession.implicits._
    sessions.select(col("user_id"), col("start_ts"), col("end_ts")).as[Sess]
      .withWatermark("end_ts", lateness)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[St, DayPeak](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows: Iterator[Sess], state: GroupState[St]) =>
          val prev = state.getOption.getOrElse(St(Vector.empty, 0L))
          val fresh = rows.flatMap { s =>
            // Full µs grain: getTime is ms-truncated, but Timestamp
            // keeps sub-ms in getNanos — without the remainder term,
            // µs-grain sessions collapse onto the wrong microsecond
            // and the exclusive-end/handoff ordering can flip vs the
            // batch sweep's exact unix_micros.
            val su = s.start_ts.getTime * 1000L +
              (s.start_ts.getNanos % 1000000) / 1000
            val eu = s.end_ts.getTime * 1000L +
              (s.end_ts.getNanos % 1000000) / 1000 + 1L
            Seq(Pending(epochDayOfMicros(su), su, 1),
              Pending(epochDayOfMicros(eu), eu, -1))
          }.toVector
          val all = prev.pending ++ fresh
          // Close every day whose midnight the watermark has passed,
          // oldest first — the sweep's carry chains through them.
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closable, open) = all.partition(p => (p.day + 1) * DayUs <= wmUs)
          var carry = prev.carry
          val out = closable.groupBy(_.day).toSeq.sortBy(_._1).map {
            case (day, markers) =>
              var running = carry
              var peak = Long.MinValue
              markers.sortBy(p => (p.us, p.delta)).foreach { p =>
                running += p.delta
                if (running > peak) peak = running
              }
              carry = running
              DayPeak(java.sql.Date.valueOf(
                  java.time.LocalDate.ofEpochDay(day)),
                markers.count(_.delta == 1).toLong, peak)
          }
          if (open.isEmpty && carry == 0L && out.nonEmpty) state.remove()
          else {
            state.update(St(open, carry))
            // Wake when the earliest open day's midnight is certified
            // (an empty-pending state with nonzero carry just waits
            // for the next arrivals — no day row exists to emit).
            if (open.nonEmpty) {
              val nextClose = (open.map(_.day).min + 1) * DayUs / 1000L
              // setTimeoutTimestamp requires a value > current watermark
              state.setTimeoutTimestamp(
                math.max(nextClose, state.getCurrentWatermarkMs() + 1L))
            }
          }
          out.iterator
      }
  }
}
