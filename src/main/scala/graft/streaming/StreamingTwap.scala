package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextF.round4HalfUp
import SequentialMonitor.DayUs

/** Streaming TWAP-concurrency gauge — the live twin of
  * `EventAnalytics.twapConcurrencyOf` (peak says provision, the time
  * integral says bill): per closed day, sessions touching the day,
  * session-seconds inside it, and the time-weighted mean concurrency.
  *
  * Unlike [[StreamingConcurrency]]'s global sweep, the day integrals
  * are INDEPENDENT once each session is clipped to day bounds, so the
  * operator clips map-side (exact integer µs via `unix_micros` — the
  * Catalyst expression, immune to the JVM `Timestamp.getTime` ms
  * truncation) and keys state by DAY: two longs per open day, emitted
  * exactly once when the event-time watermark passes the day's
  * midnight. Arithmetic is bit-identical to the batch twin
  * (StreamingSpec pins streamed ≡ batch on closed days, including the
  * midnight split and zero-length single-event sessions).
  *
  * Correctness bound (the [[StreamingConcurrency]] contract): a
  * session's pieces enter at its END event time, so a day-N piece
  * from a session still open past N's midnight+delay would arrive
  * after N closed — size the watermark delay ≥ the max session span.
  */
object StreamingTwap {

  case class Piece(end_ts: Timestamp, day: Long, us: Long)
  case class DaySt(n: Long, us: Long)
  case class DayTwap(day: java.sql.Date, n_sessions: Long,
                     session_seconds: Double, twap_concurrent: Double)

  /** @param lateness watermark delay on the session END time; must be
    *                 ≥ the max session span for exact day attribution */
  def dayTwap(sessions: DataFrame,
              lateness: String = "30 minutes"): Dataset[DayTwap] = {
    import sessions.sparkSession.implicits._
    sessions
      .select(col("end_ts"),
        unix_micros(col("start_ts")).as("su"),
        unix_micros(col("end_ts")).as("eu"))
      // map-side clip to day bounds — the batch twin's exact µs
      // algebra (a gap-bounded session touches ≤ 2 days, so the
      // explode is ≤ 2×)
      .select(col("end_ts"),
        explode(sequence(expr(s"su div $DayUs"), expr(s"eu div $DayUs")))
          .as("day"),
        col("su"), col("eu"))
      .select(col("end_ts"), col("day"),
        (least(col("eu"), (col("day") + 1) * DayUs) -
          greatest(col("su"), col("day") * DayUs)).as("us"))
      .withWatermark("end_ts", lateness)
      .as[Piece]
      .groupByKey(_.day)
      .flatMapGroupsWithState[DaySt, DayTwap](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (day, rows: Iterator[Piece], state: GroupState[DaySt]) =>
          if (state.hasTimedOut) {
            val st = state.getOption.getOrElse(DaySt(0L, 0L))
            state.remove()
            Iterator.single(DayTwap(
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)),
              st.n,
              math.floor(st.us.toDouble / 1e3 + 0.5) / 1e3,
              round4HalfUp(st.us.toDouble / DayUs)))
          } else {
            val st0 = state.getOption.getOrElse(DaySt(0L, 0L))
            var n = st0.n
            var us = st0.us
            rows.foreach { p => n += 1L; us += p.us }
            state.update(DaySt(n, us))
            // emit when the day's midnight is certified closed
            state.setTimeoutTimestamp(math.max((day + 1) * DayUs / 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }
}
