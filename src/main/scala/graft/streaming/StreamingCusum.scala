package graft.streaming

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextF.microsTo4dp
import graft.operators.Behavior
import SequentialMonitor.{DayMs, epochDay}

/** Streaming CUSUM changepoint monitor: the stateful twin of the batch
  * `EventAnalytics.cusumChangepointOf` (SURVEY row 169) — per event
  * type, freeze μ₀ as the integer-micro mean of the first `baseline`
  * CLOSED days, run the exact integer statistic S = Σ(qrev − μ₀) over
  * every closed day (baseline days included, the batch contract), and
  * emit the FIRST day where |S| > h·μ₀ — the sequential level-shift
  * alarm running continuously instead of nightly.
  *
  * State per event type is bounded and small: the open day's partial
  * micro-sum, at most `baseline` buffered (day, total) pairs while μ₀
  * is still forming (they replay through S the moment it freezes, so
  * a baseline-window crossing is caught exactly like the batch twin),
  * then a frozen μ₀ + running S + fired flag — a constant-size entry
  * per type after the buffer drains. A day closes when a later-day
  * event arrives for the type or the event-time timeout fires one
  * watermark past the day's end; [[StreamingEwma]]'s close-on-advance
  * shape, at day granularity.
  *
  * Divergence contract vs the batch twin (deliberate, both
  * production-correct): (1) a type that never accumulates `baseline`
  * closed days has no μ₀ and emits nothing — a stream is unbounded,
  * the baseline just hasn't finished forming (the batch twin,
  * looking at a FINISHED dataset, falls back to the mean of the days
  * it has); (2) after the first alarm the type goes quiet (`fired`),
  * matching the batch min-crossing exactly. StreamingSpec pins the
  * streamed alarm equal to the batch twin's row on the same events.
  */
object StreamingCusum {

  case class Ev(event_type: String, ts: Timestamp, value: Double)

  /** openDay/closed days are epoch-day numbers; money is exact integer
    * micros throughout ([[StreamingEwma]]'s quantization contract). */
  case class S(openDay: Long, openPartial: Long,
               buffered: List[(Long, Long)], mu0: Option[Long],
               s: Long, fired: Boolean)

  case class Alarm(event_type: String, changepoint_day: Date,
                   revenue: Double, baseline_mean: Double, cusum: Double)

  def alarms(events: DataFrame, baseline: Int = 7,
             h: Long = 1L): Dataset[Alarm] = {
    require(baseline > 0 && h > 0, s"need positive baseline/h, got $baseline/$h")
    import events.sparkSession.implicits._

    /** Fold one closed (day, qrev) into the state; emit at most one
      * alarm (the first crossing). Buffered baseline days replay in
      * day order the moment μ₀ freezes. */
    def close(st: S, day: Long, qrev: Long): (S, Option[Alarm]) =
      st.mu0 match {
        case Some(mu) =>
          val s2 = st.s + (qrev - mu)
          if (!st.fired && math.abs(s2) > h * mu)
            (st.copy(s = s2, fired = true), Some(Alarm("", // keyed later
              new Date(day * DayMs), microsTo4dp(qrev), microsTo4dp(mu),
              microsTo4dp(s2))))
          else (st.copy(s = s2), None)
        case None =>
          val buf = ((day, qrev) :: st.buffered).sortBy(_._1)
          if (buf.length < baseline) (st.copy(buffered = buf), None)
          else {
            val mu = math.floor(
              buf.map(_._2).sum.toDouble / buf.length + 0.5).toLong
            // replay the baseline days through S in day order
            var cur = st.copy(buffered = Nil, mu0 = Some(mu))
            var alarm: Option[Alarm] = None
            buf.foreach { case (d, q) =>
              val (nxt, a) = close(cur, d, q)
              cur = nxt
              if (alarm.isEmpty) alarm = a
            }
            (cur, alarm)
          }
      }

    events.select(col("event_type"), col("ts"), col("value")).as[Ev]
      .withWatermark("ts", "1 day")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[S, Alarm](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (et, evs: Iterator[Ev], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val st = state.get
            val (nxt, alarm) = close(st, st.openDay, st.openPartial)
            // μ₀/S/fired survive the timeout — the next day reopens
            // against the same history; only the open window is gone
            state.update(nxt.copy(openDay = -1L, openPartial = 0L))
            alarm.map(_.copy(event_type = et)).iterator
          } else {
            // shared fold-order contract (ts; the value has no
            // per-event identity — same-ms events fold commutatively
            // into the day's partial sum)
            val sorted = SequentialMonitor.ordered(
              evs.map(e => (e.ts.getTime, e.value)))(p => (p._1, 0L))
            var cur = state.getOption.getOrElse(S(-1L, 0L, Nil, None, 0L, false))
            val out = Vector.newBuilder[Alarm]
            sorted.foreach { case (t, v) =>
              val day = epochDay(t)
              val qv = Behavior.micro(v)
              if (cur.openDay == -1L) cur = cur.copy(openDay = day, openPartial = qv)
              else if (day == cur.openDay)
                cur = cur.copy(openPartial = cur.openPartial + qv)
              else if (day > cur.openDay) {
                val (nxt, alarm) = close(cur, cur.openDay, cur.openPartial)
                alarm.foreach(a => out += a.copy(event_type = et))
                cur = nxt.copy(openDay = day, openPartial = qv)
              } else
                // late event below the open day: inside the watermark
                // this cannot reach a CLOSED day (it was closed by a
                // newer event); fold into the open day (EWMA's guard)
                cur = cur.copy(openPartial = cur.openPartial + qv)
            }
            state.update(cur)
            if (cur.openDay >= 0L)
              // event-time-anchored close (SequentialMonitor leg 3):
              // the open day's own end, never a watermark offset
              state.setTimeoutTimestamp(
                SequentialMonitor.dayCloseTs(cur.openDay), "1 day")
            out.result().iterator
          }
      }
  }
}
