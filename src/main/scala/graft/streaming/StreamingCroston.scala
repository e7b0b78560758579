package graft.streaming

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import SequentialMonitor.{DayMs, epochDay}

/** Streaming Croston demand-rate monitor: the stateful twin of the
  * batch `EventAnalytics.crostonBacktestOf` FOLD (SURVEY row 369) —
  * per item, the z/p intermittent-demand recursion updated as demand
  * days CLOSE, emitting the refreshed flat rate after every demand
  * day. The live replenishment signal a spare-parts planner reads,
  * where the batch twin backtests it nightly.
  *
  * Identical integer contract: demand sizes on the milli grid, both
  * SES updates arithmetic right shifts (z′ = (y+z)»1,
  * p′ = (gap·1000+p)»1), the seed p = (first-demand epoch-day offset
  * is NOT available on a stream, so the seed interval is 1000 — one
  * day — the one DOCUMENTED divergence: a stream has no "series
  * start" to measure the first interval from; after two updates the
  * halving has washed the seed to < 25% weight). Rate =
  * (z·1000) div p milli-units/day.
  *
  * Demand days close IN EVENT-TIME ORDER even under 1-day frontier
  * disorder: state buffers up to TWO open day buckets (the open day
  * plus one predecessor), and a day is closed — folded into z/p and
  * emitted — only when the WATERMARK passes its end (so every
  * watermark-legal late purchase for it has been counted), when a
  * third distinct day forces the oldest bucket out, or when the
  * event-time timeout fires. A purchase for openDay−1 arriving after
  * a newer day opened therefore lands in its OWN bucket and closes
  * as its own demand day, matching the batch fold (the previous
  * single-bucket design merged it into the open day, inflating z and
  * dropping an interval). Residual divergence: an arrival ≥ 2 days
  * behind the buffered frontier is DROPPED by the engine's watermark
  * filter before it reaches this operator — once d1 has survived a
  * batch boundary the global watermark is ≥ start(d0), so any event
  * in a day < d0 is late-filtered (standard streaming late-drop; the
  * batch twin would count it). The fold-into-oldest `else` arm below
  * is therefore defensive dead code kept for non-watermarked reuse;
  * the drop semantics are pinned by a StreamingSpec case. State per
  * item stays constant-size (two day partials + z/p/last) forever.
  */
object StreamingCroston {

  case class Ev(item: Long, ts: Timestamp)

  /** Up to two open day buckets, oldest in (d0, c0); d0 = -1 ⇒ none,
    * d1 = -1 ⇒ one. Invariant: d0 < d1 when both held. */
  case class St(d0: Long, c0: Long, d1: Long, c1: Long,
                z: Long, p: Long, last: Long, first: Boolean)

  case class Rate(item: Long, day: Date, n_demand: Long, z_m: Long,
                  p_m: Long, rate_mpd: Long)

  /** `events` needs (event_type, ts, props); only purchases count. */
  def rates(events: DataFrame): Dataset[Rate] = {
    import events.sparkSession.implicits._

    // Fold the oldest bucket into z/p, emit its rate, shift d1 down.
    def closeOldest(item: Long, st: St, nd: Long): (St, Long, Rate) = {
      val ym = st.c0 * 1000L
      val (z2, p2) =
        if (st.first) (ym, 1000L)
        else ((ym + st.z) >> 1, ((st.d0 - st.last) * 1000L + st.p) >> 1)
      val st2 = St(st.d1, st.c1, -1L, 0L, z2, p2, st.d0, first = false)
      val nd2 = nd + 1L
      (st2, nd2, Rate(item, new Date(st.d0 * DayMs), nd2, z2, p2,
        (z2 * 1000L) / p2))
    }

    events.filter(col("event_type") === "purchase")
      .select(
        graft.operators.Behavior.itemKey.as("item"),
        col("ts"))
      .as[Ev]
      .withWatermark("ts", "1 day")
      .groupByKey(_.item)
      .flatMapGroupsWithState[(St, Long), Rate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (item, evs: Iterator[Ev], state: GroupState[(St, Long)]) =>
          val wm = state.getCurrentWatermarkMs()
          var (cur, nd) = state.getOption
            .getOrElse((St(-1L, 0L, -1L, 0L, 0L, 1000L, -1L, first = true),
              0L))
          val out = Vector.newBuilder[Rate]
          def close(): Unit = {
            val (st2, nd2, rate) = closeOldest(item, cur, nd)
            cur = st2; nd = nd2; out += rate
          }
          if (!state.hasTimedOut) {
            val days = SequentialMonitor.ordered(evs.map(_.ts.getTime))(
              t => (t, 0L)).map(epochDay)
            days.foreach { d =>
              if (cur.d0 == -1L) cur = cur.copy(d0 = d, c0 = 1L)
              else if (d == cur.d0) cur = cur.copy(c0 = cur.c0 + 1L)
              else if (cur.d1 == -1L) {
                if (d > cur.d0) cur = cur.copy(d1 = d, c1 = 1L)
                // behind a lone bucket: the predecessor slot is
                // free, so the late day gets its OWN bucket and the
                // wm-close loop keeps the close order
                else cur = St(d, 1L, cur.d0, cur.c0,
                  cur.z, cur.p, cur.last, cur.first)
              }
              else if (d == cur.d1) cur = cur.copy(c1 = cur.c1 + 1L)
              else if (d > cur.d1) { close(); cur = cur.copy(d1 = d, c1 = 1L) }
              else if (d > cur.d0) {
                // middle insertion (d0 < d < d1): close the oldest to
                // free a slot — close() shifts (d1,c1) down into slot 0
                // — then slot the late day BELOW that survivor so both
                // are kept and the wm-close order stays event-time
                close()
                cur = St(d, 1L, cur.d0, cur.c0,
                  cur.z, cur.p, cur.last, cur.first)
              }
              else cur = cur.copy(c0 = cur.c0 + 1L) // ≥2-late residual
            }
          }
          // Watermark-gated ordered closes: a bucket is final once
          // the watermark passes its day end (1-day delay already
          // inside the watermark itself).
          while (cur.d0 >= 0L && (cur.d0 + 1L) * DayMs <= wm) close()
          state.update((cur, nd))
          if (cur.d0 >= 0L)
            state.setTimeoutTimestamp((cur.d0 + 1L) * DayMs)
          out.result().iterator
      }
  }
}
