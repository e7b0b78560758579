package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextF.round4HalfUp

/** Streaming inter-arrival monitor: the stateful twin of the batch
  * gap-percentile report (`EventAnalytics.interarrivalPercentilesOf`,
  * SURVEY row 225) — per event type, the live read of "how clumpy is
  * this feed", the number that sizes stream buffers and watermark
  * settings while the stream is running rather than after the fact.
  *
  * State per type is CONSTANT-size: the last seen event-time plus a
  * fixed 45-bucket power-of-two gap histogram (bucket b holds gaps in
  * [2^(b−1), 2^b) µs — `Corpus.tokenLenHistogramOf`'s binning, time
  * domain). An exact-quantile twin would have to buffer every gap; the
  * histogram answers p50/p90/p99 to within its bucket's factor-of-two
  * resolution with state that never grows — the sketch trade row 67
  * makes for percentiles, made explicit here.
  *
  * Divergence contract vs the batch twin (deliberate): (1) quantiles
  * are bucket UPPER BOUNDS (conservative — a buffer sized to the
  * reported p99 never undersizes), not interpolated exact values; (2)
  * an out-of-order event older than the newest processed one cannot
  * have its true neighbor gaps reconstructed without unbounded
  * buffering — it counts in `n_late` and contributes no gap (the
  * batch twin, sorting a finished dataset, computes its exact lag).
  * StreamingSpec pins in-order agreement with hand-computed buckets
  * and the late-event accounting.
  *
  * Emission: one snapshot row per type per micro-batch that changed
  * it (Append mode; monotone n_gaps — readers keep the latest), plus
  * a final snapshot on event-time timeout.
  */
object StreamingInterarrival {

  case class Ev(event_type: String, ts: Timestamp)

  case class S(lastUs: Long, nGaps: Long, nLate: Long, hist: Array[Long])

  case class Snapshot(event_type: String, n_gaps: Long, n_late: Long,
                      p50_s: Double, p90_s: Double, p99_s: Double)

  private val Buckets = 45

  /** floor(log2(gap))+1 clamped to the table; gap 0 → bucket 0. */
  private def bucketOf(gapUs: Long): Int =
    if (gapUs <= 0L) 0
    else math.min(64 - java.lang.Long.numberOfLeadingZeros(gapUs), Buckets - 1)

  def snapshots(events: DataFrame): Dataset[Snapshot] = {
    import events.sparkSession.implicits._
    val buckets = Buckets
    // 2 hours: the watermark delay, and the state's life past the
    // type's last event
    val latenessMs = 7200000L

    // Bucket upper bound 2^b µs → seconds on the 4-dp half-up grid.
    def quantile(hist: Array[Long], n: Long, q: Double): Double = {
      val need = math.ceil(n * q).toLong.max(1L)
      var cum = 0L
      var b = 0
      while (b < buckets && cum + hist(b) < need) { cum += hist(b); b += 1 }
      val boundUs = if (b == 0) 1L else 1L << math.min(b, 62)
      round4HalfUp(boundUs / 1e6)
    }
    def snap(et: String, st: S): Snapshot =
      Snapshot(et, st.nGaps, st.nLate,
        quantile(st.hist, st.nGaps, 0.5),
        quantile(st.hist, st.nGaps, 0.9),
        quantile(st.hist, st.nGaps, 0.99))

    events.select(col("event_type"), col("ts")).as[Ev]
      .withWatermark("ts", s"$latenessMs milliseconds")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[S, Snapshot](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (et, evs: Iterator[Ev], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove() // final snapshot; a reactivated type restarts
            if (st.nGaps > 0) Iterator(snap(et, st)) else Iterator.empty
          } else {
            val sorted = SequentialMonitor.ordered(evs.map(_.ts.getTime))(
              t => (t, 0L)).map(_ * 1000L)
            var st = state.getOption.getOrElse(
              S(Long.MinValue, 0L, 0L, new Array[Long](buckets)))
            val hist = st.hist.clone()
            var (last, gaps, late) = (st.lastUs, st.nGaps, st.nLate)
            sorted.foreach { us =>
              if (last == Long.MinValue) last = us
              else if (us >= last) {
                hist(bucketOf(us - last)) += 1L
                gaps += 1L
                last = us
              } else late += 1L
            }
            st = S(last, gaps, late, hist)
            state.update(st)
            // Anchor the timeout on EVENT time, not the current
            // watermark: watermark starts at 0, so a watermark-anchored
            // timeout fires on the first advance and kills live state
            // (caught by StreamingSpec: gaps reset between batches).
            if (last != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max(last / 1000L + latenessMs,
                  state.getCurrentWatermarkMs() + 1L))
            if (gaps > 0 || late > 0) Iterator(snap(et, st))
            else Iterator.empty
          }
      }
  }
}
