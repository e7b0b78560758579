package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.TextF.microsTo4dp
import graft.operators.Behavior

/** Streaming Page–Hinkley mean-shift detector (Page '54, the Hinkley
  * sequential form) — the PER-OBSERVATION drift monitor beside
  * [[StreamingCusum]]'s day-granular changepoint alarm: CUSUM needs a
  * frozen baseline window and closed calendar days; Page–Hinkley
  * self-references its own RUNNING mean, so it starts monitoring from
  * the first event and fires on the classic "did the level drift from
  * what this stream has been" test every online-learning loop runs in
  * front of a model. Per event type: m_T = Σ(x_t − x̄_t − δ) with
  * x̄_t the running mean at arrival t, PH = m_T − min_s m_s, alarm
  * when PH > λ (upward drift; the mirrored max-gap fires downward) —
  * δ the indifference half-band, λ the evidence budget.
  *
  * All-integer on the exact micro grid: x and δ, λ quantized to 1e-6
  * units; the running mean as Σq div t (one documented ≤1-micro
  * truncation per step — a detector threshold, not an oracle-hashed
  * output); m, min m, max m exact int64 (saturation at ±9·10¹² value
  * units — far past any real drift budget). State per type is six
  * numbers + a latch — constant size, no per-user state, no timeout.
  * Exactly ONE alarm row ever emits per type (Append latch, the
  * [[StreamingCusum]] `fired` / [[StreamingSprt]] decided contract),
  * carrying the drift direction, the trial index, and the running
  * mean at the firing point.
  *
  * Determinism contract ([[StreamingSprt]]'s): within a micro-batch,
  * observations fold in (event-time, event_id) order; across batches
  * the fold follows arrival order — inherent to ANY sequential test
  * and pinned by StreamingSpec feeding explicit batches.
  */
object StreamingPageHinkley {

  case class Obs(event_type: String, ts: Timestamp, event_id: Long,
                 value: Double)
  case class St(n: Long, sum: Long, m: Long, minM: Long, maxM: Long,
                fired: Boolean)
  case class Alarm(event_type: String, direction: String, n: Long,
                   mean_at_alarm: Double, ph: Double)

  def alarms(events: DataFrame, delta: Double = 0.005,
             lambda: Double = 50.0): Dataset[Alarm] = {
    require(delta >= 0 && lambda > 0,
      s"need delta >= 0 and lambda > 0, got $delta/$lambda")
    import events.sparkSession.implicits._
    // local vals: the state closure must not capture the enclosing
    // object (Scala objects are not Serializable)
    val dq = Behavior.micro(delta)
    val lq = Behavior.micro(lambda)

    events.select(col("event_type"), col("ts"), col("event_id"),
        col("value"))
      .as[Obs]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[St, Alarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (et, obs, state) =>
          // the shared latch + fold-order contract (SequentialMonitor)
          val (cur, out) = SequentialMonitor.latchedFold[Obs, St, Alarm](
            obs, state.getOption.getOrElse(St(0L, 0L, 0L, 0L, 0L, false)))(
            o => (o.ts.getTime, o.event_id))(_.fired) { (st, o) =>
            val q = Behavior.micro(o.value)
            val n = st.n + 1
            val sum = st.sum + q
            val mean = sum / n // trunc-toward-zero running mean
            val m = st.m + (q - mean - dq)
            val minM = math.min(st.minM, m)
            val maxM = math.max(st.maxM, m)
            val nxt = St(n, sum, m, minM, maxM, false)
            if (m - minM > lq)
              (nxt.copy(fired = true),
                Some(Alarm(et, "up", n, microsTo4dp(mean),
                  microsTo4dp(m - minM))))
            else if (maxM - m > lq)
              (nxt.copy(fired = true),
                Some(Alarm(et, "down", n, microsTo4dp(mean),
                  microsTo4dp(maxM - m))))
            else (nxt, None)
          }
          state.update(cur)
          out.iterator
      }
  }
}
