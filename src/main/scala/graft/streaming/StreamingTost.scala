package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.TextF.round6HalfUp

/** Streaming TOST equivalence gauge — the LIVE twin of
  * [[graft.operators.Behavior.tostEquivalenceOf]] (row 459), and the
  * read a progressive rollout actually wants DURING the ramp: not
  * "has the new build moved the metric?" (that is
  * [[StreamingSprt]]'s job) but "can we already CERTIFY it hasn't,
  * to within the margin?" — the one-sided pair z_lower = (Δ̄+δ)/SE,
  * z_upper = (δ−Δ̄)/SE, equivalent iff both exceed 1.644854, with
  * margin δ = 10% of the control mean, re-evaluated at every
  * micro-batch over ALL data seen so far.
  *
  * State per event type is six numbers (per-arm n, Σv, Σv²) —
  * constant size, no per-user state, no timeout. Values fold on the
  * exact CENT grid (the z's are grid-invariant; cents keep the Σv²
  * long exact to ~10⁹ events/type — the documented int64 bound; the
  * batch twin's decimal(38,0) micro grid has no such bound, which is
  * why the BATCH op is the oracle-hashed one and this is a gauge).
  * One gauge row per (type, micro-batch) emits in Append mode —
  * the [[StreamingCroston]] running-readout contract, not the
  * one-shot [[StreamingSprt]] latch: equivalence can be LOST again
  * if the treated arm drifts late in the ramp, and the gauge must
  * say so.
  *
  * Determinism contract: within a micro-batch, events fold in
  * (event-time, user_id) order; across batches, arrival order — the
  * moments are order-invariant integers, so unlike the sequential
  * detectors the FINAL gauge row is batch-order-independent and
  * StreamingSpec pins it against the batch twin's arithmetic on the
  * same events.
  */
object StreamingTost {

  case class Ev(event_type: String, ts: Timestamp, user_id: Long,
                arm: Int, vc: Long)
  case class St(n0: Long, s0: Long, ss0: Long,
                n1: Long, s1: Long, ss1: Long)
  case class Gauge(event_type: String, n0: Long, n1: Long,
                   mean_diff: Double, margin: Double,
                   z_lower: Double, z_upper: Double,
                   equivalent: Boolean)

  def gauges(events: DataFrame, marginFrac: Double = 0.1): Dataset[Gauge] = {
    require(marginFrac > 0 && marginFrac < 1,
      s"marginFrac in (0,1), got $marginFrac")
    import events.sparkSession.implicits._
    // local: the state closure must not capture the enclosing object
    val mf = marginFrac

    events
      .select(col("event_type"), col("ts"), col("user_id"),
        graft.operators.Behavior.arm2(col("user_id")).cast("int").as("arm"),
        graft.operators.Behavior.cents(col("value")).as("vc"))
      .as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[St, Gauge](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (et, evs, state) =>
          var st = state.getOption.getOrElse(St(0L, 0L, 0L, 0L, 0L, 0L))
          // shared fold-order contract; gauges take no latch by design
          SequentialMonitor.ordered(evs)(e => (e.ts.getTime, e.user_id))
            .foreach { e =>
            st =
              if (e.arm == 0)
                st.copy(n0 = st.n0 + 1, s0 = st.s0 + e.vc,
                  ss0 = st.ss0 + e.vc * e.vc)
              else
                st.copy(n1 = st.n1 + 1, s1 = st.s1 + e.vc,
                  ss1 = st.ss1 + e.vc * e.vc)
          }
          state.update(st)
          if (st.n0 < 2 || st.n1 < 2) Iterator.empty
          else {
            // the batch twin's double chain, cent grid
            val m0 = st.s0.toDouble / st.n0
            val m1 = st.s1.toDouble / st.n1
            val v0 = (st.ss0.toDouble - st.s0.toDouble * st.s0 / st.n0) /
              (st.n0 - 1)
            val v1 = (st.ss1.toDouble - st.s1.toDouble * st.s1 / st.n1) /
              (st.n1 - 1)
            val se = math.sqrt(v0 / st.n0 + v1 / st.n1)
            val delta = math.abs(m0) * mf
            val (zl, zu) =
              if (se == 0.0) (Double.NaN, Double.NaN)
              else (((m1 - m0) + delta) / se, (delta - (m1 - m0)) / se)
            val ok = !zl.isNaN && !zu.isNaN &&
              zl > 1.644854 && zu > 1.644854
            Iterator.single(Gauge(et, st.n0, st.n1,
              round6HalfUp((m1 - m0) / 100), round6HalfUp(delta / 100),
              if (zl.isNaN) Double.NaN else round6HalfUp(zl),
              if (zu.isNaN) Double.NaN else round6HalfUp(zu), ok))
          }
      }
  }
}
