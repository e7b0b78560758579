package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextF.round6HalfUp
import graft.operators.Behavior

/** Streaming sample-ratio-mismatch (SRM) monitor: the sequential twin
  * of the batch `Behavior.srmCheckOf` — per event type, count arriving
  * events by `Behavior.arm2` (the md5 arm every experiment op
  * shares) and latch ONE alarm the first time the 50/50
  * chi-square (n0 − n1)²/(n0 + n1) crosses 10.828 (χ²₁ at α = 10⁻³ —
  * the industry SRM alpha: an SRM alarm invalidates the whole
  * experiment, so it must be an order of magnitude stricter than the
  * readout it guards) with at least `minN` observations. Catching a
  * broken bucketing TONIGHT instead of at the nightly batch check is
  * the whole point of the streaming twin.
  *
  * Divergence contract vs the batch twin (deliberate): the batch op
  * counts distinct USERS per arm (assignment integrity over a closed
  * dataset); the stream counts EVENTS — per-key distinct-user state
  * would grow with the user population, against the constant-state
  * contract, and a traffic-ratio break is the same failure read one
  * level down (documented; the spec pins the divergence).
  *
  * Built ON [[SequentialMonitor]]: leg 1 via [[SequentialMonitor
  * .latchedFold]]'s (event-time, event_id) fold order — the crossing
  * OBSERVATION is deterministic, not shuffle-order luck; leg 2 the
  * same one-shot latch as SPRT/Page-Hinkley/CUSUM (post-alarm events
  * never mutate the decided statistic); leg 3 is N/A by design — the
  * statistic is per-observation, no open day to close, so no timeout
  * is registered at all (nothing is pending between batches).
  *
  * State per type: two counts + the latch — constant size.
  */
object StreamingSrm {

  case class Ev(event_type: String, ts: Timestamp, event_id: Long,
                arm: Int)

  case class S(n0: Long, n1: Long, fired: Boolean)

  case class Alarm(event_type: String, ts: Timestamp, n0: Long, n1: Long,
                   chi2: Double)

  def alarms(events: DataFrame, minN: Long = 200L,
             threshold: Double = 10.828): Dataset[Alarm] = {
    require(minN > 0, s"minN must be positive, got $minN")
    import events.sparkSession.implicits._
    val minN0 = minN
    val thr = threshold

    events.select(col("event_type"), col("ts"), col("event_id"),
        Behavior.arm2(col("user_id")).cast("int").as("arm")).as[Ev]
      .withWatermark("ts", "1 day")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[S, Alarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (et, evs: Iterator[Ev], state: GroupState[S]) =>
          val init = state.getOption.getOrElse(S(0L, 0L, fired = false))
          val (nxt, out) = SequentialMonitor.latchedFold[Ev, S, Alarm](
            evs, init)(e => (e.ts.getTime, e.event_id))(_.fired) { (st, e) =>
            val st2 = if (e.arm == 0) st.copy(n0 = st.n0 + 1)
                      else st.copy(n1 = st.n1 + 1)
            val n = st2.n0 + st2.n1
            val d = (st2.n0 - st2.n1).toDouble
            val chi2 = d * d / n.toDouble
            if (n >= minN0 && chi2 > thr)
              (st2.copy(fired = true),
                Some(Alarm(et, e.ts, st2.n0, st2.n1,
                  round6HalfUp(chi2))))
            else (st2, None)
          }
          state.update(nxt)
          out.iterator
      }
  }
}
