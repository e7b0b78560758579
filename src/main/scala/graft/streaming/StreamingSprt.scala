package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.TextF.round4HalfUp

/** Streaming SPRT (Wald '45) two-arm volume monitor — the LIVE
  * sequential decision the batch experiment family (ab_test,
  * mantel_haenszel, cochran_armitage) can only render nightly: each
  * arriving event of a monitored type is a Bernoulli trial "did it
  * come from the treated arm?" (the [[graft.operators.Behavior.arm2]]
  * assignment), H₀: p = p0 (even split) vs H₁: p = p1 (treatment
  * lift), and the log-likelihood ratio accumulates until it crosses
  * Wald's boundaries A = ln((1−β)/α) (accept H₁) or B = ln(β/(1−α))
  * (accept H₀) — the earliest statistically-licensed stopping point,
  * instead of peeking at a fixed-horizon test (the p-hacking failure
  * sequential tests exist to prevent).
  *
  * State per event type is three numbers + a flag (n, n_treated,
  * llr, decided) — constant size, no per-user state, no timeout
  * needed. Exactly ONE decision row ever emits per type (Append
  * mode); after the boundary the type goes quiet, the
  * [[StreamingCusum]] `fired` contract.
  *
  * Determinism contract: within a micro-batch, trials fold in
  * (event-time, user_id) order; ACROSS batches the fold follows
  * arrival order — inherent to any sequential test (the decision
  * point is a function of the observation ORDER, which is the
  * point), pinned by StreamingSpec feeding explicit batches. LLR
  * arithmetic is double — a monitor's boundary comparison, not an
  * oracle-hashed output.
  */
object StreamingSprt {

  case class Trial(event_type: String, ts: Timestamp, arm: Int,
                   user_id: Long)
  case class St(n: Long, nTreated: Long, llr: Double, decided: Boolean)
  case class Decision(event_type: String, decision: String, n: Long,
                      n_treated: Long, llr: Double)

  def decisions(events: DataFrame, monitored: String = "purchase",
                p0: Double = 0.5, p1: Double = 0.65,
                alpha: Double = 0.05, beta: Double = 0.1): Dataset[Decision] = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0,
      s"need distinct p0/p1 in (0,1), got $p0/$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"need alpha/beta in (0,1), got $alpha/$beta")
    import events.sparkSession.implicits._
    // local vals: the state closure must not capture the enclosing
    // object (Scala objects are not Serializable)
    val bndA = math.log((1 - beta) / alpha)
    val bndB = math.log(beta / (1 - alpha))
    val up = math.log(p1 / p0)
    val dn = math.log((1 - p1) / (1 - p0))

    events.filter(col("event_type") === monitored)
      .select(col("event_type"), col("ts"),
        graft.operators.Behavior.arm2(col("user_id")).cast("int").as("arm"),
        col("user_id"))
      .as[Trial]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[St, Decision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (et, trials, state) =>
          // the shared latch + fold-order contract (SequentialMonitor)
          val (cur, out) = SequentialMonitor.latchedFold[Trial, St, Decision](
            trials, state.getOption.getOrElse(St(0L, 0L, 0.0, false)))(
            t => (t.ts.getTime, t.user_id))(_.decided) { (st, t) =>
            val treated = t.arm == 1
            val nxt = St(st.n + 1, st.nTreated + (if (treated) 1L else 0L),
              st.llr + (if (treated) up else dn), false)
            if (nxt.llr >= bndA)
              (nxt.copy(decided = true),
                Some(Decision(et, "accept_h1", nxt.n, nxt.nTreated,
                  round4HalfUp(nxt.llr))))
            else if (nxt.llr <= bndB)
              (nxt.copy(decided = true),
                Some(Decision(et, "accept_h0", nxt.n, nxt.nTreated,
                  round4HalfUp(nxt.llr))))
            else (nxt, None)
          }
          state.update(cur)
          out.iterator
      }
  }
}
