package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import SequentialMonitor.{DayMs, epochDay}

/** Streaming growth-accounting gauge — the live twin of
  * `Behavior.growthAccountingOf` (SURVEY row 316): every active
  * user-day classifies new / retained / resurrected as it ARRIVES,
  * and churn rows materialize two ways — immediately when a returning
  * user reveals the gap (the batch-exact path: arrival at day d with
  * last-active l < d−1 emits the (l+1, churned) row alongside the
  * (d, resurrected) row), or by event-time timeout for users who
  * never return (the trailing churn the batch twin fences at the
  * corpus edge — here the watermark IS that fence).
  *
  * State honesty ([[StreamingGrowth]]'s contract): last-active-day is
  * an unbounded-horizon fact — the two-field per-user state is the
  * same asymptotic memory the batch min/lag pays, deliberately
  * without TTL (expiring it would re-classify returning users as
  * new). Cross-batch disorder: a user-day arriving BEHIND the user's
  * last-active day is ignored (append mode cannot retract its
  * classification); divergence from the batch twin is bounded by the
  * source's per-user disorder (row 243's measurement), and
  * StreamingSpec pins the in-order case streamed ≡ batch exactly.
  */
object StreamingGrowthAccounting {

  case class Ev(user_id: Long, ts: Timestamp)
  case class Cls(day: Timestamp, cls: String)
  case class St(last: Long, churned: Boolean)

  /** The classified user-day stream (exposed for tests — the
    * [[StreamingGrowth.firstSeenUsers]] pattern). Emits one row per
    * (user, active day) plus the churn rows; event time = the day's
    * UTC midnight.
    * @param lateness watermark delay on event time; also paces the
    *                 trailing-churn timeouts */
  def classified(events: DataFrame,
                 lateness: String = "1 day"): Dataset[Cls] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("ts")).as[Ev]
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Cls](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, evs: Iterator[Ev], state: GroupState[St]) =>
          def midnight(day: Long) = new Timestamp(day * DayMs)
          if (state.hasTimedOut) {
            // the user never came back: the trailing churn row
            val st = state.get
            state.update(St(st.last, churned = true))
            Iterator.single(Cls(midnight(st.last + 1), "churned"))
          } else {
            val days = evs.map(e => epochDay(e.ts.getTime))
              .toVector.distinct.sorted
            var st = state.getOption.getOrElse(St(Long.MinValue, churned = true))
            val out = Vector.newBuilder[Cls]
            days.foreach { d =>
              if (st.last == Long.MinValue) out += Cls(midnight(d), "new")
              else if (d == st.last + 1) out += Cls(midnight(d), "retained")
              else if (d > st.last) {
                // the gap reveals the missed churn (batch-exact) …
                if (!st.churned)
                  out += Cls(midnight(st.last + 1), "churned")
                // … and the comeback
                out += Cls(midnight(d), "resurrected")
              } // d <= last: cross-batch disorder, ignored (contract)
              if (d > st.last) st = St(d, churned = false)
            }
            state.update(st)
            // trailing churn fires when the watermark certifies the
            // day after the last active one
            if (!st.churned && st.last != Long.MinValue)
              state.setTimeoutTimestamp(math.max((st.last + 2) * DayMs,
                state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }
  }

  /** Per-day class counts, closed by the watermark — the production
    * shape. The extra delay covers the churn rows' emission lag
    * (a (t+1, churned) row materializes when the watermark passes
    * t+2, i.e. one day behind the stream's frontier).
    *
    * Sizing `closeDelay`: it must exceed the maximum EVENT-TIME JUMP
    * the frontier can make in one micro-batch, plus the ~1-day
    * emission lag. If a single batch advances the watermark by more
    * than `closeDelay` (a backfill replay draining days of backlog at
    * once), the just-emitted churn rows are already behind the new
    * watermark and the downstream aggregation silently drops them —
    * breaking the DAU flow identity (dau(t) = dau(t−1) + new +
    * resurrected − churned). The default 3 days is sized for
    * steady-state ingestion; for replay/backfill drives, derive it
    * from the replay chunk size the same way [[StreamingTwap]] sizes
    * its delay ≥ the max session span. */
  def dayCounts(events: DataFrame, lateness: String = "1 day",
                closeDelay: String = "3 days"): DataFrame =
    classified(events, lateness)
      .withWatermark("day", closeDelay)
      .groupBy(window(col("day"), "1 day"), col("cls"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("date").as("day"), col("cls"),
        col("n"))
}
