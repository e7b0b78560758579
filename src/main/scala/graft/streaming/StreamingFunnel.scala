package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Behavior

/** Streaming conversion-window funnel: the stateful twin of the batch
  * `Behavior.funnelWindowedOf` (view → click → purchase, each step
  * within `windowMinutes` of the previous — the greedy
  * earliest-qualifying chain, SURVEY row 193). One state entry per
  * in-flight user, finalized and emitted when the event-time
  * watermark proves the chain can no longer change.
  *
  * Exactness under reordering: the chain is RE-DERIVED from compact
  * per-user buffers on every batch, so in-batch shuffle order and
  * cross-batch lateness (within the watermark) land exactly where the
  * batch twin would put them. The buffers stay bounded because the
  * watermark caps how early a future event can be: a click can only
  * enter the chain through a view strictly before it, and every
  * future view arrives ≥ the current watermark — so candidates at or
  * below the watermark that don't qualify under the CURRENT chain
  * never will, and are pruned each batch. What survives is ≤ the
  * events inside one funnel horizon (2·window) per user plus
  * still-reorderable ones above the watermark.
  *
  * Finalization: once the watermark passes t1 + 2·window (or, for a
  * user with no view yet, the last buffered candidate) nothing can
  * qualify anymore — t2 ≤ t1+w and t3 ≤ t2+w by construction. The
  * event-time timeout fires there; users that never viewed emit
  * nothing (they never entered the funnel). `funnelReport` folds the
  * emitted per-user rows into the batch twin's 3-row report. */
object StreamingFunnel {

  case class Ev(user_id: Long, event_type: String, ts: Timestamp)

  /** minView = Long.MaxValue ⇔ no view yet; clicks/purchases are the
    * pruned candidate buffers (epoch millis). */
  case class Buf(minView: Long, clicks: List[Long], purchases: List[Long])

  case class FunnelUser(user_id: Long, view_ts: Timestamp,
                        click_ts: Option[Timestamp],
                        purchase_ts: Option[Timestamp])

  private def chain(b: Buf, wMs: Long): (Long, Option[Long], Option[Long]) = {
    val t2 = b.clicks.filter(c => c > b.minView && c <= b.minView + wMs)
      .minOption
    val t3 = t2.flatMap(t =>
      b.purchases.filter(p => p > t && p <= t + wMs).minOption)
    (b.minView, t2, t3)
  }

  private def emit(uid: Long, b: Buf, wMs: Long): Iterator[FunnelUser] =
    if (b.minView == Long.MaxValue) Iterator.empty
    else {
      val (t1, t2, t3) = chain(b, wMs)
      Iterator.single(FunnelUser(uid, new Timestamp(t1),
        t2.map(new Timestamp(_)), t3.map(new Timestamp(_))))
    }

  /** @param events streaming frame with (user_id, event_type, ts)
    * @param windowMinutes per-step conversion deadline (batch twin's
    *                      default 60) — must fit inside the 2-hour
    *                      watermark or late steps silently drop */
  def funnelUsers(events: DataFrame,
                  windowMinutes: Int = 60): Dataset[FunnelUser] = {
    require(windowMinutes > 0 && windowMinutes <= 120,
      s"windowMinutes in (0,120] to fit the watermark, got $windowMinutes")
    import events.sparkSession.implicits._
    val wMs = windowMinutes.toLong * 60000L

    events.select(col("user_id"), col("event_type"), col("ts")).as[Ev]
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Buf, FunnelUser](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, evs: Iterator[Ev], state: GroupState[Buf]) =>
          if (state.hasTimedOut) {
            val done = state.get
            state.remove()
            emit(uid, done, wMs)
          } else {
            val prev = state.getOption.getOrElse(Buf(Long.MaxValue, Nil, Nil))
            var b = prev
            evs.foreach { e =>
              val t = e.ts.getTime
              e.event_type match {
                case "view" => b = b.copy(minView = math.min(b.minView, t))
                case "click" => b = b.copy(clicks = t :: b.clicks)
                case "purchase" => b = b.copy(purchases = t :: b.purchases)
                case _ => // other event types don't participate
              }
            }
            val wm = state.getCurrentWatermarkMs()
            val (t1, t2, _) = chain(b, wMs)
            // Prune: keep a candidate iff it qualifies under the
            // current chain, or a future (≥ watermark) event could
            // still pull it in (see scaladoc).
            b = b.copy(
              clicks = b.clicks.filter(c =>
                (t1 != Long.MaxValue && c > t1 && c <= t1 + wMs) || c > wm),
              purchases = b.purchases.filter(p =>
                t2.exists(t => p > t && p <= t + wMs) || p > wm))
            if (b.minView == Long.MaxValue && b.clicks.isEmpty &&
              b.purchases.isEmpty) {
              state.remove() // nothing buffered, nothing pending
              Iterator.empty
            } else {
              state.update(b)
              val deadline =
                if (b.minView != Long.MaxValue) b.minView + 2 * wMs
                else (b.clicks ++ b.purchases).max + wMs
              // EventTimeTimeout requires a strictly-future instant
              state.setTimeoutTimestamp(math.max(deadline, wm + 1L))
              Iterator.empty
            }
          }
      }
  }

  /** Batch fold of the emitted per-user rows into the 3-row funnel
    * report — same columns and conv_pct convention as the batch twin
    * (`Behavior.funnelWindowedOf`).
    *
    * Re-entry dedup: after a user's state times out and emits, a view
    * arriving MORE than 2·window after the first (above the watermark
    * horizon) re-creates state and eventually emits a second
    * FunnelUser row for the same user_id. The batch twin chains from
    * each user's single earliest view, so the fold keeps only the
    * min-(view_ts, click_ts, purchase_ts) row per user before
    * counting — restoring exact agreement. */
  def funnelReport(users: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    users
      .groupBy(col("user_id"))
      .agg(min(struct(col("view_ts"), col("click_ts"), col("purchase_ts")))
        .as("first"))
      .select(col("user_id"), col("first.view_ts").as("view_ts"),
        col("first.click_ts").as("click_ts"),
        col("first.purchase_ts").as("purchase_ts"))
      .agg(
      count(lit(1)).as("n_view"),
      sum(when(col("click_ts").isNotNull, 1L).otherwise(0L)).as("n_click"),
      sum(when(col("purchase_ts").isNotNull, 1L).otherwise(0L)).as("n_purchase"))
      .select(explode(array(
        struct(lit("view").as("step"), lit(1).as("ord"),
          col("n_view").as("users")),
        struct(lit("click").as("step"), lit(2).as("ord"),
          col("n_click").as("users")),
        struct(lit("purchase").as("step"), lit(3).as("ord"),
          col("n_purchase").as("users")))).as("r"))
      .select(col("r.step").as("step"), col("r.ord").as("ord"),
        col("r.users").as("users"))
      .withColumn("base", max(when(col("ord") === 1, col("users"))).over(whole))
      .select(col("step"), col("ord"), col("users"),
        Behavior.convPct(col("users"), col("base")).as("conv_pct"))
      .orderBy("ord")
  }
}
