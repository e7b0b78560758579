package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextF.microsTo4dp
import graft.operators.Behavior
import SequentialMonitor.{DayMs, epochDay}

/** Streaming duplicate-payment fence: the stateful twin of the batch
  * `Warehouse.duplicatePaymentsOf` (SURVEY row 376) that fires the
  * suspect pair WHILE the second payment is still voidable, instead
  * of in tomorrow's audit report. Same pair contract exactly: same
  * customer, order dates within `windowDays`, totals within 1% on
  * the exact cent grid (|Δ|·100 ≤ least leg), each unordered pair
  * once (oriented min/max orderkey at emit), the smaller leg priced.
  *
  * State per customer is the order window itself — (orderkey, cents,
  * day) tuples no older than `windowDays` before the newest day seen
  * — pruned on every update and cleared outright by the event-time
  * timeout one watermark past the newest order + window (an idle
  * customer's state cannot linger). An arriving order pairs against
  * the WHOLE live window regardless of arrival order, so cross-batch
  * disorder inside the watermark finds the same pairs the batch join
  * does; StreamingSpec pins the streamed pairs' gap rollup equal to
  * the batch twin's on the same orders.
  */
object StreamingDupPayments {

  case class Ord(o_custkey: Long, o_orderkey: Long, cents: Long,
                 ts: Timestamp)

  case class Pair(o_custkey: Long, orderkey_a: Long, orderkey_b: Long,
                  gap_days: Long, risk_usd: Double)

  def pairs(orders: DataFrame, windowDays: Int = 7): Dataset[Pair] = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    import orders.sparkSession.implicits._
    val w = windowDays.toLong

    orders.select(col("o_custkey"), col("o_orderkey"),
        Behavior.cents(col("o_totalprice")).as("cents"),
        col("o_orderdate").as("ts"))
      .as[Ord]
      .withWatermark("ts", "1 day")
      .groupByKey(_.o_custkey)
      .flatMapGroupsWithState[List[(Long, Long, Long)], Pair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (cust, evs: Iterator[Ord], state: GroupState[List[(Long, Long, Long)]]) =>
          if (state.hasTimedOut) {
            state.remove() // window long gone; nothing can pair
            Iterator.empty
          } else {
            // (orderkey, cents, day); process in (day, orderkey) order
            val arriving = SequentialMonitor.ordered(evs.map(o =>
              (o.o_orderkey, o.cents, epochDay(o.ts.getTime))))(
              t => (t._3, t._1))
            var live = state.getOption.getOrElse(Nil)
            val out = Vector.newBuilder[Pair]
            arriving.foreach { case (ok, c, d) =>
              live.foreach { case (ok2, c2, d2) =>
                val gap = math.abs(d - d2)
                val dc = math.abs(c - c2)
                val risk = math.min(c, c2)
                if (ok2 != ok && gap <= w && dc * 100L <= risk)
                  out += Pair(cust, math.min(ok, ok2), math.max(ok, ok2),
                    gap, microsTo4dp(risk * 10000L))
              }
              live = (ok, c, d) :: live
              val newest = live.map(_._3).max
              // prune with one day of slack beyond the pair window:
              // a 1-day-late arrival may still need to pair with an
              // entry exactly at the window edge
              live = live.filter(_._3 >= newest - w - 1L)
            }
            state.update(live)
            val newest = live.map(_._3).max
            state.setTimeoutTimestamp((newest + w + 1L) * DayMs, "1 day")
            out.result().iterator
          }
      }
  }
}
