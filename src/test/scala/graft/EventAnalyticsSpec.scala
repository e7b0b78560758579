package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventAnalytics

class EventAnalyticsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def eventsDf(rows: (Long, Long, String)*): DataFrame =
    rows.toDF("event_id", "user_id", "s")
      .select(col("event_id"), col("user_id"), to_timestamp(col("s")).as("ts"))

  test("dailyFill densifies missing days with the previous total and flags them") {
    val ev = Seq(
      (1L, 10L, "2026-01-01 10:00:00", 2.5),
      (2L, 10L, "2026-01-01 11:00:00", 1.5), // day 1 total 4.0
      // Jan 2 missing entirely
      (3L, 10L, "2026-01-03 09:00:00", 7.0),
      (4L, 77L, "2026-01-05 09:00:00", 1.0)) // single-day user
      .toDF("event_id", "user_id", "s", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("s")).as("ts"), col("value"))
    val out = EventAnalytics.dailyFillOf(ev).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out((10L, "2026-01-01")) == ((4.0, 2L, true)))
    assert(out((10L, "2026-01-02")) == ((4.0, 0L, false)),
      "the silent day must carry Jan 1's total forward, flagged unobserved")
    assert(out((10L, "2026-01-03")) == ((7.0, 1L, true)))
    assert(out((77L, "2026-01-05")) == ((1.0, 1L, true)))
    assert(out.size == 4, s"grid spans exactly each user's active range: $out")
  }

  test("sessionize: a gap of exactly gapMinutes stays in-session; one more second splits") {
    val ev = eventsDf(
      (1L, 7L, "2026-01-01 00:00:00"),
      (2L, 7L, "2026-01-01 00:30:00"), // exactly 30 min after #1 → same session
      (3L, 7L, "2026-01-01 01:00:01"), // 30 min 1 s after #2 → new session
      (4L, 7L, "2026-01-01 01:10:00"))
    val out = EventAnalytics.sessionizeOf(ev, gapMinutes = 30).collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (session_idx, n_events)
    assert(out.toSeq == Seq((1L, 2L), (2L, 2L)))
  }

  test("session consumers agree on the session count at the gap boundary and on tied ts") {
    // The boundary frame above, plus a user with two events at the same
    // ts: the (us, event_id) order keeps them in one session.
    val ev = Seq(
      (1L, 7L, "2026-01-01 00:00:00", "view"),
      (2L, 7L, "2026-01-01 00:30:00", "click"),
      (3L, 7L, "2026-01-01 01:00:01", "view"),
      (4L, 7L, "2026-01-01 01:10:00", "purchase"),
      (5L, 8L, "2026-01-02 09:00:00", "click"),
      (6L, 8L, "2026-01-02 09:00:00", "purchase"))
      .toDF("event_id", "user_id", "s", "event_type")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"), lit("{\"k\":1}").as("props"))
    val n = EventAnalytics.sessionizeOf(ev).count()
    assert(n == 3L)
    val funnel = EventAnalytics.sessionFunnelOf(ev).collect().head
    assert(funnel.getAs[Long]("n_sessions") == n)
    def total(df: DataFrame): Long =
      df.agg(sum("n_sessions")).collect().head.getLong(0)
    assert(total(EventAnalytics.sessionDepthConversionOf(ev)) == n)
    assert(total(EventAnalytics.entryConversionOf(ev)) == n)
  }

  test("sessionize: a single-event user yields one session of duration 0") {
    val ev = eventsDf((1L, 9L, "2026-03-05 12:00:00"))
    val out = EventAnalytics.sessionizeOf(ev).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(2) == 1L)             // n_events
    assert(r.getDouble(5) == 0.0)          // duration_sec
  }

  test("sessionize rejects a non-positive gap") {
    val ev = eventsDf((1L, 1L, "2026-01-01 00:00:00"))
    intercept[IllegalArgumentException] {
      EventAnalytics.sessionizeOf(ev, gapMinutes = 0)
    }
  }

  private def valuesDf(rows: (Long, Long, Double)*): DataFrame =
    rows.toDF("event_id", "user_id", "value")

  test("zscore: flags the outlier and skips sd=0 and n=1 users") {
    val ev = valuesDf(
      // user 1: one extreme value among near-constant noise
      (1L, 1L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0), (4L, 1L, 1.0), (5L, 1L, 100.0),
      // user 2: constant values → sd = 0 → never an outlier
      (6L, 2L, 5.0), (7L, 2L, 5.0), (8L, 2L, 5.0),
      // user 3: single event → n = 1 → never an outlier
      (9L, 3L, 1e9))
    val out = EventAnalytics.zscoreOutliersOf(ev, threshold = 1.5).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(5L))
    assert(out.head.getDouble(3) > 1.5) // the z value itself
  }

  test("interval join: start and end days are inclusive, outside days excluded") {
    val ev = eventsDf(
      (1L, 1L, "2026-01-01 08:00:00"), // day before start → out
      (2L, 1L, "2026-01-02 08:00:00"), // start day → in
      (3L, 1L, "2026-01-04 08:00:00"), // inside → in
      (4L, 1L, "2026-01-06 08:00:00"), // end day → in
      (5L, 1L, "2026-01-07 08:00:00")) // day after end → out
      .withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0))
    val camp = Seq((0L, "2026-01-02", "2026-01-06"))
      .toDF("campaign_id", "s", "e")
      .select(col("campaign_id"), to_date(col("s")).as("start_day"),
        to_date(col("e")).as("end_day"))
    val out = EventAnalytics.intervalJoinOf(ev, camp).collect()
    assert(out.length == 1)
    assert(out.head.getLong(2) == 3L) // n_events: days 2, 4, 6
  }

  test("interval join: overlapping windows each count the shared event") {
    val ev = eventsDf((1L, 1L, "2026-01-03 08:00:00"))
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(2.5))
    val camp = Seq(
      (0L, "2026-01-01", "2026-01-05"),
      (1L, "2026-01-03", "2026-01-07"),
      (2L, "2026-01-05", "2026-01-09")) // misses the event
      .toDF("campaign_id", "s", "e")
      .select(col("campaign_id"), to_date(col("s")).as("start_day"),
        to_date(col("e")).as("end_day"))
    val out = EventAnalytics.intervalJoinOf(ev, camp).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out == Seq((0L, 1L), (1L, 1L)))
  }

  test("rolling reach: trailing window includes earlier activity, drops expired") {
    val ev = eventsDf(
      (1L, 1L, "2024-01-01 10:00:00"),
      (2L, 2L, "2024-01-01 11:00:00"),
      (3L, 1L, "2024-01-03 10:00:00"),
      (4L, 3L, "2024-01-10 10:00:00")) // Jan 1/3 are > 7 days old by now
    val out = EventAnalytics.rollingReachOf(ev).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(out == Map(
      "2024-01-01" -> 2L, // u1 + u2 that day
      "2024-01-03" -> 2L, // u1 (active twice counts once) + u2 from Jan 1
      "2024-01-10" -> 1L)) // only u3 — the Jan 1-3 window expired
  }

  test("range window: time-bounded frame, equal-timestamp peers all included") {
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 1.0),
      (2L, 1L, "2024-01-01 10:05:00", 2.0), // 10:00 in its 10-min frame
      (3L, 1L, "2024-01-01 10:20:00", 4.0), // 10:05 expired (15 min ago)
      (4L, 2L, "2024-01-01 10:30:00", 1.5), // equal-ts pair: both frames
      (5L, 2L, "2024-01-01 10:30:00", 2.5)) //   must contain both rows
      .toDF("event_id", "user_id", "s", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("s")).as("ts"), col("value"))
    val out = EventAnalytics.rangeWindowOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) == ((1L, 1.0)))
    assert(out(2L) == ((2L, 3.0)))
    assert(out(3L) == ((1L, 4.0)))
    assert(out(4L) == ((2L, 4.0)), "RANGE frame includes the same-ts peer")
    assert(out(5L) == ((2L, 4.0)))
  }

  test("rolling reach: duplicate same-day events never double-count a user") {
    val ev = eventsDf(
      (1L, 5L, "2024-01-02 08:00:00"),
      (2L, 5L, "2024-01-02 20:00:00"))
    val out = EventAnalytics.rollingReachOf(ev).collect()
      .map(r => r.getLong(1)).toSeq
    assert(out == Seq(1L))
  }

  private def dailyEvents(rows: (String, String, Double)*): DataFrame =
    rows.toDF("event_type", "s", "value")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"), col("value"))

  test("ewma: a first day smooths to itself; day two blends 2:1") {
    val ev = dailyEvents(
      ("click", "2024-01-01 12:00:00", 10.0),
      ("click", "2024-01-02 12:00:00", 30.0))
    val out = EventAnalytics.ewmaSmoothOf(ev).collect()
      .map(r => r.getDate(1).toString -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(out("2024-01-01") == ((10.0, 10.0)),
      "with no history the EWMA equals the day's value")
    // (30·8192 + 10·4096) / (8192 + 4096) = 23.3333…
    assert(out("2024-01-02") == ((30.0, 23.3333)))
  }

  test("ewma: a calendar gap renormalizes over present weights, no decay-to-zero") {
    val ev = dailyEvents(
      ("click", "2024-01-01 12:00:00", 10.0),
      ("click", "2024-01-02 12:00:00", 30.0),
      ("click", "2024-01-04 12:00:00", 20.0)) // Jan 3 missing
    val out = EventAnalytics.ewmaSmoothOf(ev).collect()
      .map(r => r.getDate(1).toString -> r.getDouble(3)).toMap
    assert(!out.contains("2024-01-03"), "missing days emit no row")
    // (20·8192 + 30·2048 + 10·1024) / (8192 + 2048 + 1024) = 20.9090…
    assert(out("2024-01-04") == 20.9091)
  }

  test("ewma: beyond the horizon a day stops contributing entirely") {
    val ev = dailyEvents(
      ("click", "2024-01-01 12:00:00", 1000.0),
      ("click", "2024-01-20 12:00:00", 5.0)) // 19 days later, horizon 14
    val out = EventAnalytics.ewmaSmoothOf(ev).collect()
      .map(r => r.getDate(1).toString -> r.getDouble(3)).toMap
    assert(out("2024-01-20") == 5.0,
      "a spike older than the horizon must not leak into the EWMA")
  }

  test("ewma rejects a degenerate horizon") {
    val ev = dailyEvents(("click", "2024-01-01 12:00:00", 1.0))
    intercept[IllegalArgumentException] {
      EventAnalytics.ewmaSmoothOf(ev, horizon = 0)
    }
  }

  test("seasonal profile: index is the weekday mean over the overall mean") {
    // 2024-01-01 is a Monday → epoch-day 19723, 19723 % 7 = 4.
    val ev = dailyEvents(
      ("click", "2024-01-01 12:00:00", 10.0),  // Mon
      ("click", "2024-01-02 12:00:00", 30.0),  // Tue
      ("click", "2024-01-08 12:00:00", 20.0),  // Mon again
      ("click", "2024-01-08 13:00:00", 10.0))  // same day, same total
    val out = EventAnalytics.seasonalProfileOf(ev).collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out.keySet == Set(4, 5), "Mon and Tue under the mod-7 convention")
    // Mondays: (10 + 30)/2 = 20; Tuesday: 30; overall: 70/3.
    assert(out(4) == ((2L, 20.0, 0.8571)), "20 / (70/3) rounds half-up to 4dp")
    assert(out(5) == ((1L, 30.0, 1.2857)))
  }

  test("top paths window sequences inside sessions and never across the gap") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:01:00", "click"),
      (3L, 1L, "2024-01-01 10:02:00", "purchase"),
      (4L, 1L, "2024-01-01 10:03:00", "view"),
      // > 30 min gap → new session; no path may bridge it
      (5L, 1L, "2024-01-01 11:00:00", "view"),
      (6L, 1L, "2024-01-01 11:01:00", "click"),
      (7L, 1L, "2024-01-01 11:02:00", "purchase"))
      .toDF("event_id", "user_id", "t", "event_type")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("t")).as("ts"), col("event_type"))
    val out = EventAnalytics.topPathsOf(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map(
      "view>click>purchase" -> 2L,
      "click>purchase>view" -> 1L), s"got $out")
  }

  test("target encoding excludes the row's own label and falls back to the prior") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 10.0), (2L, 1L, 20.0), (3L, 1L, 30.0), // item 1
      (4L, 2L, 100.0))                                 // singleton item
      .map { case (id, k, v) => (id, s"""{"k": $k}""", v) }
      .toDF("event_id", "props", "value")
    val out = EventAnalytics.targetEncodeOf(ev).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // μ = 160/4 = 40. e1: (60−10 + 50·40)/(2+50) = 2050/52 = 39.4231
    assert(out(1L) == 39.4231, s"got $out")
    assert(out(2L) == 39.2308, "(40 + 2000)/52")
    // a singleton's own value cancels: enc = 50·μ/50 = μ exactly
    assert(out(4L) == 40.0)
  }

  test("seasonal outliers judge a day against its weekday peers, leave-one-out") {
    val ev = dailyEvents(
      ("click", "2024-01-01 10:00:00", 10.0),  // Mon
      ("click", "2024-01-08 10:00:00", 10.0),  // Mon
      ("click", "2024-01-15 10:00:00", 30.0),  // Mon spike: 30/10 = 3.0
      ("click", "2024-01-02 10:00:00", 99.0))  // lone Tuesday: excluded
    val out = EventAnalytics.seasonalOutliersOf(ev).collect()
    assert(out.length == 1, s"got ${out.toSeq}")
    assert(out.head.getDate(1).toString == "2024-01-15")
    assert(out.head.getDouble(4) == 3.0,
      "LOO baseline is the other two Mondays' mean, not one inflated by the spike")
    // the 10-revenue Mondays sit exactly AT ratio 0.5 — strict bound, kept
  }

  test("change contribution decomposes the day-over-day delta additively") {
    val ev = dailyEvents(
      ("click", "2024-01-01 10:00:00", 10.0), ("click", "2024-01-02 10:00:00", 20.0),
      ("view", "2024-01-01 10:00:00", 8.0), ("view", "2024-01-02 10:00:00", 3.0))
    val out = EventAnalytics.changeContribOf(ev).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    // Δtotal = +10 − 5 = 5: click contributes 200%, view −100%
    assert(out("click") == ((10.0, 2.0)), s"got $out")
    assert(out("view") == ((-5.0, -1.0)))
  }

  test("change contribution leaves shares NULL when the total change is zero") {
    val ev = dailyEvents(
      ("click", "2024-01-01 10:00:00", 10.0), ("click", "2024-01-02 10:00:00", 15.0),
      ("view", "2024-01-01 10:00:00", 8.0), ("view", "2024-01-02 10:00:00", 3.0))
    val out = EventAnalytics.changeContribOf(ev).collect()
    assert(out.forall(_.isNullAt(4)), "0/0 must not read as 100%")
  }

  test("gini: equal users score 0; concentration raises it") {
    import spark.implicits._
    def ev(rows: (Long, Long, Double)*) = rows
      .toDF("event_id", "user_id", "value")
      .select(col("event_id"), col("user_id"),
        org.apache.spark.sql.functions.lit("click").as("event_type"),
        org.apache.spark.sql.functions.to_timestamp(
          org.apache.spark.sql.functions.lit("2024-01-01 10:00:00")).as("ts"),
        col("value"))
    val equal = EventAnalytics.giniConcentrationOf(
      ev((1L, 1L, 5.0), (2L, 2L, 5.0), (3L, 3L, 5.0))).collect().head
    assert(equal.getDouble(3) == 0.0)
    // users 1 and 3 micros: sorted Σi·x = 1·1 + 2·3 = 7 (in units of x):
    // G = (14 − 12)/8 = 0.25
    val skewed = EventAnalytics.giniConcentrationOf(
      ev((1L, 1L, 1.0), (2L, 2L, 3.0))).collect().head
    assert(skewed.getDouble(3) == 0.25, s"got ${skewed.getDouble(3)}")
  }

  test("category collapse keeps the top-N and maps the tail to OTHER") {
    import spark.implicits._
    val ev = (Seq.fill(5)(7L) ++ Seq.fill(3)(9L) ++ Seq.fill(1)(4L))
      .zipWithIndex
      .map { case (k, i) => (i.toLong, s"""{"k": $k}""") }
      .toDF("event_id", "props")
    val out = EventAnalytics.categoryCollapseOf(ev, keepTop = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getString(3))).toMap
    assert(out(7L) == ((5L, 1, "7")), s"got $out")
    assert(out(9L) == ((3L, 2, "9")))
    assert(out(4L) == ((1L, 3, "OTHER")), "the tail collapses")
  }

  test("cusum flags the first day the cumulative shift crosses the baseline unit") {
    // 7 baseline days at 10, then a sustained shift to 30: S jumps to
    // +20 on day 8 (> 1·μ0 = 10) — the regime change, not a single spike.
    val ev = dailyEvents((1 to 9).map { d =>
      ("click", f"2024-01-$d%02d 10:00:00", if (d <= 7) 10.0 else 30.0)
    }: _*)
    val out = EventAnalytics.cusumChangepointOf(ev).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getDate(1).toString == "2024-01-08", s"got $r")
    assert(r.getDouble(2) == 30.0 && r.getDouble(3) == 10.0 && r.getDouble(4) == 20.0)
  }

  test("cusum stays silent on a stationary series") {
    val ev = dailyEvents((1 to 14).map(d =>
      ("view", f"2024-01-$d%02d 10:00:00", 5.0)): _*)
    assert(EventAnalytics.cusumChangepointOf(ev).isEmpty)
  }

  test("acf: alternating series is negative at lag 1, positive at lag 2") {
    // type a counts by day: 1,3,1,3 → deviations (n·x−S) = −4,4,−4,4
    // den = 64; lag1 = −48 → −0.75; lag2 = 32 → 0.5; lag3 = −16 → −0.25
    val a = (1 to 4).flatMap { d =>
      (1 to (if (d % 2 == 0) 3 else 1)).map(_ => ("a", f"2024-01-0$d 10:00:00", 1.0))
    }
    val ev = dailyEvents(a: _*)
    val out = EventAnalytics.acfDailyOf(ev).collect()
      .map(r => r.getInt(1) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(out(1).contains(-0.75), s"got $out")
    assert(out(2).contains(0.5) && out(3).contains(-0.25))
    // lags past the series length exist but are undefined
    assert(out(4).isEmpty && out(7).isEmpty)
  }

  test("acf: absent days enter the grid as exact zeros") {
    // type b on days 1 and 4 of a 4-day grid (type a spans it):
    // x = 1,0,0,1 → d = 2,−2,−2,2; den = 16; lag3 = 4 → 0.25
    val ev = dailyEvents(
      ("a", "2024-01-01 10:00:00", 1.0), ("a", "2024-01-04 10:00:00", 1.0),
      ("b", "2024-01-01 10:00:00", 1.0), ("b", "2024-01-04 10:00:00", 1.0))
    val out = EventAnalytics.acfDailyOf(ev).collect()
      .filter(_.getString(0) == "b")
    assert(out.forall(_.getLong(2) == 4L), "grid spans all four days")
    val lag3 = out.find(_.getInt(1) == 3).get
    assert(lag3.getDouble(3) == 0.25)
    val lag1 = out.find(_.getInt(1) == 1).get
    assert(lag1.getDouble(3) == -0.25, "zero days count, not splice")
  }

  test("temporal split: boundaries, embargo, and the leakage column") {
    import java.sql.Timestamp
    def t(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    val ev = Seq(
      (1L, 1L, t(1)),   // train
      (2L, 1L, t(30)),  // test — u1 leaks from train
      (3L, 2L, t(22)),  // embargo (8 days before report, inside 7+2)
      (4L, 3L, t(20)),  // train (10 days out)
      (5L, 4L, t(24)))  // test boundary: 6 days out, < 7
      .toDF("event_id", "user_id", "ts")
    val out = EventAnalytics.temporalSplitOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5))))
      .toMap
    assert(out("train") == ((2L, 2L, 2L)), s"got $out")
    assert(out("embargo") == ((1L, 1L, 0L)))
    assert(out("test") == ((2L, 2L, 1L)), "u1 overlaps train; u4 is new")
  }

  test("seasonal profile: a constant series indexes 1.0 on every weekday") {
    val ev = dailyEvents((1 to 14).map(d =>
      ("view", f"2024-01-$d%02d 09:00:00", 5.0)): _*)
    val out = EventAnalytics.seasonalProfileOf(ev).collect()
    assert(out.length == 7)
    assert(out.forall(_.getDouble(4) == 1.0))
    assert(out.forall(_.getLong(2) == 2L), "14 days cover each weekday twice")
  }

  test("burstiness: a metronome disperses at 0, a two-day clump prices its variance; zero days count") {
    val ev = dailyEvents(
      // "steady": exactly 1/day over 4 days → variance 0 → D = 0
      ("steady", "2024-01-01 09:00:00", 1.0),
      ("steady", "2024-01-02 09:00:00", 1.0),
      ("steady", "2024-01-03 09:00:00", 1.0),
      ("steady", "2024-01-04 09:00:00", 1.0),
      // "bursty": 3 events day 1 + 1 event day 4; days 2-3 are REAL
      // zeros of the series (n = span = 4): counts (3,0,0,1) →
      // D = (4·10 − 16)/(4·4) = 1.5, mean 1.0
      ("bursty", "2024-01-01 09:00:00", 1.0),
      ("bursty", "2024-01-01 10:00:00", 1.0),
      ("bursty", "2024-01-01 11:00:00", 1.0),
      ("bursty", "2024-01-04 09:00:00", 1.0))
    val out = EventAnalytics.burstinessOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("steady") == ((4L, 4L, 1.0, 0.0)), s"got $out")
    assert(out("bursty") == ((4L, 4L, 1.0, 1.5)), s"got $out")
  }

  test("interarrival percentiles: exact gap quantiles per type; singletons emit nothing") {
    val ev = Seq(
      // "click": gaps 10 s and 30 s → p50 = 20, p90 = 28, p99 = 29.8
      ("click", "2024-01-01 00:00:00"), ("click", "2024-01-01 00:00:10"),
      ("click", "2024-01-01 00:00:40"),
      ("view", "2024-01-01 09:00:00")) // one event → no gap
      .zipWithIndex.map { case ((t, s), i) => (i.toLong, t, s) }
      .toDF("event_id", "event_type", "s")
      .select(col("event_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"))
    val out = EventAnalytics.interarrivalPercentilesOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("click") == ((2L, 20.0, 28.0, 29.8)), s"got $out")
    assert(!out.contains("view"), "a single event has no inter-arrival time")
  }

  test("conformal interval: the finite-sample coverage guarantee holds exactly") {
    import java.sql.Timestamp
    // 40 users, one event each, value = user index; the md5 split
    // assigns sides deterministically.
    val events = (1 to 40).map(u =>
      ("click", u.toLong, Timestamp.valueOf("2026-01-01 10:00:00"), u.toDouble))
      .toDF("event_type", "user_id", "ts", "value")
    val r = graft.operators.EventAnalytics.conformalIntervalOf(events)
      .collect().head
    val (nTrain, nCalib) = (r.getLong(1), r.getLong(2))
    assert(nTrain + nCalib == 40L, s"every event lands on one side: $r")
    assert(nTrain > 0 && nCalib > 0, "md5 split uses both sides")
    // Split-conformal guarantee: coverage >= ceil(0.9(n+1))/n >= 0.9
    // whenever k <= n; distinct residual ties can only raise it.
    if (nCalib >= 9) assert(r.getDouble(5) >= 0.9, s"coverage: $r")
    // q-hat is an achieved residual: some calib point sits exactly on
    // the interval edge.
    val re = graft.operators.EventAnalytics.conformalIntervalOf(events)
    assert(re.collect().head == r, "bit-deterministic across runs")
  }

  test("conformal interval: a constant signal calibrates to a zero-width interval") {
    import java.sql.Timestamp
    val events = (1 to 30).map(u =>
      ("view", u.toLong, Timestamp.valueOf("2026-01-01 10:00:00"), 5.0))
      .toDF("event_type", "user_id", "ts", "value")
    val r = graft.operators.EventAnalytics.conformalIntervalOf(events)
      .collect().head
    assert(r.getDouble(3) == 5.0 && r.getDouble(4) == 0.0 &&
      r.getDouble(5) == 1.0, s"mean 5, qhat 0, full coverage: $r")
  }

  test("disorder audit: backward arrivals counted per adjacent pair, max jump exact") {
    import java.sql.Timestamp
    def ts(sec: Int) = Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")
    // Arrival order (event_id): times 0, 10, 5, 20 -> one backward
    // step of 5 s among 3 pairs.
    val events = Seq((1L, "click", ts(0)), (2L, "click", ts(10)),
      (3L, "click", ts(5)), (4L, "click", ts(20)),
      (5L, "view", ts(0)), (6L, "view", ts(1)))
      .toDF("event_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.disorderAuditOf(events)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("click") == ((3L, 1L, 333333L, 5.0)), s"got $out")
    assert(out("view") == ((2L - 1L, 0L, 0L, 0.0)), "ordered feed reads zero")
  }

  test("forecast backtest: a clean weekly cycle makes lag-7 exact and lag-1 wrong") {
    import java.sql.Timestamp
    // 21 days of counts 1,1,1,1,1,1,8 repeating: lag-7 predicts
    // perfectly on days 8-21; lag-1 misses at every weekend boundary.
    val events = (1 to 21).flatMap { d =>
      val n = if (d % 7 == 0) 8 else 1
      (1 to n).map(i => ("click",
        Timestamp.valueOf(f"2026-01-$d%02d 10:00:00")))
    }
    val r = graft.operators.EventAnalytics
      .forecastBacktestOf(events.toDF("event_type", "ts")).collect().head
    assert(r.getLong(1) == 14L, s"days 8-21 score: $r")
    assert(r.getLong(2) == 0L, "lag-7 is exact on a pure weekly cycle")
    assert(r.getLong(3) > 0L && r.getBoolean(4), "lag-1 pays at each jump")
  }

  test("return time: the gap is session end to next session start") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(s"2026-01-01 $t")
    // One user: session 10:00-10:05 (two events), then 14:00.
    val events = Seq((1L, 1L, ts("10:00:00")), (2L, 1L, ts("10:05:00")),
      (3L, 1L, ts("14:00:00")))
      .toDF("event_id", "user_id", "ts")
    val r = graft.operators.EventAnalytics.returnTimeOf(events).collect().head
    assert(r.getLong(0) == 1L)
    assert(r.getDouble(1) == 3.9167 && r.getDouble(2) == 3.9167,
      s"3 h 55 m on the 4-dp grid: $r")
  }

  test("peak concurrency: overlapping sessions stack, handoffs do not") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(s"2026-01-01 $t")
    // u1 one session 10:00-11:00 (25-min steps stay under the gap),
    // u2 10:30 inside it -> peak 2; u3 13:00 alone after both end.
    val events = Seq((1L, 1L, ts("10:00:00")), (2L, 1L, ts("10:25:00")),
      (3L, 1L, ts("10:50:00")), (4L, 1L, ts("11:00:00")),
      (5L, 2L, ts("10:30:00")), (6L, 3L, ts("13:00:00")))
      .toDF("event_id", "user_id", "ts")
    val r = graft.operators.EventAnalytics.peakConcurrencyOf(events)
      .collect().head
    assert(r.getLong(1) == 3L, s"three sessions started: $r")
    assert(r.getLong(2) == 2L, s"u1 and u2 overlap at 10:30: $r")
  }

  test("twap: midnight session splits across days, single events count with zero seconds") {
    import java.sql.Timestamp
    // u1: one session 23:50 Jan 1 → 00:10 Jan 2 (20-min gap, one
    // session) — 600 s on each day; u2: a single event on Jan 1
    // (zero length, still a session).
    val events = Seq(
      (1L, 1L, Timestamp.valueOf("2026-01-01 23:50:00")),
      (2L, 1L, Timestamp.valueOf("2026-01-02 00:10:00")),
      (3L, 2L, Timestamp.valueOf("2026-01-01 08:00:00")))
      .toDF("event_id", "user_id", "ts")
    val out = graft.operators.EventAnalytics.twapConcurrencyOf(events)
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out("2026-01-01") == ((2L, 600.0,
      math.floor(600e6 / 86400e6 * 1e4 + 0.5) / 1e4)), s"$out")
    assert(out("2026-01-02") == ((1L, 600.0,
      math.floor(600e6 / 86400e6 * 1e4 + 0.5) / 1e4)), s"$out")
  }

  test("binary segmentation: a planted level shift splits exactly at the boundary") {
    import java.sql.Timestamp
    // Days 1-5 at total 10/day, days 6-10 at 100/day.
    val events = (1 to 10).map { d =>
      ("click", Timestamp.valueOf(f"2026-01-$d%02d 10:00:00"),
        if (d <= 5) 10.0 else 100.0)
    }
    val r = graft.operators.EventAnalytics
      .binarySegmentationOf(events.toDF("event_type", "ts", "value"))
      .collect().head
    assert(r.getDate(1).toString == "2026-01-05", s"split after day 5: $r")
    assert(r.getLong(2) == 5L && r.getLong(3) == 5L)
    assert(r.getDouble(4) == 10.0 && r.getDouble(5) == 100.0)
    assert(r.getDouble(6) == 1.0, "a clean step explains all variance")
  }

  test("binary segmentation: fewer than three days emits nothing") {
    import java.sql.Timestamp
    val events = Seq(("view", Timestamp.valueOf("2026-01-01 10:00:00"), 1.0),
      ("view", Timestamp.valueOf("2026-01-02 10:00:00"), 2.0))
      .toDF("event_type", "ts", "value")
    assert(graft.operators.EventAnalytics.binarySegmentationOf(events)
      .collect().isEmpty)
  }

  test("session sweep: matches a real sessionize run at each threshold") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(s"2026-01-01 $t")
    val events = Seq(
      (1L, 1L, ts("10:00:00")), (2L, 1L, ts("10:10:00")), // 10-min gap
      (3L, 1L, ts("10:50:00")),                            // 40-min gap
      (4L, 2L, ts("12:00:00")), (5L, 2L, ts("12:02:00")))  // 2-min gap
      .toDF("event_id", "user_id", "ts")
    val sweep = graft.operators.EventAnalytics.sessionSweepOf(events)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    for (g <- Seq(5, 15, 30, 60)) {
      val direct = graft.operators.EventAnalytics
        .sessionizeOf(events, gapMinutes = g).count()
      assert(sweep(g) == direct,
        s"one-pass sweep must equal sessionize at $g min: ${sweep(g)} vs $direct")
    }
    assert(sweep(5) == 4L && sweep(60) == 2L, s"knee visible: $sweep")
  }

  test("watermark loss: each lateness threshold drops exactly the too-late events") {
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(s"2026-01-01 $t")
    // Arrival order: 10:00, 11:00, then stragglers 3 min and 40 min
    // behind the 11:00 high-water mark.
    val events = Seq((1L, "click", ts("10:00:00")), (2L, "click", ts("11:00:00")),
      (3L, "click", ts("10:57:00")), (4L, "click", ts("10:20:00")))
      .toDF("event_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.watermarkLossOf(events)
      .collect().map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(1) == ((2L, 500000L)), s"1-min watermark loses both stragglers: $out")
    assert(out(5) == ((1L, 250000L)), "5-min keeps the 3-min-late event")
    assert(out(30) == ((1L, 250000L)) && out(120) == ((0L, 0L)))
  }

  test("seasonal decompose: weekly bump separates into flat trend + weekday effect, residual 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 21 days, one event/day: $100 base, +$70 every 7th day. Every
    // full 7-day frame sums to 770 -> trend 110; the bumped weekday's
    // effect is +60, the others -10; residuals vanish exactly.
    val rows = (0 until 21).map { d =>
      val day = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d))
      val v = if (d % 7 == 0) 170.0 else 100.0
      (d.toLong, 1L, "click", v, new java.sql.Timestamp(day.getTime))
    }
    val ev = rows.toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.operators.EventAnalytics.seasonalDecomposeOf(ev).collect()
      .map(r => r.getDate(1).toString ->
        (Option(r.get(3)).map(_.asInstanceOf[Double]),
         Option(r.get(4)).map(_.asInstanceOf[Double]),
         Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    assert(out.size == 21)
    // edge days (first 3, last 3) carry no full frame -> NULL trend
    assert(out("2024-01-01")._1.isEmpty && out("2024-01-21")._1.isEmpty)
    val full = out.filter(_._2._1.nonEmpty)
    assert(full.size == 15, s"days 4-18 have full centered frames: ${full.keys}")
    assert(full.values.forall(_._1 == Some(110.0)), s"flat trend: $full")
    assert(full.values.forall(_._3 == Some(0.0)), s"exact residuals: $full")
    // bumped weekday (2024-01-08 is a bump day inside the full range)
    assert(out("2024-01-08")._2 == Some(60.0))
    assert(out("2024-01-09")._2 == Some(-10.0))
  }

  test("weekday envelope: per-dow quantiles interpolate over exactly that weekday's days") {
    import spark.implicits._
    // 3 weeks, one event/day, same values {10, 20, 40} on every
    // weekday: p10 = 10 + 0.2·10 = 12, p50 = 20, p90 = 20 + 0.8·20 = 36.
    val rows = (0 until 21).map { d =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(d)
      val v = Seq(10.0, 20.0, 40.0)(d / 7)
      (d.toLong, 1L, "view", v,
        java.sql.Timestamp.valueOf(day.atTime(12, 0)))
    }
    val ev = rows.toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.operators.EventAnalytics.weekdayEnvelopeOf(ev).collect()
    assert(out.length == 7, "one row per weekday")
    assert(out.forall(r => r.getLong(2) == 3L &&
      r.getDouble(3) == 12.0 && r.getDouble(4) == 20.0 &&
      r.getDouble(5) == 36.0), s"got ${out.toSeq}")
  }

  test("entry conversion: sessions credit their FIRST event's item, ppm exact") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 1, session 1: entry item 7, converts
      (1L, 1L, "view", """{"k": 7}""", t("2024-01-01 10:00:00")),
      (2L, 1L, "purchase", """{"k": 9}""", t("2024-01-01 10:10:00")),
      // user 1, session 2 (gap > 30 min): entry item 8, no purchase
      (3L, 1L, "view", """{"k": 8}""", t("2024-01-01 12:00:00")),
      // user 2, one session: entry item 7, no purchase
      (4L, 2L, "view", """{"k": 7}""", t("2024-01-01 10:00:00")),
      (5L, 2L, "click", """{"k": 5}""", t("2024-01-01 10:05:00")))
      .toDF("event_id", "user_id", "event_type", "props", "ts")
    val out = graft.operators.EventAnalytics.entryConversionOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(
      7L -> ((2L, 1L, 500000L)),
      8L -> ((1L, 0L, 0L))), s"got $out")
  }

  test("session-campaign overlap: exact-microsecond clipping at window edges, pairs dedup") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // Campaign 0 covers [day0 00:00, day0+5 00:00). One session
    // strides the campaign END boundary: 23:30 on day4 -> 00:30 on
    // day5 (single session, 60-min gap tolerance via events 20 min
    // apart) — only the part before midnight counts.
    val ev = Seq(
      (1L, 1L, t("2024-01-05 23:30:00")), (2L, 1L, t("2024-01-05 23:50:00")),
      (3L, 1L, t("2024-01-06 00:10:00")), (4L, 1L, t("2024-01-06 00:30:00")),
      // an in-window instant session (one event), also pinning day0
      (5L, 2L, t("2024-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val campaigns = graft.operators.EventAnalytics.campaignWindows(ev, 1)
    val out = graft.operators.EventAnalytics
      .sessionCampaignOverlapOf(ev, campaigns).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // day0 = 2024-01-01: campaign 0 = [01-01 00:00, 01-06 00:00).
    // The striding session [23:30 01-05, 00:30 01-06 + 1 µs) clips at
    // the campaign end -> exactly 1800 s; the instant session adds
    // 1 µs; 1800.000001 + 0.000001 rounds to 1800.0 at 4 dp.
    assert(out(0L)._1 == 2L, s"got $out")
    assert(out(0L)._2 == 1800.0, s"midnight clipping must be exact: $out")
  }

  // y(t) events for one type over idx 0..days-1 starting Jan 1, y
  // copies of the event per day.
  private def countedSeries(tpe: String, days: Int, y: Int => Int) =
    (0 until days).flatMap { t =>
      (0 until y(t)).map { i =>
        (tpe, f"2024-01-${t + 1}%02d ${10 + i / 60}%02d:${i % 60}%02d:00", 1.0)
      }
    }

  // The operator's integer Holt recursion re-derived in plain Scala.
  private def holtFold(ys: Seq[Long]): (Long, Long) = {
    var l = 0L; var b = 0L; var first = true
    for (y <- ys) {
      val ym = y * 1000L
      if (first) { l = ym; b = 0L; first = false }
      else { val l2 = (ym + l + b) >> 1; b = ((l2 - l) + b) >> 1; l = l2 }
    }
    (l, b)
  }

  test("holt backtest: trend series beats the naive, weekly series loses, ppm matches the integer fold") {
    val days = 30 // si = 15, test idx 16..29
    def yLin(t: Int) = 1 + t               // pure trend: naive errs 7/day
    def yAlt(t: Int) = if (t % 7 == 0) 20 else 5 // weekly: naive is exact
    val ev = dailyEvents(
      (countedSeries("lin", days, yLin) ++
        countedSeries("alt", days, yAlt)): _*)
    val got = EventAnalytics.holtBacktestOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    def expected(y: Int => Int) = {
      val (l, b) = holtFold((0 to 15).map(t => y(t).toLong))
      val test = (16 until days)
      val errh = test.map(t => math.abs(y(t) * 1000L - (l + (t - 15) * b))).sum
      val err7 = test.map(t => math.abs(y(t) * 1000L - y(t - 7) * 1000L)).sum
      val act = test.map(y(_).toLong * 1000L).sum
      (14L, errh * 1000000L / act, err7 * 1000000L / act, errh < err7)
    }
    assert(got("lin") == expected(yLin), s"lin: ${got("lin")} vs ${expected(yLin)}")
    assert(got("alt") == expected(yAlt), s"alt: ${got("alt")} vs ${expected(yAlt)}")
    assert(got("lin")._4, "trend series: holt must win")
    assert(!got("alt")._4, "weekly series: the naive must win")
    assert(got("alt")._3 == 0L, "naive is exact on a pure weekly series")
  }

  // The operator's integer Holt-Winters recursion re-derived in
  // plain Scala (weekly m = 7, shift halving, first-week seed).
  private def hwFold(ys: Seq[Long]): (Long, Long, Array[Long]) = {
    val ym = ys.map(_ * 1000L)
    var l = ym.take(7).sum / 7
    val s = Array.tabulate(7)(j => ym(j) - l)
    var b = 0L
    for (t <- 7 until ym.length) {
      val pos = t % 7
      val l2 = (ym(t) - s(pos) + l + b) >> 1
      b = ((l2 - l) + b) >> 1
      s(pos) = (ym(t) - l2 + s(pos)) >> 1
      l = l2
    }
    (l, b, s)
  }

  test("holt-winters backtest: trend+weekly beats lag-7, pure weekly is a double-zero tie, ppm matches the fold") {
    val days = 63 // si = 48, fold idx 7..48, test 49..62
    def yMix(t: Int) = 10 + 2 * t + 3 * (t % 7) // drift + shape: HW wins
    def yWk(t: Int) = 10 + 5 * (t % 7) // pure shape: both models exact
    // countedSeries formats a fixed January — 63 days crosses months,
    // so generate dates with LocalDate here.
    def series(tpe: String, y: Int => Int) = (0 until days).flatMap { t =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(t.toLong)
      (0 until y(t)).map(i =>
        (tpe, f"$d ${10 + i / 60}%02d:${i % 60}%02d:00", 1.0))
    }
    val ev = dailyEvents((series("mix", yMix) ++ series("wk", yWk)): _*)
    val got = EventAnalytics.holtWintersBacktestOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    def expected(y: Int => Int) = {
      val (l, b, s) = hwFold((0 to 48).map(t => y(t).toLong))
      val test = (49 until days)
      val errw = test.map(t =>
        math.abs(y(t) * 1000L - (l + (t - 48) * b + s(t % 7)))).sum
      val err7 = test.map(t => math.abs(y(t) * 1000L - y(t - 7) * 1000L)).sum
      val act = test.map(y(_).toLong * 1000L).sum
      (14L, errw * 1000000L / act, err7 * 1000000L / act, errw < err7)
    }
    assert(got("mix") == expected(yMix), s"mix: ${got("mix")} vs ${expected(yMix)}")
    assert(got("wk") == expected(yWk), s"wk: ${got("wk")} vs ${expected(yWk)}")
    assert(got("mix")._4, "drift + shape: holt-winters must win")
    assert(got("wk")._2 == 0L && got("wk")._3 == 0L && !got("wk")._4,
      "pure weekly shape: the seed is a fixed point and both models are exact")
  }

  test("croston backtest: hand-folded z/p on a 2-day-cycle item; the croston rate beats the thin mean baseline") {
    import spark.implicits._
    // Anchor item 1 pins the global span to days 0..20 (si = 6).
    // Item 2: train demands days 0,2,4,6 → z=1000, p folds
    // 1000→1500→1750→1875 → rate (1000·1000) div 1875 = 533 vs the
    // mean 4000 div 7 = 571; test demands days 8,10 (12 zero days).
    val rows =
      Seq((1L, 0), (1L, 20), (2L, 0), (2L, 2), (2L, 4), (2L, 6),
        (2L, 8), (2L, 10))
        .map { case (k, d) =>
          (s"""{"k": $k}""", "purchase", f"2024-01-${d + 1}%02d 10:00:00")
        }
    val ev = rows.toDF("props", "event_type", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = EventAnalytics.crostonBacktestOf(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // item 2: errC = 2·|1000−533| + 12·533 = 7330 → 3 665 000 ppm;
    //         errM = 2·|1000−571| + 12·571 = 7710 → 3 855 000 ppm.
    assert(got(2L) == ((4L, 533L, 571L, 3665000L, 3855000L, true)),
      s"got ${got(2L)}")
    // item 1: one training demand → rate 1000 vs mean 142; the lone
    // test hit is exact for croston but 13 zero days price the rate.
    assert(got(1L) == ((1L, 1000L, 142L, 13000000L, 2704000L, false)),
      s"got ${got(1L)}")
  }

  test("session depth conversion: gap splits sessions, purchase flags convert, 10+ bucket caps the tail") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val rows =
      // user 1 session A: depth 3, converts
      Seq((1L, 1L, "view", "2024-01-01 10:00:00"),
        (2L, 1L, "click", "2024-01-01 10:05:00"),
        (3L, 1L, "purchase", "2024-01-01 10:10:00"),
        // user 1 session B (41 min later): depth 1, no purchase
        (4L, 1L, "view", "2024-01-01 10:51:00")) ++
      // user 2: 12 views in one session → bucket 10+
      (0 until 12).map(i =>
        (10L + i, 2L, "view", f"2024-01-01 10:${i * 2}%02d:00"))
    val ev = rows.map { case (id, u, ty, s) => (id, u, ty, t(s)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.sessionDepthConversionOf(ev)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(1L -> ((1L, 0L, 0L)), 3L -> ((1L, 1L, 1000000L)),
      10L -> ((1L, 0L, 0L))), s"got $out")
  }

  test("power-user curve: only the trailing 28 days count; shares are exact ppm of windowed users") {
    import spark.implicits._
    import java.sql.Timestamp
    def day(d: String) = Timestamp.valueOf(s"$d 12:00:00")
    // max day 2024-02-28; window = 2024-02-01..02-28.
    val rows =
      (0 until 28).map(i =>
        (1L, day(java.time.LocalDate.of(2024, 2, 1).plusDays(i.toLong).toString))) ++
      Seq((2L, day("2024-02-10")), (2L, day("2024-02-10")), // dup day: 1
        (2L, day("2024-02-11")),
        (3L, day("2024-01-05"))) // active only before the window
    val ev = rows.toDF("user_id", "ts")
    val out = graft.operators.EventAnalytics.powerUserCurveOf(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(2L -> ((1L, 500000L)), 28L -> ((1L, 500000L))),
      s"got $out")
  }

  test("session funnel: conversion is session-scoped — a later-session purchase does not count") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // u1 session A: click → purchase in-session (converts)
      (1L, 1L, "view", "2024-01-01 10:00:00"),
      (2L, 1L, "click", "2024-01-01 10:01:00"),
      (3L, 1L, "purchase", "2024-01-01 10:02:00"),
      // u1 session B (41 min later): click, no purchase
      (4L, 1L, "click", "2024-01-01 10:43:00"),
      // u2: a click session whose purchase lands in the NEXT session
      (5L, 2L, "click", "2024-01-01 10:00:00"),
      (6L, 2L, "purchase", "2024-01-01 11:00:00"),
      // u3: views only — not a click session
      (7L, 3L, "view", "2024-01-01 10:00:00"))
      .map { case (id, u, ty, s) => (id, u, ty, t(s)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val Array(r) = graft.operators.EventAnalytics.sessionFunnelOf(ev).collect()
    // sessions: u1 A, u1 B, u2 click, u2 purchase, u3 = 5;
    // click sessions: u1 A, u1 B, u2's = 3; converted in-session: u1 A.
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 3L, 1L, 333333L)), s"got $r")
  }

  test("pinball loss: constant residual forecasts exactly (0 loss), alternating residual prices the miss") {
    val days = 30
    def yLin(t: Int) = 1 + t            // r = 7 constant → exact forecast
    def yAlt(t: Int) = 10 + 7 * (t % 2) // r alternates ±7
    val ev = dailyEvents(
      (countedSeries("lin", days, yLin) ++
        countedSeries("alt", days, yAlt)): _*)
    val got = EventAnalytics.pinballLossOf(ev).collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(got(("lin", 0.5)) == ((9L, 14L, 0.0, 1000000L)), s"${got(("lin", 0.5))}")
    assert(got(("lin", 0.9)) == ((9L, 14L, 0.0, 1000000L)))
    // alt train residuals idx 7..15: four −7, five +7 → k(.5)=5 → +7,
    // k(.9)=9 → +7; test diffs: odd t → 0, even t (7 days) → −14.
    // q.5: 5·0 + (10−5)·14·7 = 490 → 3.5; q.9: (10−9)·14·7 = 98 → 0.7.
    assert(got(("alt", 0.5)) == ((9L, 14L, 3.5, 1000000L)), s"${got(("alt", 0.5))}")
    assert(got(("alt", 0.9)) == ((9L, 14L, 0.7, 1000000L)), s"${got(("alt", 0.9))}")
  }

  test("seasonal strength: a pure weekday series reads eta2 = 1; a constant series nulls") {
    val days = 21
    val rows = (0 until days).flatMap { t =>
      Seq(("weekly", f"2024-01-${t + 1}%02d 10:00:00",
        if (t % 7 == 0) 5.0 else 1.0),
        ("flat", f"2024-01-${t + 1}%02d 10:00:00", 2.0))
    }
    val got = EventAnalytics.seasonalStrengthOf(dailyEvents(rows: _*))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(got("weekly") == ((21L, Some(1.0))), s"${got("weekly")}")
    assert(got("flat") == ((21L, None)), s"constant: ${got("flat")}")
  }

  test("dau stickiness: trailing window carries yesterday's audience into today's MAU") {
    val ev = eventsDf(
      (1L, 1L, "2024-01-01 10:00:00"), (2L, 2L, "2024-01-01 11:00:00"),
      (3L, 1L, "2024-01-02 10:00:00"))
    val got = EventAnalytics.dauStickinessOf(ev).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("2024-01-01") == ((2L, 2L, 1000000L)), s"$got")
    // day 2: DAU {1}, trailing-28 MAU {1, 2} → 500000 ppm
    assert(got("2024-01-02") == ((1L, 2L, 500000L)), s"$got")
  }

  test("streak stats: hand islands — flat days break runs, longest up/down counted exactly") {
    // daily values: 1,2,3,3,2,1,2 → dirs from day2: +,+,0,−,−,+ →
    // up runs {2}, {1}; down run {2} → longest_up 2, longest_down 2,
    // n_runs 3.
    val vals = Seq(1, 2, 3, 3, 2, 1, 2)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      ("a", f"2024-01-${i + 1}%02d 10:00:00", v / 100.0)
    }
    val got = EventAnalytics.streakStatsOf(dailyEvents(rows: _*)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((2L, 2L, 3L)), s"${got("a")}")
  }

  test("hourly heatmap: arithmetic weekday cells, exact shares, cent-grid revenue") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // 2024-01-01 is a Monday; days-since-epoch 19723 % 7 = 4.
    val ev = Seq(
      ("2024-01-01 10:15:00", 1.0), ("2024-01-01 10:45:00", 2.0),
      ("2024-01-02 23:05:00", 0.5))
      .map { case (s, v) => (t(s), v) }.toDF("ts", "value")
    val out = graft.operators.EventAnalytics.hourlyHeatmapOf(ev).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(
      (4, 10) -> ((2L, 666666L, 3.0)),
      (5, 23) -> ((1L, 333333L, 0.5))), s"got $out")
  }

  test("pettitt: a level shift argmaxes |U| at the shift boundary with the exact pair count") {
    // counts 1,1,1,5,5,5 over six days: every (low, high) pair signs
    // −1; the t=2 boundary separates all 9 of them → K = 9 at idx 2.
    // 6K² = 486 < 3.68888·(216+36) ≈ 929.6 → not significant at this
    // tiny span (the verdict needs length, not just shape).
    val rows = (1 to 6).flatMap { d =>
      val copies = if (d <= 3) 1 else 5
      Seq.fill(copies)(("buy", f"2024-01-$d%02d 10:00:00", 1.0))
    }
    val out = EventAnalytics.pettittChangepointOf(dailyEvents(rows: _*))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDate(4).toString, r.getBoolean(5)) ==
      ((6L, 9L, 2L, "2024-01-03", false)), s"got $r")
  }

  test("demand classes: all four SBC quadrants land, the ADI cut is boundary-inclusive") {
    import spark.implicits._
    // span days 1..8 (t_days = 8). sizes per demand day:
    //  1: every day ×1            → ADI 1,  CV² 0     → smooth
    //  2: days 1,8 ×1             → ADI 4,  CV² 0     → intermittent
    //  3: every day, 1/10 alt     → ADI 1,  CV² > .49 → erratic
    //  4: days 1,8 sizes 1,10     → ADI 4,  CV² > .49 → lumpy
    //  5: 6 demand days ×1        → ADI exactly 4/3   → intermittent
    val rows = Seq.newBuilder[(String, String, String)]
    def p(item: Long, d: Int, n: Int): Unit = (1 to n).foreach { _ =>
      rows += (("purchase", f"2024-01-$d%02d 10:00:00", s"""{"k": $item}"""))
    }
    (1 to 8).foreach(d => p(1L, d, 1))
    p(2L, 1, 1); p(2L, 8, 1)
    (1 to 8).foreach(d => p(3L, d, if (d % 2 == 0) 10 else 1))
    p(4L, 1, 1); p(4L, 8, 10)
    (1 to 6).foreach(d => p(5L, d, 1))
    rows += (("view", "2024-01-04 10:00:00", """{"k": 1}""")) // not demand
    val ev = rows.result().toDF("event_type", "s", "props")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"), col("props"))
    val out = EventAnalytics.demandClassesOf(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    assert(out(1L) == ((8L, 8L, 1000000L, 0L, "smooth")), s"got $out")
    assert(out(2L) == ((8L, 2L, 4000000L, 0L, "intermittent")), s"got $out")
    assert(out(3L) == ((8L, 8L, 1000000L, 669421L, "erratic")), s"got $out")
    assert(out(4L) == ((8L, 2L, 4000000L, 669421L, "lumpy")), s"got $out")
    assert(out(5L)._5 == "intermittent",
      s"ADI exactly 4/3 is boundary-inclusive: ${out(5L)}")
  }

  test("pettitt: a stationary series keeps K small and earliest-tie deterministic") {
    val ev = dailyEvents((1 to 8).map(d =>
      ("view", f"2024-01-$d%02d 10:00:00", 1.0)): _*)
    val Array(r) = EventAnalytics.pettittChangepointOf(ev).collect()
    // all counts equal → every pairwise sign is 0 → K = 0, argmax
    // ties broken to the earliest boundary t = 0
    assert((r.getLong(2), r.getLong(3), r.getBoolean(5)) ==
      ((0L, 0L, false)), s"got $r")
  }

  test("ccf: a planted +2-day shift wins best lag; |lag| breaks the tie") {
    // type b IS type a moved +2 days: counts a=(3,1,2,0,0) vs
    // b=(0,0,3,1,2) on the shared Jan1-Jan5 grid. Lag +2 aligns them
    // exactly → r = 1. Lag +3 also reads |r| = 1 (any TWO distinct
    // points correlate perfectly: a=(3,1) vs b=(1,2) → r = −1) — the
    // quantized tie MUST fall to the smaller |lag|.
    def burst(et: String, day: String, n: Int) =
      (1 to n).map(i => (et, s"$day 10:0$i:00", 1.0))
    val ev = dailyEvents(
      (burst("a", "2024-01-01", 3) ++ burst("a", "2024-01-02", 1) ++
       burst("a", "2024-01-03", 2) ++
       burst("b", "2024-01-03", 3) ++ burst("b", "2024-01-04", 1) ++
       burst("b", "2024-01-05", 2)): _*)
    val rows = EventAnalytics.ccfLeadlagOf(ev).collect()
      .map(r => r.getInt(2) ->
        (r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double]),
          r.getBoolean(5))).toMap
    assert(rows.size == 7, s"7 lags for the one pair: $rows")
    assert(rows(2) == ((3L, Some(1.0), true)),
      s"the planted shift: ccf 1 at lag +2, best: ${rows(2)}")
    assert(rows(3)._2 == Some(-1.0) && !rows(3)._3,
      s"two-point |r|=1 at lag 3 must LOSE the tie on |lag|: ${rows(3)}")
    assert(rows(0)._1 == 5L && !rows(0)._3, s"lag 0 spans the grid: ${rows(0)}")
    assert(rows.values.count(_._3) == 1, s"exactly one best row: $rows")
  }

  test("ccf: a constant series nulls r at every lag and never wins best") {
    val ev = dailyEvents(
      (Seq(("a", "2024-01-01 10:00:00", 1.0),
        ("a", "2024-01-02 10:00:00", 1.0),
        ("a", "2024-01-02 11:00:00", 1.0)) ++
       (1 to 3).map(d => ("c", s"2024-01-0$d 10:00:00", 1.0))): _*)
    val rows = EventAnalytics.ccfLeadlagOf(ev).collect()
    assert(rows.nonEmpty && rows.forall(r => r.isNullAt(4) && !r.getBoolean(5)),
      s"constant c: every r NULL, no best: ${rows.toSeq}")
  }

  test("bot score: metronome and mono-type script flag, organic traffic does not") {
    def ev(rows: Seq[(Long, Long, String, Long)]) = // (id, user, type, sec)
      rows.map { case (i, u, t, s) => (i, u, t, 1700000000L + s) }
        .toDF("event_id", "user_id", "event_type", "sec")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("sec")).as("ts"),
          (col("sec") * 1000000000L).as("ts_ns"), lit(1.0).as("value"))
    var id = 0L
    def next() = { id += 1; id }
    val rows =
      // user 1: METRONOME — 25 events exactly 60 s apart, two types
      (0 until 25).map(i => (next(), 1L, if (i % 2 == 0) "a" else "b",
        i * 60L)) ++
      // user 2: organic — alternating 1 s / 1000 s gaps, two types
      (0 until 25).map(i => (next(), 2L, if (i % 2 == 0) "a" else "b",
        (i / 2) * 1001L + (i % 2))) ++
      // user 3: mono-type at volume — 50 'a' events, irregular gaps
      (0 until 50).map(i => (next(), 3L, "a", i.toLong * i * 7L)) ++
      // user 4: mono-type but BELOW the volume bar (49 events)
      (0 until 49).map(i => (next(), 4L, "a", i.toLong * i * 7L)) ++
      // user 5: machine-gun — 20 events on one microsecond
      (0 until 20).map(_ => (next(), 5L, "a", 0L)) ++
      // user 6: below minEvents entirely
      Seq((next(), 6L, "a", 0L))
    val out = EventAnalytics.botScoreOf(ev(rows)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(1L)._2 == Some(0L) && out(1L)._4,
      s"identical gaps: cv2 exactly 0, flagged: ${out(1L)}")
    assert(out(2L)._2.get > 100000L && !out(2L)._4,
      s"bursty organic gaps pass: ${out(2L)}")
    assert(out(3L)._3 == 1000000L && out(3L)._4,
      s"50 mono-type events flag on share: ${out(3L)}")
    assert(!out(4L)._4, s"49 events miss the volume bar: ${out(4L)}")
    assert(out(5L)._2.isEmpty && out(5L)._4,
      s"zero total gap: NULL cv2 but flagged: ${out(5L)}")
    assert(!out.contains(6L), "below minEvents emits nothing")
  }

  test("gap report: missing days and the longest run, per the type's own span") {
    val ev = dailyEvents(
      (Seq(1, 2, 3, 7, 8).map(d => ("a", f"2024-01-$d%02d 10:00:00", 1.0)) :+
        ("b", "2024-01-05 10:00:00", 1.0)): _*)
    val out = EventAnalytics.gapReportOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out("a") == ((8L, 5L, 3L, 625000L, 3L)),
      s"span 8, observed 5, longest run = days 4-6: ${out("a")}")
    assert(out("b") == ((1L, 1L, 0L, 1000000L, 0L)),
      s"a single day is complete by its own span: ${out("b")}")
  }

  private def valued(rows: (String, String, Double)*): DataFrame =
    rows.zipWithIndex.map { case ((et, t, v), i) =>
      (i.toLong, i.toLong, et, t, v)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))

  // ---- Pettitt: hand-computed level shift, tie-heavy, single-day

  test("pettitt: a clean level shift lands K=16 at the boundary day, below significance") {
    // 1 event/day Jan 1-4, 3/day Jan 5-8: U_t = -4(t+1) for t<=3 then
    // -4(7-t); K = 16 at t = 3. 6K² = 1536 < 3.68888·(8³+8²) = 2124.8.
    val rows = (1 to 4).map(d => ("click", f"2024-01-0$d%d 10:00:00", 1.0)) ++
      (5 to 8).flatMap(d => (0 until 3).map(h =>
        ("click", f"2024-01-0$d%d 1$h%d:00:00", 1.0)))
    val out = EventAnalytics.pettittChangepointOf(valued(rows: _*)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 8L && r.getLong(2) == 16L && r.getLong(3) == 3L,
      s"t_days=8, K=16, change at idx 3: $r")
    assert(r.getDate(4).toString == "2024-01-04", s"boundary day: $r")
    assert(!r.getBoolean(5), s"K=16 on T=8 is not significant: $r")
  }

  test("pettitt: an all-tied series reads K=0 at the earliest boundary, not significant") {
    val rows = (1 to 5).map(d => ("click", f"2024-01-0$d%d 10:00:00", 1.0))
    val r = EventAnalytics.pettittChangepointOf(valued(rows: _*)).collect().head
    assert(r.getLong(2) == 0L && r.getLong(3) == 0L && !r.getBoolean(5),
      s"ties everywhere → zero statistic, earliest argmax: $r")
  }

  test("pettitt: a single-day corpus has no boundary to test — empty output, no crash") {
    val ev = valued(("click", "2024-01-05 10:00:00", 1.0),
      ("click", "2024-01-05 11:00:00", 2.0))
    assert(EventAnalytics.pettittChangepointOf(ev).isEmpty)
  }

  // ---- SBC demand classes: the single-demand-day CV²=0 convention

  test("demand classes: single-demand-day and constant-size items read CV²=0 and class by ADI") {
    val ev = Seq(
      (1L, 1L, "purchase", "2024-01-01 10:00:00", """{"k": 1}"""),
      (2L, 2L, "purchase", "2024-01-01 11:00:00", """{"k": 1}"""),
      (3L, 3L, "purchase", "2024-01-01 10:00:00", """{"k": 2}"""),
      (4L, 4L, "purchase", "2024-01-08 10:00:00", """{"k": 2}"""))
      .toDF("event_id", "user_id", "event_type", "t", "props")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("props"))
    val out = EventAnalytics.demandClassesOf(ev).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    // span Jan 1..8 → T=8; item 1: nd=1, ADI=8 ≥ 4/3 → intermittent,
    // var = 1·4-4 = 0; item 2: nd=2 equal sizes → var = 2·2-4 = 0.
    assert(out(1L) == ((8L, 1L, 8000000L, 0L, "intermittent")), s"$out")
    assert(out(2L) == ((8L, 2L, 4000000L, 0L, "intermittent")), s"$out")
  }

  private def dayCounts(rows: Seq[(String, Int)]): DataFrame =
    rows.flatMap { case (d, c) => (1 to c).map(j => (d, j)) }
      .zipWithIndex.map { case ((d, _), i) => (i.toLong, i.toLong, "buy", d) }
      .toDF("event_id", "user_id", "event_type", "d")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("d")).as("ts"), lit(1.0).as("value"))

  test("ljung_box at maxLag=1 gates on the df=1 critical value, not the df=7 literal") {
    // 10 days alternating 1/11 events: r1 = -0.9 exactly, so
    // Q = n(n+2)·r1²/(n−1) = 10·12·0.81/9 = 10.8 — ABOVE the df=1
    // 0.95 quantile (3.841) but BELOW the df=7 literal (14.067) the
    // pre-r17 code compared every maxLag against: the fix flips this
    // verdict from a wrong false to true.
    val alt = dayCounts((1 to 10).map(i =>
      (f"2024-01-$i%02d 00:00:00", if (i % 2 == 0) 11 else 1)))
    val out = EventAnalytics.ljungBoxOf(alt, maxLag = 1).collect()(0)
    assert(out.getLong(2) == 1L, s"lags_used: $out")
    assert(math.abs(out.getDouble(3) - 10.8) < 1e-6, s"q_stat: $out")
    assert(!out.isNullAt(4) && out.getBoolean(4),
      s"10.8 > chi2(df=1, 0.95) = 3.84 must read significant: $out")
    // control: the same series is NOT significant against df=12
    // (21.03) when all 12 lags are in play and most r_k are small
    val long = dayCounts((1 to 20).map(i =>
      (f"2024-01-$i%02d 00:00:00", if (i % 2 == 0) 4 else 2)))
    val o12 = EventAnalytics.ljungBoxOf(long, maxLag = 12).collect()(0)
    assert(o12.getLong(2) == 12L && !o12.isNullAt(4), s"df=12 gates: $o12")
  }

  private def evFrame(rows: (Long, Long, String, String, Double)*): DataFrame =
    rows.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))

  test("ccf with a single event type emits nothing (no pair exists)") {
    val ev = evFrame((1 to 5).map(d =>
      (d.toLong, d.toLong, "only", f"2024-01-0$d 10:00:00", 1.0)): _*)
    assert(graft.operators.EventAnalytics.ccfLeadlagOf(ev).isEmpty)
  }

  test("ccf parameter bounds and reorder/epoch/aa require-guards refuse") {
    val ev = evFrame((1L, 1L, "a", "2024-01-01 10:00:00", 1.0))
    val docs = Seq((1L, "s", "t")).toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException](
      graft.operators.EventAnalytics.ccfLeadlagOf(ev, maxLag = 0))
    intercept[IllegalArgumentException](
      graft.operators.EventAnalytics.ccfLeadlagOf(ev, maxLag = 15))
    intercept[IllegalArgumentException](
      graft.operators.Warehouse.reorderPointOf(
        Seq((1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 1.0))
          .toDF("l_partkey", "l_shipdate", "l_quantity"),
        Seq((1L, "B")).toDF("p_partkey", "p_brand"), leadDays = 0))
    intercept[IllegalArgumentException](
      graft.operators.Corpus.epochShuffleOf(docs, epochs = 1))
    intercept[IllegalArgumentException](
      graft.operators.Behavior.aaCalibrationOf(ev, cells = 7))
  }

  // ---- residual diagnostics: Durbin-Watson, Ljung-Box, Breusch-Pagan ----

  private def dailyRevenue(rows: (String, Double)*): DataFrame =
    rows.zipWithIndex.map { case ((d, v), i) =>
      (i.toLong, i.toLong, "rev", d + " 12:00:00", v)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))

  test("durbin_watson: a two-week level shift pins DW = 1.0 'positive'") {
    // Weekday means are the midpoints, residuals [-1,-1,+1,+1]·1e9:
    // num = 0 + (2e9)^2 + 0, den = 4e18 → DW = 1.0 exactly.
    val out = EventAnalytics.durbinWatsonOf(dailyRevenue(
      "2024-01-01" -> 10.0, "2024-01-02" -> 20.0,
      "2024-01-08" -> 30.0, "2024-01-09" -> 40.0)).collect()
    assert(out.length == 1)
    assert(out(0).getDouble(2) == 1.0, s"DW: ${out(0)}")
    assert(out(0).getString(3) == "positive")
  }

  test("durbin_watson: an alternating shift pins DW = 2.0 'none'") {
    // Residuals [+1,-1,-1,+1]·1e9 → num 8e18 / den 4e18 = 2.0.
    val out = EventAnalytics.durbinWatsonOf(dailyRevenue(
      "2024-01-01" -> 30.0, "2024-01-02" -> 10.0,
      "2024-01-08" -> 10.0, "2024-01-09" -> 30.0)).collect()
    assert(out(0).getDouble(2) == 2.0, s"DW: ${out(0)}")
    assert(out(0).getString(3) == "none")
  }

  test("durbin_watson: weekday-constant series nulls DW as 'undefined'") {
    val out = EventAnalytics.durbinWatsonOf(dailyRevenue(
      "2024-01-01" -> 10.0, "2024-01-02" -> 20.0,
      "2024-01-08" -> 10.0, "2024-01-09" -> 20.0)).collect()
    assert(out(0).isNullAt(2), s"zero residuals → null, not NaN: ${out(0)}")
    assert(out(0).getString(3) == "undefined")
  }

  test("ljung_box: a period-2 cycle is detected; short series refuses; constant series nulls Q") {
    def mk(rows: Seq[(String, Int)]): DataFrame =
      rows.zipWithIndex.flatMap { case ((d, c), _) =>
        (1 to c).map(j => (d, j))
      }.zipWithIndex.map { case ((d, _), i) => (i.toLong, i.toLong, "buy", d) }
        .toDF("event_id", "user_id", "event_type", "d")
        .select(col("event_id"), col("user_id"), col("event_type"),
          to_timestamp(col("d")).as("ts"), lit(1.0).as("value"))
    // 30 days alternating 1/11 events: strong negative lag-1, positive
    // lag-2 autocorrelation → Q far above 14.067
    val alt = mk((1 to 30).map(i =>
      (f"2024-01-$i%02d 00:00:00", if (i % 2 == 0) 11 else 1)))
    val out = EventAnalytics.ljungBoxOf(alt).collect()(0)
    assert(out.getLong(1) == 30L && out.getLong(2) == 7L, s"$out")
    assert(out.getDouble(3) > 14.067140 && out.getBoolean(4), s"$out")
    // 6 days: only 5 lags observable → verdict refuses
    val short = mk((1 to 6).map(i =>
      (f"2024-01-$i%02d 00:00:00", i)))
    val s = EventAnalytics.ljungBoxOf(short).collect()(0)
    assert(s.getLong(2) == 5L && s.isNullAt(4), s"partial lags refuse: $s")
    // constant series: den = 0 → Q null, verdict null
    val const = mk((1 to 20).map(i => (f"2024-01-$i%02d 00:00:00", 3)))
    val c = EventAnalytics.ljungBoxOf(const).collect()(0)
    assert(c.isNullAt(3) && c.isNullAt(4), s"constant refuses: $c")
  }

  private def weekEvents(resid: Int => Long): DataFrame = {
    // 4 weeks × 7 weekdays, base level 100·(w+1) dollars, residuals
    // ±resid(w) alternating within each weekday so the weekday mean
    // is EXACTLY the base (cent grid, no truncation loss).
    val rows = for {
      week <- 0 until 4
      w <- 0 until 7
    } yield {
      val dayIdx = week * 7 + w
      val sign = if (week % 2 == 0) 1L else -1L
      val cents = (w + 1) * 10000L + sign * resid(w)
      (dayIdx.toLong, dayIdx.toLong, "buy",
        f"2024-01-${dayIdx + 1}%02d 00:00:00", cents / 100.0)
    }
    rows.toDF("event_id", "user_id", "event_type", "d", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("d")).as("ts"), col("value"))
  }

  test("breusch_pagan: level-proportional noise flags, alternating noise does not") {
    // NOTE 2024-01-01 is a Monday but the op buckets by epoch-day mod
    // 7 — the fixture only needs each calendar weekday to hold its own
    // level, which consecutive days give regardless of phase.
    val het = EventAnalytics.breuschPaganOf(
      weekEvents(w => (w + 1) * 1000L)).collect()(0)
    assert(het.getLong(1) == 28L, s"$het")
    assert(!het.isNullAt(2) && het.getDouble(2) > 3.841459, s"lm: $het")
    assert(het.getBoolean(3), s"level-proportional noise must flag: $het")
    val hom = EventAnalytics.breuschPaganOf(
      weekEvents(w => if (w % 2 == 0) 2000L else 1000L)).collect()(0)
    assert(!hom.isNullAt(2) && hom.getDouble(2) < 3.841459, s"lm: $hom")
    assert(!hom.getBoolean(3), s"level-blind noise must not flag: $hom")
    // constant residual variance: the aux regression is 0/0 — refuse
    val const = EventAnalytics.breuschPaganOf(
      weekEvents(_ => 1000L)).collect()(0)
    assert(const.isNullAt(2) && const.isNullAt(3),
      s"degenerate constant e² refuses: $const")
  }
}
