package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextF.{round4HalfUp => r4}
import graft.sources.Tables
import Behavior.Dec

/** Event-stream analytics beyond the reference's daily CTR detector
  * (native_CTR_alerts.py:226-268): sessionization, per-group anomaly
  * flagging, and interval (range) joins — the generic OLAP surface a
  * large event pipeline needs.
  *
  * Scale design (100 TB): sessionize shuffles ONCE on user_id (the
  * window sort and the session aggregation share the same hash
  * partitioning, so EnsureRequirements inserts no second exchange);
  * z-score stats are one aggregate broadcast back over the fact scan;
  * the interval join maps each event to a coarse time bucket and
  * equijoins on the bucket — never a nested-loop over the fact side.
  */
object EventAnalytics {

  /** Gap-based sessionization: a new session starts when the gap to the
    * user's previous event exceeds `gapMinutes`. Timestamps flow as
    * exact integer microseconds (`unix_micros`) so session boundaries
    * are bit-reproducible across engines and partitionings.
    */
  def sessionizeOf(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionTagged(events.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us")), gapMinutes)
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("us").as("start_us"), max("us").as("end_us"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_us"), col("end_us"),
        round((col("end_us") - col("start_us")).cast("double") / 1e6, 3)
          .as("duration_sec"))
      .orderBy("user_id", "session_idx")

  /** The one gap-session tag: `ev` — an event frame carrying user_id,
    * event_id and `us` (exact `unix_micros`), plus whatever the caller
    * keeps — gains `session_idx`, the running count of session starts
    * in the user's (us, event_id) order. An event starts a session when
    * it is the user's first or follows the previous one by more than
    * `gapMinutes`. Both windows declare the same user-keyed spec, so
    * EnsureRequirements plans ONE user_id hash exchange for the tag and
    * for any user-prefixed aggregate or window the caller adds on top. */
  private def sessionTagged(ev: DataFrame, gapMinutes: Int): DataFrame = {
    require(gapMinutes > 0, s"gapMinutes must be positive, got $gapMinutes")
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    // Total order within a user: (us, event_id) — equal timestamps are
    // possible and would otherwise make lag() nondeterministic.
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    ev.withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user z-score outliers: events whose value deviates more than
    * `threshold` sample standard deviations from the user's mean. The
    * per-user stats frame has one row PER DISTINCT USER — unbounded at
    * scale — so the join strategy is left to AQE/size thresholds: small
    * user populations get an automatic broadcast, hundreds of millions
    * of users degrade gracefully to a shuffled hash join instead of an
    * executor-OOM forced broadcast.
    */
  def zscoreOutliersOf(events: DataFrame, threshold: Double = 3.0): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val ev = events.select(col("event_id"), col("user_id"), col("value"))
    val stats = ev.groupBy("user_id").agg(
      avg("value").as("mu"),
      stddev_samp("value").as("sd"),
      count(lit(1)).as("n"))
    val z = (col("value") - col("mu")) / col("sd")
    ev.join(stats, Seq("user_id"))
      .filter(col("n") > 1 && col("sd") > 0 && abs(z) > threshold)
      .select(col("event_id"), col("user_id"), col("value"),
        round(z, 4).as("z"))
      .orderBy("event_id")
  }

  /** Synthetic overlapping campaign windows derived from the event date
    * span: campaign k covers [day0 + 2k, day0 + 2k + 4] (5-day windows
    * on a 2-day stride, so each day belongs to up to three campaigns).
    */
  def campaignWindows(events: DataFrame, nCampaigns: Int = 10): DataFrame = {
    require(nCampaigns > 0, s"nCampaigns must be positive, got $nCampaigns")
    val spark = events.sparkSession
    val day0 = events.agg(min(to_date(col("ts"))).as("day0"))
    spark.range(nCampaigns).withColumnRenamed("id", "campaign_id")
      .crossJoin(broadcast(day0))
      .select(col("campaign_id"),
        date_add(col("day0"), (col("campaign_id") * 2).cast("int")).as("start_day"),
        date_add(col("day0"), (col("campaign_id") * 2 + 4).cast("int")).as("end_day"))
  }

  /** Interval join: events ⋈ campaign windows on ts ∈ [start, end],
    * aggregated per (campaign, event_type). A raw theta-join would be
    * a BroadcastNestedLoopJoin — fine for 10 windows, quadratic death
    * at a million. Instead each window explodes into the 2-day-wide
    * time buckets it covers and each event maps to its bucket, so the
    * join is a plain hash equijoin on the bucket id with the exact
    * BETWEEN as a residual filter — the shape that survives both sides
    * growing.
    */
  def intervalJoinOf(events: DataFrame, campaigns: DataFrame): DataFrame = {
    val ev = events.select(col("event_id"), col("event_type"), col("value"),
      to_date(col("ts")).as("day"))
    val day0 = broadcast(ev.agg(min("day").as("day0")))
    // Campaign k spans day offsets [2k, 2k+4] → buckets k..k+2.
    val campBuckets = broadcast(campaigns
      .crossJoin(day0)
      .select(col("campaign_id"), col("start_day"), col("end_day"),
        explode(sequence(
          expr("datediff(start_day, day0) div 2"),
          expr("datediff(end_day, day0) div 2"))).as("bucket")))
    val evBucketed = ev.crossJoin(day0)
      .withColumn("bucket", expr("datediff(day, day0) div 2"))
    evBucketed.join(campBuckets, Seq("bucket"))
      .filter(col("day").between(col("start_day"), col("end_day")))
      .groupBy("campaign_id", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("campaign_id"), col("event_type"), col("n_events"),
        round(col("sum_value"), 4).as("total_value"))
      .orderBy("campaign_id", "event_type")
  }

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    intervalJoinOf(events, campaignWindows(events))
  }

  /** Calendar gap-fill (resample + forward fill): per user, one row
    * per day across the user's [first, last] active span, with days
    * that saw no events carrying the previous day's total forward —
    * the densification step before any day-over-day comparison.
    *
    * Scale design: the grid explode is per-user and bounded by the
    * span length. Shuffles: (user, day) for the daily aggregate, then
    * user-keyed exchanges for the span aggregate / grid join / fill
    * window (which share their partitioning), plus the presentation
    * sort — every one keyed on the shard key, none global. Daily
    * totals sum 1e-4-quantized integers (order-independent,
    * cross-engine — the library's float-sum policy). */
  def dailyFillOf(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        graft.functions.TextF.grid4(col("value")).as("qv"))
      .groupBy("user_id", "day")
      .agg((sum("qv").cast("double") / 1e4).as("day_total"),
        count(lit(1)).as("n_events"))
    val grid = daily
      .groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(lit(0),
          datediff(col("d1"), col("d0")))).as("i"),
        col("d0"))
      .select(col("user_id"), expr("date_add(d0, i)").as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last("day_total", ignoreNulls = true).over(w).as("day_total"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("day_total").isNotNull.as("is_observed"))
      .orderBy("user_id", "day")
  }

  /** Trailing `windowDays`-day distinct-user reach per active day —
    * the sliding-distinct metric a naive per-day self-join makes
    * quadratic. Shape: activity dedupes to (user, day) FIRST (bounded
    * by users × days, not raw events), each activity row then fans out
    * to the `windowDays` window-ends it contributes to (a bounded ×7
    * explode of the already-deduped frame), and one distinct-count per
    * window-end finishes it. Window-ends are clipped to days actually
    * present so every output row is a complete trailing window over
    * the observed calendar.
    */
  def rollingReachOf(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val act = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val days = act.select(col("day")).distinct()
    val contrib = act
      .select(col("user_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("off")).as("day"))
    contrib.join(days, "day")
      .groupBy("day")
      .agg(countDistinct("user_id").as(s"users_${windowDays}d"))
      .orderBy("day")
  }

  /** Per-event trailing time-RANGE aggregates: how many events (and
    * how much quantized value) the same user produced in the preceding
    * `precedingMinutes`, including the current event. RANGE frames
    * differ from the ROWS running window (Report.windowRunning) in the
    * two ways that matter for rate metrics: the frame is bounded by
    * EVENT TIME, not row count, and equal-timestamp peers are all
    * included — which also makes the result independent of the
    * intra-timestamp row order. One user-keyed shuffle; value sums go
    * through integer micro-quantization (order-independent).
    */
  def rangeWindowOf(events: DataFrame, precedingMinutes: Int = 10): DataFrame = {
    require(precedingMinutes > 0, s"precedingMinutes must be positive, got $precedingMinutes")
    val winUs = precedingMinutes.toLong * 60L * 1000000L
    val ev = events.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"),
      Behavior.micro(col("value")).as("qv"))
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-winUs, Window.currentRow)
    ev.select(col("event_id"), col("user_id"), col("us"),
      count(lit(1)).over(w).as("n_win"),
      graft.functions.TextF.microsTo4dp(sum("qv").over(w)).as("sum_win"))
      .orderBy("event_id")
  }

  /** EWMA-smoothed daily revenue per event type (the alert-family
    * smoother next to [[CtrAlerts.ctrSpike]]'s step comparison).
    * Decay is λ = 1/2 truncated at `horizon` days, computed ENTIRELY
    * in integer arithmetic: each daily micro-quantized total
    * contributes `2^(horizon-1-k) · micros` to day+k, so weights are
    * exact powers of two and numerator/denominator are exact BIGINT
    * sums (order-independent); the only float steps are one cast and
    * one division, each a single IEEE-defined op that every engine
    * rounds identically. Missing days contribute
    * nothing and the denominator renormalizes over the weights
    * actually present — gaps don't decay toward zero artificially.
    * Shape: one daily aggregate, a bounded ×horizon fan-out re-keyed
    * on the target day (cf. [[rollingReachOf]]), and a join back to
    * real days — no per-day self-join, no window with data-dependent
    * weights (which Spark/SQL windows cannot express).
    */
  def ewmaSmoothOf(events: DataFrame, horizon: Int = 14): DataFrame = {
    require(horizon > 0 && horizon < 32, s"horizon in (0,32), got $horizon")
    val daily = Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("qrev"))
      // |types × days| rows, two consumers (fan-out + join-back):
      // materialize once or the fact aggregate re-plans per branch
      .localCheckpoint(false)
    val contrib = daily
      .select(col("event_type"), col("day"), col("qrev"),
        explode(sequence(lit(0), lit(horizon - 1))).as("off"))
      .select(col("event_type"), date_add(col("day"), col("off")).as("day"),
        (col("qrev") * expr(s"shiftleft(1L, ${horizon - 1} - off)")).as("wx"),
        expr(s"shiftleft(1L, ${horizon - 1} - off)").as("w"))
      .groupBy("event_type", "day")
      .agg(sum("wx").as("num"), sum("w").as("den"))
    daily.join(contrib, Seq("event_type", "day"))
      .select(col("event_type"), col("day"),
        graft.functions.TextF.microsTo4dp(col("qrev")).as("revenue"),
        graft.functions.TextF.round4HalfUp(
          col("num").cast("double") / col("den").cast("double") / lit(1e6))
          .as("ewma"))
      .orderBy("event_type", "day")
  }

  /** Day-of-week seasonality profile per event type: for each weekday,
    * the mean daily revenue and its ratio to the type's overall mean
    * daily revenue (`seasonal_index` > 1 ⇒ that weekday runs hot) —
    * the normalization a day-over-day alert ([[graft.operators
    * .CtrAlerts]]) needs before comparing a Sunday to a Friday.
    * Weekday is pure mod-7 arithmetic on the epoch-day index (0 =
    * Thursday), the [[SparkEntry]] chi2 oracle's engine-neutral
    * convention — no locale-dependent dayofweek().
    *
    * Shape: facts collapse to (type, day) micro-quantized totals
    * (map-side combinable, ONE fact-scale shuffle), then to
    * (type, weekday) — ≤ 7 rows per type — and the type totals ride a
    * window over that bounded frame rather than a second aggregate +
    * join (which would re-plan the daily aggregate per consumer; no
    * cross-branch CSE in Catalyst). Determinism: both means are exact
    * integer sums divided once (IEEE-exact given exact operands);
    * their ratio is one more IEEE division; only the final values
    * round (half-up, 4 dp).
    */
  def seasonalProfileOf(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type")
    Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("qrev"))
      .select(col("event_type"),
        (datediff(col("day"), lit("1970-01-01").cast("date")) % 7).as("dow"),
        col("qrev"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_days"), sum("qrev").as("qsum"))
      .withColumn("tot_days", sum("n_days").over(byType))
      .withColumn("tot_q", sum("qsum").over(byType))
      .select(col("event_type"), col("dow"), col("n_days"),
        graft.functions.TextF.round4HalfUp(
          col("qsum").cast("double") / col("n_days").cast("double") / lit(1e6))
          .as("avg_revenue"),
        graft.functions.TextF.round4HalfUp(
          (col("qsum").cast("double") / col("n_days").cast("double")) /
            (col("tot_q").cast("double") / col("tot_days").cast("double")))
          .as("seasonal_index"))
      .orderBy("event_type", "dow")
  }

  /** Top event-type 3-step paths within sessions (the sequence-mining
    * report behind "how do users actually navigate"): sessions are
    * [[sessionTagged]]'s 30-minute-gap runs, a path is three
    * CONSECUTIVE event types inside one session, counted corpus-wide
    * with a deterministic (count DESC, path) top-`k`.
    *
    * ONE user-keyed shuffle carries everything: the gap flag, the
    * running session index, and both lag()s all declare user-prefixed
    * window keys, so EnsureRequirements reuses the same hash
    * partitioning (the [[sessionTagged]] contract); the path aggregate
    * is |event types|³-bounded and map-side combinable; the top-k is
    * TakeOrderedAndProject. */
  def topPathsOf(events: DataFrame, gapMinutes: Int = 30,
                 k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val sessioned = sessionTagged(events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")), gapMinutes)
    val ws = Window.partitionBy("user_id", "session_idx")
      .orderBy(col("us"), col("event_id"))
    sessioned
      .withColumn("t1", lag("event_type", 2).over(ws))
      .withColumn("t2", lag("event_type", 1).over(ws))
      .filter(col("t1").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("event_type"))
        .as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Weekday-adjusted revenue anomalies: a day is flagged when its
    * revenue is off by more than `tol` from the LEAVE-ONE-OUT mean of
    * its event type's OTHER same-weekday days — the seasonality-aware
    * alert [[seasonalProfileOf]] is the report for (a Sunday compares
    * to Sundays, and never to itself, so one spiked day can't mask
    * itself by inflating its own baseline). Ratio-form test (no
    * stddev/sqrt): expected = (Σ_dow − own)/(n_dow − 1) — exact
    * integer numerator, one division — ratio rounds half-up to 4 dp
    * BEFORE the threshold compare. Weekdays observed once are
    * unjudgeable and excluded.
    *
    * Shape: ONE fact-scale shuffle to (type, day) totals; the LOO
    * baseline is a window over the (type, dow) partition of that
    * small daily frame — no second aggregate, no join. */
  def seasonalOutliersOf(events: DataFrame, tol: Double = 0.5): DataFrame = {
    require(tol > 0, s"tol must be positive, got $tol")
    val byDow = Window.partitionBy("event_type", "dow")
    val ratio = graft.functions.TextF.round4HalfUp(
      col("qrev").cast("double") /
        ((col("dow_sum") - col("qrev")).cast("double")
          / (col("n_dow") - 1L).cast("double")))
    Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("qrev"))
      .withColumn("dow",
        datediff(col("day"), lit("1970-01-01").cast("date")) % 7)
      .withColumn("dow_sum", sum("qrev").over(byDow))
      .withColumn("n_dow", count(lit(1)).over(byDow))
      .filter(col("n_dow") >= 2)
      .withColumn("ratio", ratio)
      .filter(col("ratio") < 1.0 - tol || col("ratio") > 1.0 + tol)
      .select(col("event_type"), col("day"), col("dow"),
        graft.functions.TextF.microsTo4dp(col("qrev")).as("revenue"),
        col("ratio"))
      .orderBy("event_type", "day")
  }

  /** Day-over-day change decomposition: Δtotal between the report day
    * and the day before, broken down by event type with each type's
    * share of the change — the "why did revenue move" answer a daily
    * report owes its reader (shares are additive: they sum to 1 over
    * the types, because Δtotal = ΣΔtype exactly in integer micros).
    * Share is NULL when the total change is zero (0/0 is not 100%).
    *
    * Shape: ONE conditional fact aggregate computes both days
    * (ctr_spike's no-cross-branch-CSE move); the report day rides a
    * 1-row broadcast; Δtotal is a window over the |types|-bounded
    * frame. Exact integers until the two final rounded divisions. */
  def changeContribOf(events: DataFrame): DataFrame = {
    val rd = Behavior.reportDate(events)
    val all = Window.partitionBy(lit(1))
    events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        Behavior.micro(col("value")).as("qv"))
      .crossJoin(broadcast(rd))
      .filter(col("day") >= date_sub(col("report_date"), 1))
      .groupBy("event_type")
      .agg(sum(when(col("day") === col("report_date"), col("qv"))
        .otherwise(0L)).as("q_last"),
        sum(when(col("day") =!= col("report_date"), col("qv"))
          .otherwise(0L)).as("q_prev"))
      .withColumn("delta_q", col("q_last") - col("q_prev"))
      .withColumn("total_dq", sum("delta_q").over(all))
      .select(col("event_type"),
        graft.functions.TextF.microsTo4dp(col("q_prev")).as("rev_prev"),
        graft.functions.TextF.microsTo4dp(col("q_last")).as("rev_last"),
        graft.functions.TextF.microsTo4dp(col("delta_q")).as("delta"),
        when(col("total_dq") =!= 0L, graft.functions.TextF.round4HalfUp(
          col("delta_q").cast("double") / col("total_dq").cast("double")))
          .as("share_of_change"))
      .orderBy(abs(col("delta")).desc, col("event_type"))
  }

  /** Revenue concentration per event type: the exact Gini coefficient
    * over per-user revenue totals — "do ten whales carry this metric"
    * asked before any per-user average is trusted. Computed on the
    * sorted integer-micro totals via G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) /
    * (n·Σxᵢ): every term an exact int64 (i·x ≤ users·Σmicros —
    * switch the two products to decimal(38) past ~10⁶ heavy users),
    * one division, rounded half-up 4 dp. Ties order by user id —
    * a total order, so ranks are deterministic.
    *
    * Shape: ONE fact-scale shuffle to (type, user) totals; the rank
    * window re-shuffles only that per-user frame on type; the final
    * aggregate is |types|-bounded. */
  def giniConcentrationOf(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type")
      .orderBy(col("qu"), col("user_id"))
    events
      .select(col("event_type"), col("user_id"),
        Behavior.micro(col("value")).as("qv"))
      .groupBy("event_type", "user_id")
      .agg(sum("qv").as("qu"))
      .withColumn("i", row_number().over(byType).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum("qu").as("sx"),
        sum(col("i") * col("qu")).as("six"))
      .select(col("event_type"), col("n_users"),
        graft.functions.TextF.microsTo4dp(col("sx")).as("revenue"),
        graft.functions.TextF.round4HalfUp(
          (lit(2L) * col("six") - (col("n_users") + 1L) * col("sx"))
            .cast("double") / (col("n_users") * col("sx")).cast("double"))
          .as("gini"))
      .orderBy("event_type")
  }

  /** Rare-category collapse mapping: keep the `keepTop` most frequent
    * item values, map everything else to OTHER — the cardinality cap a
    * feature pipeline applies before one-hot/target encoding (the long
    * tail would otherwise mint a column per typo). Emits the full
    * mapping TABLE (item → encoded, with frequency and rank) rather
    * than re-writing facts: the map is the reusable artifact, and
    * joining it back is [[targetEncodeOf]]'s AQE-broadcast shape.
    * Rank ties break on the item id — deterministic cut.
    *
    * One map-side-combinable fact aggregate on the bounded item key;
    * the rank is a window over that bounded frame. */
  def categoryCollapseOf(events: DataFrame, keepTop: Int = 10): DataFrame = {
    require(keepTop > 0, s"keepTop must be positive, got $keepTop")
    val byFreq = Window.partitionBy(lit(1))
      .orderBy(col("n").desc, col("item"))
    events
      .select(Behavior.itemKey.as("item"))
      .groupBy("item")
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(byFreq))
      .select(col("item"), col("n"), col("rank"),
        when(col("rank") <= keepTop, col("item").cast("string"))
          .otherwise(lit("OTHER")).as("encoded"))
      .orderBy("item")
  }

  /** CUSUM changepoint detection per event type: the first day whose
    * cumulative deviation from the baseline mean exceeds `h` baseline
    * units — the sequential test that catches a sustained level shift
    * long before a per-day threshold fires ([[seasonalOutliersOf]]
    * flags single days; CUSUM flags REGIMES). μ₀ is the integer-micro
    * mean of the first `baseline` days (floor(Σ/n + ½) — exact), the
    * statistic S_t = Σ(qrev − μ₀) is an exact running integer sum, and
    * the threshold compare |S_t| > h·μ₀ is pure int64 — no floats
    * anywhere until the reported revenue columns.
    *
    * ONE fact-scale shuffle to daily totals; baseline mean, running
    * sum, and the first-crossing MIN all ride windows/aggregates over
    * the per-type daily frame. Types that never cross emit nothing. */
  def cusumChangepointOf(events: DataFrame, baseline: Int = 7,
                         h: Long = 1L): DataFrame = {
    require(baseline > 0 && h > 0, s"need positive baseline/h, got $baseline/$h")
    val byType = Window.partitionBy("event_type").orderBy("day")
    val cum = byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("qrev"))
      .withColumn("rn", row_number().over(byType))
      .withColumn("mu0", floor(
        sum(when(col("rn") <= baseline, col("qrev"))).over(
          Window.partitionBy("event_type")).cast("double") /
          sum(when(col("rn") <= baseline, 1L)).over(
            Window.partitionBy("event_type")).cast("double") + 0.5)
        .cast("long"))
      .withColumn("s", sum(col("qrev") - col("mu0")).over(cum))
    daily
      .filter(abs(col("s")) > lit(h) * col("mu0"))
      .groupBy("event_type")
      .agg(min(struct(col("day"), col("s"), col("qrev"), col("mu0"))).as("f"))
      .select(col("event_type"), col("f.day").as("changepoint_day"),
        graft.functions.TextF.microsTo4dp(col("f.qrev")).as("revenue"),
        graft.functions.TextF.microsTo4dp(col("f.mu0")).as("baseline_mean"),
        graft.functions.TextF.microsTo4dp(col("f.s")).as("cusum"))
      .orderBy("event_type")
  }

  /** Leave-one-out mean-target encoding of the item key against the
    * event value (the feature-engineering step that replaces a
    * high-cardinality categorical with its outcome mean WITHOUT
    * leaking the row's own label): enc = (Σ_item − own + α·μ) /
    * (n_item − 1 + α), α = 50, μ the global mean — singleton items
    * fall back to exactly μ via the prior. Exact path: values
    * micro-quantize, μ rounds to integer micros BEFORE use, the
    * numerator is an exact int64, one division per row, 4 dp half-up.
    *
    * Shape: one map-side-combinable item aggregate; the fact join
    * back is on the bounded item key (AQE broadcasts the small side);
    * the global mean rides a 1-row broadcast. The output is per-row —
    * this is a transform, not a report. */
  def targetEncodeOf(events: DataFrame, alpha: Int = 50): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val ev = events.select(col("event_id"),
      Behavior.itemKey.as("item"),
      Behavior.micro(col("value")).as("qv"))
    val items = ev.groupBy("item")
      .agg(count(lit(1)).as("n"), sum("qv").as("s"))
    val mu = ev.agg(
      floor(sum("qv").cast("double") / count(lit(1)).cast("double") + 0.5)
        .cast("long").as("muq")) // global mean in integer micros
    ev.join(items, "item")
      .crossJoin(broadcast(mu))
      .select(col("event_id"), col("item"),
        graft.functions.TextF.microsTo4dp(col("qv")).as("value"),
        graft.functions.TextF.round4HalfUp(
          (col("s") - col("qv") + lit(alpha.toLong) * col("muq")).cast("double")
            / (col("n") - 1L + alpha).cast("double") / lit(1e6)).as("enc"))
      .orderBy("event_id")
  }

  /** Session bounce rate per day — the engagement headline over
    * [[sessionizeOf]]'s sessions (one source of truth for the gap
    * rule): a bounce is a single-event session; the day is the
    * session's START day (a midnight-crossing session counts where it
    * began, exactly once). Composes the sessionize frame with one
    * bounded day aggregate — nothing new shuffles beyond the session
    * pass itself. */
  def bounceRateOf(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionizeOf(events, gapMinutes)
      .select(to_date(timestamp_micros(col("start_us"))).as("day"),
        col("n_events"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        graft.functions.TextF.round4HalfUp(
          col("n_bounces").cast("double") / col("n_sessions").cast("double"))
          .as("bounce_rate"))
      .orderBy("day")

  /** Sample autocorrelation of the daily event-count series, lags 1..7
    * per event type — the periodicity probe behind every seasonality
    * decision ([[seasonalProfileOf]] ASSUMES a weekly cycle; this
    * MEASURES whether one exists: a weekly series shows r₇ ≫ r₁..r₆).
    * Integer-exact Pearson form: with S = Σx over the n-day grid, the
    * standard sample ACF r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²
    * multiplies through by n² to num_k = Σ(n·x_t−S)(n·x_{t+k}−S) and
    * den = Σ(n·x_t−S)² — all int64, no float accumulation; ONE
    * division at the end, 4 dp floor-form. Missing days enter as
    * exact zeros via the calendar grid (an absent day is a real
    * observation of 0, and skipping it would splice non-adjacent days
    * together and fake correlation).
    *
    * Shape: one map-combinable (type, day) count aggregate is the only
    * fact-sized shuffle; the grid join, the 7 lead windows and the
    * final aggregate all run on the (types × day-span) frame — a few
    * hundred rows regardless of fact size. Overflow headroom (int64
    * policy, cf. decayedEngagementOf): |n·x−S| < n·max_daily, so den
    * needs n³·max_daily² < 2⁶³ — at a 370-day grid that is ~4·10⁶
    * events/day/type at sf-scale and ~10⁹ before decimal(38) is
    * required; the scan stays ~10⁵× inside the bound.
    */
  def acfDailyOf(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30, s"maxLag in [1,30], got $maxLag")
    val (dev, stacked) = lagProducts(events, maxLag)
    stacked
      .groupBy("event_type", "lag")
      .agg(sum("prod").as("num")) // lead null past series end drops out
      .join(dev.groupBy("event_type")
        .agg(sum(col("d") * col("d")).as("den"), count(lit(1)).as("n_days")),
        "event_type")
      .select(col("event_type"), col("lag"), col("n_days"),
        // den = 0 ⇔ constant series: ACF undefined, pinned NULL
        when(col("den") === 0L, lit(null).cast("double")).otherwise(
          graft.functions.TextF.round4HalfUp(
            col("num").cast("double") / col("den").cast("double"))).as("acf"))
      .orderBy("event_type", "lag")
  }

  /** The daily count series of [[acfDailyOf]] and [[ljungBoxOf]] as
    * (dev, stacked): `dev` holds each type's zero-filled days with n
    * (days), s (total) and the integer deviation d = n·x − S;
    * `stacked` holds (event_type, lag, prod = d_t · d_{t+lag}) for
    * lags 1..maxLag, NULL past the series end. */
  private def lagProducts(events: DataFrame,
                          maxLag: Int): (DataFrame, DataFrame) = {
    val dense = Behavior.calendarFilled(
      Behavior.daily(events)(count(lit(1)).as("x")), "event_type", "x")
    val byType = Window.partitionBy("event_type")
    val ordered = byType.orderBy("day")
    val dev = dense
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("s", sum("x").over(byType))
      .withColumn("d", col("n") * col("x") - col("s")) // n·x − S
    val leads = (1 to maxLag).foldLeft(dev) { (df, k) =>
      df.withColumn(s"d$k", lead(col("d"), k).over(ordered))
    }
    val stacked = leads.select(col("event_type"), explode(map(
      (1 to maxLag).flatMap(k =>
        Seq(lit(k), col("d") * col(s"d$k"))): _*)).as(Seq("lag", "prod")))
    (dev, stacked)
  }

  /** Ljung–Box portmanteau test per event type over lags 1..7 —
    * the OMNIBUS verdict [[acfDailyOf]] describes lag by lag and
    * [[durbinWatsonOf]] reads only at lag 1 ("is this daily count
    * series white noise at all?" — the residual-independence gate
    * every ±1.96σ forecast band and every i.i.d.-assuming test in
    * the shelf silently leans on): Q = n(n+2) Σ_k r_k²/(n−k) on the
    * SAME dense-calendar deviation machinery as the ACF (d = n·x −
    * S keeps deviations integer-exact; r_k = num_k/den is the one
    * double division per lag, UNROUNDED — the published acf's 4 dp
    * grid is for reading, not for squaring), χ² df = maxLag verdict
    * against the [[chiSq95]] quantile table (14.067140 at df = 7).
    *
    * Degenerate contract: a constant series (den = 0) nulls Q via
    * try_divide; a series too short for all 7 lags (n ≤ 7) publishes
    * its partial-lag Q with a NULL verdict — df would differ and the
    * repo ships no quantile function (the friedman-ladder rule).
    *
    * Shape: ONE (type, day) fact aggregate; the dense grid, the 7
    * leads, and both moment folds ride the calendar-bounded frame
    * ([[acfDailyOf]]'s exact shape — same shuffle posture). */
  def ljungBoxOf(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30, s"maxLag in [1,30], got $maxLag")
    val (dev, stacked) = lagProducts(events, maxLag)
    stacked
      .filter(col("prod").isNotNull)
      .groupBy("event_type", "lag")
      .agg(sum("prod").as("num"))
      .join(dev.groupBy("event_type")
        .agg(sum(col("d") * col("d")).as("den"), max("n").as("n")),
        "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n_days"), count(lit(1)).as("lags_used"),
        sum(expr(
          """try_divide(
            |  try_divide(CAST(num AS DOUBLE), CAST(den AS DOUBLE))
            |    * try_divide(CAST(num AS DOUBLE), CAST(den AS DOUBLE)),
            |  CAST(n - lag AS DOUBLE))""".stripMargin)).as("qterm"))
      .select(col("event_type"), col("n_days"), col("lags_used"),
        graft.functions.TextF.round6HalfUp(
          col("n_days").cast("double") * (col("n_days") + 2).cast("double")
            * col("qterm")).as("q_stat"))
      .withColumn("significant",
        when(col("q_stat").isNull || col("lags_used") =!= maxLag.toLong,
          lit(null).cast("boolean"))
          .otherwise(col("q_stat") > chiSq95(maxLag)))
      .orderBy("event_type")
  }

  /** χ²(df) 0.95 quantiles for df ∈ [1,30] — the [[ljungBoxOf]]
    * verdict gate must track maxLag, not the df=7 default, or a
    * full-length series at a non-default lag gets a wrong boolean. */
  private val chiSq95: Array[Double] = Array(Double.NaN,
    3.841459, 5.991465, 7.814728, 9.487729, 11.070498,
    12.591587, 14.067140, 15.507313, 16.918978, 18.307038,
    19.675138, 21.026070, 22.362032, 23.684791, 24.995790,
    26.296228, 27.587112, 28.869299, 30.143527, 31.410433,
    32.670573, 33.924438, 35.172462, 36.415029, 37.652484,
    38.885139, 40.113272, 41.337138, 42.556968, 43.772972)

  /** Time-based train/embargo/test split with leakage audit — the
    * split a forecasting or uplift model needs where [[Corpus]]'s
    * hash splits would leak the future into training: the last
    * `testDays` calendar days are TEST, the `embargoDays` before them
    * are dropped (an autocorrelated metric straddling the boundary
    * leaks label information across it — the purged/embargoed split
    * of de Prado '18), and everything earlier is TRAIN. Output is the
    * per-split audit card: event/user counts, the day range, and
    * n_users_in_train — for TEST this is the USER overlap with train,
    * the quantity that decides whether the evaluation measures
    * generalization to new users or only to new days (time splits
    * intentionally share users; the column makes the sharing
    * measurable instead of silent).
    *
    * Shape: the 1-row bounds frame broadcasts into a map-side split
    * label; one (split, user) dedupe aggregate and one broadcast-sized
    * semi-join against the ≤ |users| train-user frame; no global sort
    * beyond the 3-row output. */
  def temporalSplitOf(events: DataFrame, testDays: Int = 7,
                      embargoDays: Int = 2): DataFrame = {
    require(testDays > 0 && embargoDays >= 0,
      s"testDays > 0, embargoDays >= 0; got $testDays/$embargoDays")
    val maxDay = Behavior.reportDate(events)
    val tagged = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .crossJoin(broadcast(maxDay)) // 1 row by construction
      .withColumn("split",
        when(datediff(col("report_date"), col("day")) < testDays, "test")
          .when(datediff(col("report_date"), col("day")) <
            testDays + embargoDays, "embargo")
          .otherwise("train"))
    val trainUsers = tagged.filter(col("split") === "train")
      .select("user_id").distinct()
    val perUser = tagged.groupBy("split", "user_id")
      .agg(count(lit(1)).as("n_ev"), min("day").as("mn"), max("day").as("mx"))
      .join(trainUsers.withColumn("in_train", lit(1L)), Seq("user_id"), "left")
    perUser.groupBy("split")
      .agg(sum("n_ev").as("n_events"),
        count(lit(1)).as("n_users"),
        min("mn").as("min_day"), max("mx").as("max_day"),
        sum(coalesce(col("in_train"), lit(0L))).as("n_users_in_train"))
      .orderBy("split")
  }

  /** Daily-count burstiness (index of dispersion / Fano factor) per
    * event type: D = Var(daily count)/Mean(daily count) over the
    * type's own calendar span — D ≈ 1 reads Poisson-like arrivals,
    * D ≫ 1 reads bursty clumping (flash crowds, incident storms), the
    * number that decides whether a pipeline can provision for the
    * MEAN rate or must size for bursts. Days with no events are real
    * zeros of the series: n = full span days, so only Σc and Σc² need
    * the observed-day frame (zero days add nothing to either sum) and
    * no calendar grid materializes — unlike [[acfDailyOf]], which
    * needs the zeros IN PLACE for lag alignment, dispersion is
    * order-blind. Exact-integer Pearson form: population variance
    * multiplied through by n² gives D = (n·Σc² − (Σc)²)/(n·Σc), all
    * int64 (headroom: n·Σc² < 2⁶³ holds to ~10⁸ events/day/type over
    * a year — ~10⁴× above sf100 volume), ONE division at the end,
    * 4 dp half-up. mean_daily divides the same exact integers.
    *
    * Shape: one map-side-combinable (type, day) count aggregate is the
    * only fact-sized shuffle; the per-type fold runs on the bounded
    * (types × span) frame. */
  def burstinessOf(events: DataFrame): DataFrame =
    Behavior.daily(events)(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg((datediff(max("day"), min("day")) + 1).cast("long").as("n_days"),
        sum("c").as("n_events"),
        sum(col("c") * col("c")).as("ssq"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        graft.functions.TextF.round4HalfUp(
          col("n_events").cast("double") / col("n_days").cast("double"))
          .as("mean_daily"),
        graft.functions.TextF.round4HalfUp(
          (col("n_days") * col("ssq") - col("n_events") * col("n_events"))
            .cast("double")
            / (col("n_days") * col("n_events")).cast("double"))
          .as("dispersion"))
      .orderBy("event_type")

  /** Inter-arrival-time percentiles per event type: exact p50/p90/p99
    * of the gap between consecutive events of the type, in seconds —
    * [[burstinessOf]]'s time-domain sibling (dispersion says THAT
    * arrivals clump; the gap quantiles say by how much: a p50 of 2 s
    * under a p99 of 900 s is a bursty feed with long quiet tails, the
    * shape that sizes stream buffers and timeout/watermark settings).
    * Gaps are exact integer micros (lag over the per-type event-time
    * order, event_id tiebreak), the ONE array-percentile aggregate
    * interpolates on exact operands ([[Report.earningsPercentiles]]'s
    * single-buffer move), seconds render by one division each, 4 dp.
    *
    * Shape: the per-type lag runs the boundary-carry decomposition
    * ([[graft.Scale.boundaryCarryLag]]: time-range sub-buckets within
    * each type, local lag per (type, bucket), each bucket's last
    * timestamp carried to the next through a bounded broadcast) — so
    * parallelism is types × buckets, not the 5-value type vocabulary,
    * and a dominant type at 100 TB no longer funnels through one
    * task. Then a map-combinable bounded aggregate. */
  def interarrivalPercentilesOf(events: DataFrame): DataFrame = {
    graft.Scale.boundaryCarryLag(
        events.select(col("event_type"), unix_micros(col("ts")).as("us"),
          col("event_id")),
        "event_type", Seq(col("us"), col("event_id")), col("us"),
        snapshotInput = false) // upstream is a pruned scan+project
      .withColumn("gap", col("us") - col("__prev"))
      .filter(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap, array(0.5D, 0.9D, 0.99D))").as("ps"))
      .select(col("event_type"), col("n_gaps"),
        graft.functions.TextF.round4HalfUp(element_at(col("ps"), 1) / 1e6)
          .as("p50_s"),
        graft.functions.TextF.round4HalfUp(element_at(col("ps"), 2) / 1e6)
          .as("p90_s"),
        graft.functions.TextF.round4HalfUp(element_at(col("ps"), 3) / 1e6)
          .as("p99_s"))
      .orderBy("event_type")
  }

  /** Split-conformal prediction interval per event type (Vovk's
    * distribution-free coverage, the modern ML-calibration read): fit
    * the trivial predictor (train-side mean) on a deterministic
    * md5-bucket user split, take q̂ = the ⌈(1−α)(n+1)⌉-th smallest
    * absolute residual on the CALIBRATION side, and report
    * [mean ± q̂] with its achieved calibration coverage — the
    * finite-sample-guaranteed interval a monitoring pipeline alarms
    * against, no distributional assumption. Exact arithmetic: values
    * on the micro grid, integer residuals, the order statistic picked
    * by rank (k from the INTEGER ceil form (9(n+1)+9) div 10 — a
    * float 0.9·(n+1) ceils wrong on exact decades), coverage an exact
    * count ratio. Rank ties share a residual VALUE, so q̂ is
    * deterministic whatever the tie order.
    *
    * Shape: the split is a map-side md5 test ([[Corpus.trainSplitOf]]'s
    * determinism contract); train means are a bounded broadcast; one
    * type-keyed sort window ranks residuals (the only fact-scale
    * shuffle — §4 salting applies if one type dominates); the
    * coverage pass rides a bounded q̂ broadcast. */
  def conformalIntervalOf(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"), col("user_id"),
      Behavior.micro(col("value")).as("vq"),
      when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
        lit("train")).otherwise(lit("calib")).as("side"))
    val trainMean = e.filter(col("side") === "train")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_train"),
        expr("sum(vq) div count(1)").as("mean_q"))
    val calib = e.filter(col("side") === "calib")
      .join(broadcast(trainMean), "event_type") // bounded: one row/type
      .withColumn("res", abs(col("vq") - col("mean_q")))
    val counts = calib.groupBy("event_type")
      .agg(count(lit(1)).as("n_calib"))
      .withColumn("k", least(
        expr("(9 * (n_calib + 1) + 9) div 10"), col("n_calib")))
    val qhat = calib
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("res")))
      .join(broadcast(counts), "event_type")
      .filter(col("rn") === col("k"))
      .select(col("event_type"), col("res").as("qhat_q"), col("n_calib"))
    calib
      .join(broadcast(qhat.select(col("event_type"), col("qhat_q"))),
        "event_type")
      .groupBy("event_type")
      .agg(max("n_train").as("n_train"), count(lit(1)).as("n_calib"),
        max("mean_q").as("mean_q"), max("qhat_q").as("qhat_q"),
        sum(when(col("res") <= col("qhat_q"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("event_type"), col("n_train"), col("n_calib"),
        graft.functions.TextF.microsTo4dp(col("mean_q")).as("mean_value"),
        graft.functions.TextF.microsTo4dp(col("qhat_q")).as("qhat"),
        graft.functions.TextF.round4HalfUp(col("n_covered").cast("double")
          / col("n_calib").cast("double")).as("coverage"))
      .orderBy("event_type")
  }

  /** Event-time disorder audit per type — the batch measurement that
    * SIZES a streaming watermark ([[interarrivalPercentilesOf]] sizes
    * buffers from gap quantiles; this sizes the lateness allowance
    * from observed disorder): with event_id as the arrival-order
    * proxy, count adjacent arrivals whose event time steps BACKWARD,
    * and the largest backward jump — a watermark shorter than that
    * jump drops data ([[graft.streaming.StreamingInterarrival]]'s
    * n_late counter, predicted offline). Exact integer micros, ppm by
    * integer division; adjacent-pair disorder (not full inversion
    * count, which is Θ(n²) information for no added sizing value).
    *
    * Shape: the per-type arrival-order lag runs the boundary-carry
    * decomposition ([[graft.Scale.boundaryCarryLag]] on event_id
    * ranges within type — parallelism types × buckets, not the
    * 5-value type vocabulary) + a map-combinable fold per type. */
  def disorderAuditOf(events: DataFrame): DataFrame = {
    graft.Scale.boundaryCarryLag(
        events.select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us")),
        "event_type", Seq(col("event_id")), col("us"),
        snapshotInput = false) // upstream is a pruned scan+project
      .withColumnRenamed("__prev", "prev_us")
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"),
        when(col("us") < col("prev_us"), 1L).otherwise(0L).as("bk"),
        when(col("us") < col("prev_us"), col("prev_us") - col("us"))
          .otherwise(0L).as("jump"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"), sum("bk").as("n_backward"),
        max("jump").as("max_jump_us"))
      .select(col("event_type"), col("n_pairs"), col("n_backward"),
        expr("(n_backward * 1000000) div n_pairs").as("disorder_ppm"),
        graft.functions.TextF.round4HalfUp(
          col("max_jump_us").cast("double") / lit(1e6)).as("max_backward_s"))
      .orderBy("event_type")
  }

  /** Seasonal-naive forecast backtest per event type: predict each
    * day's count with (a) the same weekday last week (lag-7, the
    * seasonal-naive baseline every real forecast must beat) and (b)
    * yesterday (lag-1, the naive baseline), scored by WAPE
    * (Σ|err|/Σactual — the scale-free accuracy read that, unlike
    * MAPE, never divides by a zero-traffic day). The
    * beats-seasonal-naive bar is the standard go/no-go for shipping
    * any fancier model ([[seasonalProfileOf]] says the weekday signal
    * exists; this prices how much of the variance it already
    * explains). All int64: daily counts exact, errors exact, WAPE in
    * ppm by one integer division; only days where BOTH lags exist
    * score, so the two baselines compare on identical days.
    *
    * Shape: one (type, day) map-combinable count, lag windows on the
    * bounded daily frame, bounded fold. */
  def forecastBacktestOf(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy("day")
    Behavior.daily(events)(count(lit(1)).as("c"))
      .withColumn("p7", lag("c", 7).over(byType))
      .withColumn("p1", lag("c", 1).over(byType))
      .filter(col("p7").isNotNull && col("p1").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("c").as("actual_total"),
        sum(abs(col("c") - col("p7"))).as("err7"),
        sum(abs(col("c") - col("p1"))).as("err1"))
      .select(col("event_type"), col("n_days"),
        expr("(err7 * 1000000) div actual_total").as("wape_lag7_ppm"),
        expr("(err1 * 1000000) div actual_total").as("wape_lag1_ppm"),
        (col("err7") < col("err1")).as("seasonal_wins"))
      .orderBy("event_type")
  }

  /** Return-time distribution: exact p50/p90 of the gap between a
    * user's consecutive SESSIONS (session end → next session start,
    * [[sessionizeOf]]'s 30-minute-gap sessions) — the retention
    * cadence behind notification timing and DAU/WAU expectations
    * ([[interarrivalPercentilesOf]] reads event-level clumping inside
    * sessions; this reads the human-level come-back rhythm between
    * them). Gaps are exact integer micros from one per-user lag over
    * the session frame; the single array-percentile aggregate
    * interpolates on exact operands; hours render by one division, 4
    * dp.
    *
    * Shape: sessionize's shared user-keyed shuffle, a user-keyed lag
    * (same partitioning), one global bounded fold. */
  def returnTimeOf(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("session_idx")
    sessionizeOf(events, gapMinutes)
      .withColumn("prev_end", lag("end_us", 1).over(byUser))
      .filter(col("prev_end").isNotNull)
      .withColumn("gap", col("start_us") - col("prev_end"))
      .agg(count(lit(1)).as("n_returns"),
        expr("percentile(gap, array(0.5D, 0.9D))").as("ps"))
      .select(col("n_returns"),
        graft.functions.TextF.round4HalfUp(
          element_at(col("ps"), 1) / lit(3.6e9)).as("p50_hours"),
        graft.functions.TextF.round4HalfUp(
          element_at(col("ps"), 2) / lit(3.6e9)).as("p90_hours"))
  }

  /** Peak concurrent sessions per day — the capacity-planning number
    * (provision for the MAX, bill for the mean): every session emits
    * +1 at its start and −1 one µs past its end (exclusive end, so a
    * single-event session still occupies its instant and
    * same-instant handoffs don't double-count: ends sort before
    * starts), and the running sum's per-day maximum is the day's
    * peak. The sweep runs on the SESSION frame (events ÷ session
    * length), totally ordered by (µs, delta, user, session), as the
    * two-phase prefix sum ([[graft.Scale.twoPhaseRunningSum]]:
    * time-range buckets from a map-side sketch, per-bucket delta
    * totals to a bounded offset literal, running = offset + local
    * running sum — concurrency is a prefix sum, so per-range offsets
    * add) — no single-partition window at any scale, and the narrow
    * marker frame materializes once so sessionize's shuffle doesn't
    * recompute per pass. Days are attributed by marker time;
    * sessions spanning midnight contribute to both days' sweeps via
    * their markers (start day gains, end day releases) — the standard
    * continuous-sweep convention.
    *
    * Everything int64; deterministic total order. */
  def peakConcurrencyOf(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val markers = sessionizeOf(events, gapMinutes)
      .select(col("user_id"), col("session_idx"),
        explode(array(
          struct(col("start_us").as("us"), lit(1L).as("delta")),
          struct((col("end_us") + 1L).as("us"), lit(-1L).as("delta"))))
          .as("m"))
      .select(col("user_id"), col("session_idx"),
        col("m.us").as("us"), col("m.delta").as("delta"))
    graft.Scale.twoPhaseRunningSum(markers,
        Seq(col("us"), col("delta"), col("user_id"), col("session_idx")),
        col("delta"))
      .withColumnRenamed("__running", "running")
      .groupBy(timestamp_micros(col("us")).cast("date").as("day"))
      .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L))
        .as("n_sessions_started"),
        max("running").as("peak_concurrent"))
      .orderBy("day")
  }

  /** Time-weighted average (TWAP) concurrency per day —
    * [[peakConcurrencyOf]]'s companion read: peak sizes the worst
    * MOMENT (provision for it), the time integral sizes the typical
    * LOAD (bill/capacity-plan for it; a one-minute spike and an
    * all-day plateau can share a peak but differ 1000× in
    * session-seconds). Per day: sessions touching the day, total
    * session-seconds inside the day, and the time-weighted mean
    * concurrency = session-µs / 86 400 µs·10⁶.
    *
    * Exactness: each session's [start, end] interval is clipped to
    * the day in integer MICROSECONDS (UTC day bounds — the session
    * fixes spark.sql.session.timeZone); the per-day sum rides
    * decimal(38,0) (10⁹ users × 86 400·10⁶ µs crosses int64);
    * renders divide once at the edge. Single-event sessions carry
    * zero length but still count toward n_sessions — the same
    * convention as [[sessionizeOf]]'s duration_sec.
    *
    * Shape: [[sessionizeOf]]'s one user-keyed shuffle, then a
    * map-side day explode (a 30-min-gap session spans ≤ 2 calendar
    * days, so the explode is ≤ 2×) into a day-keyed map-combinable
    * aggregate. No window beyond sessionize's per-user lag, nothing
    * driver-side. */
  def twapConcurrencyOf(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    sessionizeOf(events, gapMinutes)
      .select(col("start_us"), col("end_us"),
        explode(sequence(timestamp_micros(col("start_us")).cast("date"),
          timestamp_micros(col("end_us")).cast("date"))).as("day"))
      .select(col("day"),
        greatest(col("start_us"),
          unix_micros(col("day").cast("timestamp"))).as("s"),
        least(col("end_us"),
          unix_micros(date_add(col("day"), 1).cast("timestamp"))).as("e"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum((col("e") - col("s")).cast(Dec)).as("us"))
      .select(col("day"), col("n_sessions"),
        (floor(col("us").cast("double") / lit(1e3) + lit(0.5)) / lit(1e3))
          .as("session_seconds"),
        graft.functions.TextF.round4HalfUp(
          col("us").cast("double") / lit(86400e6)).as("twap_concurrent"))
      .orderBy("day")
  }

  /** Binary-segmentation changepoint (the top-1 split of the classic
    * recursive scheme): per event type, the day boundary that
    * minimizes total within-segment squared error of the daily
    * revenue series — [[cusumChangepointOf]] runs a sequential
    * threshold test (needs a baseline + h); this finds the single
    * best break with NO tuning, the retrospective "when did the
    * regime change" read. Exact arithmetic: daily totals on the CENT
    * grid (int64 squares safe to ~10⁸ days·cents²), each side's SSE
    * = (k·Σx² − (Σx)²)/k from integer cumsums, combined L-then-R in
    * IEEE double and quantized before the argmin (ties → earliest
    * boundary); sse_reduction = 1 − cost/SSE_total, 4 dp. Types with
    * < 3 days emit nothing (no interior boundary).
    *
    * Shape: one (type, day) map-combinable aggregate at fact scale;
    * cumsums, candidate scoring, and the argmin all run on the
    * bounded (types × days) frame. */
  def binarySegmentationOf(events: DataFrame): DataFrame = {
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val cum = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byType = Window.partitionBy("event_type")
    val daily = Behavior.daily(events,
      Behavior.cents(col("value")).as("qc"))(sum("qc").as("x"))
      // Squares ride the DOLLAR grid (cent squares overflow int64 at
      // the ×1000 rehearsal scale); means keep full cent precision.
      .withColumn("xd", expr("(x + 50) div 100"))
    daily
      .withColumn("i", row_number().over(byDay).cast("long"))
      .withColumn("cx", sum("x").over(cum))
      .withColumn("cxd", sum("xd").over(cum))
      .withColumn("cxx", sum(col("xd") * col("xd")).over(cum))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("tx", sum("x").over(byType))
      .withColumn("txd", sum("xd").over(byType))
      .withColumn("txx", sum(col("xd") * col("xd")).over(byType))
      .filter(col("n") >= 3 && col("i") < col("n")) // interior boundaries
      // Per-candidate doubles from exact int64 (each < 2^53), fixed
      // L-then-R order — order-blind because nothing float ever SUMS
      // across rows.
      .withColumn("cost",
        (col("cxx").cast("double")
          - col("cxd").cast("double") * col("cxd").cast("double")
            / col("i").cast("double")) +
          ((col("txx") - col("cxx")).cast("double")
            - (col("txd") - col("cxd")).cast("double")
              * (col("txd") - col("cxd")).cast("double")
              / (col("n") - col("i")).cast("double")))
      .withColumn("cost_q", floor(col("cost") + lit(0.5)).cast("long"))
      .withColumn("rn", row_number().over(
        byType.orderBy(col("cost_q"), col("i"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("last_day_before_split"),
        col("i").as("days_before"), (col("n") - col("i")).as("days_after"),
        graft.functions.TextF.round4HalfUp(
          expr("try_divide(CAST(cx AS DOUBLE), CAST(i AS DOUBLE)) / 100"))
          .as("mean_before"),
        graft.functions.TextF.round4HalfUp(
          expr("try_divide(CAST(tx - cx AS DOUBLE), CAST(n - i AS DOUBLE)) / 100"))
          .as("mean_after"),
        graft.functions.TextF.round4HalfUp(expr(
          """1.0 - try_divide(CAST(cost_q AS DOUBLE),
            |  CAST(txx AS DOUBLE) - CAST(txd AS DOUBLE) * CAST(txd AS DOUBLE)
            |    / CAST(n AS DOUBLE))""".stripMargin))
          .as("sse_reduction"))
      .orderBy("event_type")
  }

  /** Gap-threshold sensitivity sweep for sessionization: session
    * counts and mean size at gap ∈ {5, 15, 30, 60} minutes — the knee
    * read that justifies (or indicts) row 46's 30-minute convention:
    * if 15 and 60 minutes give nearly the same session count, the
    * choice doesn't matter; if counts swing, the analysis riding on
    * "sessions" is really riding on an arbitrary constant. ONE pass
    * computes every threshold: sessions(g) = users + Σ 1[gap > g]
    * over adjacent same-user gaps, so the sweep is one lag window and
    * four conditional sums — not one sessionize per threshold.
    * All int64; mean events/session by one division, 4 dp.
    *
    * Shape: one user-keyed lag window (the only fact-scale shuffle)
    * + a 1-row fold reshaped to |thresholds| rows. */
  def sessionSweepOf(events: DataFrame,
                     gapsMinutes: Seq[Int] = Seq(5, 15, 30, 60)): DataFrame = {
    require(gapsMinutes.nonEmpty && gapsMinutes.forall(_ > 0),
      s"positive gap minutes required: $gapsMinutes")
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
    val folded = gaps.agg(
      (count(lit(1)) - sum(when(col("gap").isNull, 0L).otherwise(1L)))
        .as("n_users"),
      count(lit(1)).as("n_events"),
      expr(s"named_struct(${gapsMinutes.map(g =>
        s"'g$g', sum(if(gap > ${g.toLong * 60000000L}L, 1L, 0L))")
        .mkString(", ")})").as("splits"))
    folded.selectExpr("n_users", "n_events",
      s"stack(${gapsMinutes.length}, " + gapsMinutes.map(g =>
        s"$g, n_users + splits.g$g").mkString(", ") +
        ") AS (gap_minutes, n_sessions)")
      .select(col("gap_minutes"), col("n_sessions"),
        graft.functions.TextF.round4HalfUp(col("n_events").cast("double")
          / col("n_sessions").cast("double")).as("mean_events_per_session"))
      .orderBy("gap_minutes")
  }

  /** Watermark-loss trade-off curve: for allowed lateness w ∈ {1, 5,
    * 30, 120} minutes, the exact count (and ppm) of events a
    * watermark of w would DROP — an event is lost iff it arrives
    * after the high-water mark has advanced more than w past its
    * event time (arrival order = event_id, the [[disorderAuditOf]]
    * proxy). The curve turns row 243's max-jump scalar into the
    * actual loss-vs-latency menu a streaming deployment chooses from
    * (2 hours of state for zero loss, or 1 minute for 0.3%?). ONE
    * running-max window pass computes every threshold as conditional
    * sums.
    *
    * Shape: one arrival-ordered window per type (type-keyed, the §4
    * skew note) + a bounded fold reshaped to |thresholds| rows. */
  def watermarkLossOf(events: DataFrame,
                      lateMinutes: Seq[Int] = Seq(1, 5, 30, 120)): DataFrame = {
    require(lateMinutes.nonEmpty && lateMinutes.forall(_ > 0),
      s"positive lateness minutes required: $lateMinutes")
    val byArrival = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lagged = events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("hwm", max("us").over(byArrival))
      .withColumn("late_us",
        when(col("hwm").isNotNull && col("hwm") > col("us"),
          col("hwm") - col("us")).otherwise(0L))
    val folded = lagged.agg(count(lit(1)).as("n_events"),
      expr(s"named_struct(${lateMinutes.map(m =>
        s"'m$m', sum(if(late_us > ${m.toLong * 60000000L}L, 1L, 0L))")
        .mkString(", ")})").as("drops"))
    folded.selectExpr("n_events",
      s"stack(${lateMinutes.length}, " + lateMinutes.map(m =>
        s"$m, drops.m$m").mkString(", ") +
        ") AS (watermark_minutes, n_dropped)")
      .select(col("watermark_minutes"), col("n_events"), col("n_dropped"),
        expr("(n_dropped * 1000000) div n_events").as("dropped_ppm"))
      .orderBy("watermark_minutes")
  }

  /** Additive weekday decomposition of the daily revenue series per
    * type — [[seasonalProfileOf]] reports the weekday SHAPE, this
    * SUBTRACTS it: revenue = trend (7-day centered MA) + weekday
    * effect + residual, the classical-decomposition read whose
    * residual is what anomaly detection should alarm on (raw-series
    * alarms re-discover every weekend; [[seasonalOutliersOf]] handles
    * the LOO-robust version, this exposes the decomposition itself).
    * Exact operands end to end: daily totals on the cent grid, the
    * centered MA kept as the INTEGER 7-day sum (edge days with a
    * partial frame report NULL trend — a shrunk frame would fake a
    * trend from weekday mix), the weekday effect from full-frame days
    * as Σ(7x − s7) over 7·n (integer numerator/denominator, one
    * division), and the residual defined ON the 4-dp published
    * components (revenue − trend − effect, re-rounded) so the table
    * is self-consistent to the digit a reader checks by hand.
    *
    * GAP-FREE ASSUMPTION: the "centered 7-day MA" is a ROWS frame of
    * 7 observed (type, day) rows — on a series with calendar gaps it
    * spans more than 7 calendar days and mixes misaligned weekdays,
    * so the published trend is only a 7-CALENDAR-day MA when every
    * day in the span has at least one event of the type (true of the
    * events corpus; a sparse deployment should densify each type's
    * min..max day range with zero rows first — `sequence` + explode,
    * still bounded by the daily frame — before this window). The
    * oracle mirrors the same observed-rows frame on purpose.
    *
    * Shape: one (type, day) map-combinable aggregate at fact scale;
    * every window/join after it rides the bounded daily frame. */
  def seasonalDecomposeOf(events: DataFrame): DataFrame = {
    val ma = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-3, 3)
    val daily = Behavior.daily(events,
      Behavior.cents(col("value")).as("qc"))(sum("qc").as("x"))
    val trended = daily
      .withColumn("w7", count(lit(1)).over(ma))
      .withColumn("t7", when(col("w7") === 7, sum("x").over(ma)))
      .withColumn("dow",
        datediff(col("day"), lit("1970-01-01").cast("date")) % 7)
    val eff = trended.filter(col("t7").isNotNull)
      .groupBy("event_type", "dow")
      .agg(sum(expr("7 * x - t7")).as("dsum"), count(lit(1)).as("dn"))
    trended.join(eff, Seq("event_type", "dow"), "left")
      .select(col("event_type"), col("day"),
        r4(col("x").cast("double") / 100).as("revenue"),
        r4(col("t7").cast("double") / 7 / 100).as("trend"),
        r4(col("dsum").cast("double") / (lit(7) * col("dn")).cast("double")
          / 100).as("weekday_effect"))
      .withColumn("residual",
        when(col("trend").isNotNull && col("weekday_effect").isNotNull,
          r4(col("revenue") - col("trend") - col("weekday_effect"))))
      .orderBy("event_type", "day")
  }

  /** Weekday revenue envelope per type — the NORMAL BAND a monitoring
    * dashboard draws under the live line (p10/p50/p90 of daily
    * revenue, conditioned on weekday so Saturday isn't judged against
    * Tuesday — [[seasonalDecomposeOf]] models the weekday effect,
    * this publishes the empirical band an on-call human eyeballs).
    * Daily totals on the exact cent grid; the ONE array-percentile
    * aggregate interpolates on exact integer operands
    * ([[interarrivalPercentilesOf]]'s single-buffer move) over the
    * BOUNDED (type × weekday) daily frame; dollars at 4 dp.
    *
    * Shape: one (type, day) map-combinable aggregate at fact scale;
    * the envelope aggregate runs on ≤ types × days rows. */
  def weekdayEnvelopeOf(events: DataFrame): DataFrame = {
    Behavior.daily(events,
      Behavior.cents(col("value")).as("qc"))(sum("qc").as("x"))
      .withColumn("dow",
        datediff(col("day"), lit("1970-01-01").cast("date")) % 7)
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_days"),
        expr("percentile(x, array(0.1D, 0.5D, 0.9D))").as("ps"))
      .select(col("event_type"), col("dow"), col("n_days"),
        r4(element_at(col("ps"), 1) / 100).as("p10"),
        r4(element_at(col("ps"), 2) / 100).as("p50"),
        r4(element_at(col("ps"), 3) / 100).as("p90"))
      .orderBy("event_type", "dow")
  }

  /** Session entry-point conversion (landing-page analysis): sessions
    * grouped by their FIRST event's item, with the share that convert
    * (contain a purchase) — the "which entry earns the session" read
    * product teams pair with [[Behavior.funnelStepsOf]]'s global
    * funnel. Session assignment is [[sessionTagged]], the tag
    * [[sessionizeOf]] folds, kept at event grain; the entry event is
    * the lexicographic struct MIN over (us, event_id) — map-combinable,
    * no second window; conversion in exact ppm.
    *
    * Shape: one user-keyed sort window (sessionize's shuffle), one
    * (user, session) aggregate, one bounded item rollup. */
  def entryConversionOf(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionTagged(events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), Behavior.itemKey.as("item")), gapMinutes)
      .groupBy("user_id", "session_idx")
      .agg(min(struct(col("us"), col("event_id"), col("item"))).as("first"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      .groupBy(col("first.item").as("entry_item"))
      .agg(count(lit(1)).as("n_sessions"), sum("conv").as("n_converted"))
      .select(col("entry_item"), col("n_sessions"), col("n_converted"),
        expr("(n_converted * 1000000) div n_sessions").as("conv_ppm"))
      .orderBy("entry_item")

  /** Interval-OVERLAP join: sessions × campaign windows weighted by
    * the overlap DURATION — [[intervalJoinOf]] answers "which events
    * fall inside a window" (point ∈ interval); this answers "how much
    * session time each campaign actually covered" (interval ∩
    * interval), the exposure denominator an attribution model
    * normalizes by. Sessions are closed-start exclusive-end
    * ([ss, se+1µs) — [[peakConcurrencyOf]]'s convention), campaigns
    * cover [start_day 00:00, end_day+1 00:00); overlap in exact µs,
    * reported seconds at 4 dp.
    *
    * Shape: the same 2-day-bucket equijoin as [[intervalJoinOf]] —
    * each side explodes into the buckets it covers, pairs meet on the
    * bucket key (never a theta join), a pair matching in several
    * buckets dedups BEFORE aggregation. Campaign side is
    * calendar-bounded and broadcasts. */
  def sessionCampaignOverlapOf(events: DataFrame, campaigns: DataFrame,
                               gapMinutes: Int = 30): DataFrame = {
    val sess = sessionizeOf(events, gapMinutes)
      .select(col("user_id"), col("session_idx"),
        col("start_us"), col("end_us"))
    val day0 = broadcast(events.agg(min(to_date(col("ts"))).as("day0")))
    val campB = broadcast(campaigns.crossJoin(day0)
      .select(col("campaign_id"),
        unix_micros(col("start_day").cast("timestamp")).as("cs"),
        unix_micros(date_add(col("end_day"), 1).cast("timestamp")).as("ce"),
        explode(sequence(
          expr("datediff(start_day, day0) div 2"),
          expr("datediff(end_day, day0) div 2"))).as("bucket")))
    val sessBucketed = sess.crossJoin(day0)
      .withColumn("bucket", explode(sequence(
        expr("datediff(CAST(timestamp_micros(start_us) AS DATE), day0) div 2"),
        expr("datediff(CAST(timestamp_micros(end_us) AS DATE), day0) div 2"))))
    sessBucketed.join(campB, Seq("bucket"))
      .select(col("campaign_id"), col("user_id"), col("session_idx"),
        greatest(lit(0L),
          least(col("end_us") + 1L, col("ce"))
            - greatest(col("start_us"), col("cs"))).as("overlap_us"))
      .filter(col("overlap_us") > 0L)
      .distinct() // a pair meeting in several buckets counts once
      .groupBy("campaign_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("overlap_us").as("ou"))
      .select(col("campaign_id"), col("n_sessions"),
        graft.functions.TextF.round4HalfUp(col("ou").cast("double") / 1e6)
          .as("total_overlap_s"))
      .orderBy("campaign_id")
  }

  def sessionCampaignOverlap(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    sessionCampaignOverlapOf(events, campaignWindows(events))
  }

  /** Shared dense per-type daily spine for the forecast evaluators:
    * every (event_type, day) cell between the GLOBAL min and max day,
    * observed count or 0 (a model recursion or a lag-7 baseline that
    * skips calendar gaps silently misaligns — the `daily_fill`
    * lesson). `idx` is days since the global min; `si` the train/test
    * split index (last `testDays` days held out). Bounded: types ×
    * day-span rows. */
  /** Pettitt changepoint test per event type (Pettitt '79) — the
    * RANK-based single-changepoint detector beside the mean-based
    * pair ([[cusumChangepointOf]] needs a baseline + threshold,
    * binary segmentation minimizes SSE): K = max_t |U_t| with
    * U_t = Σ_{i≤t}Σ_{j>t} sgn(y_i − y_j) over the dense daily count
    * series — distribution-free, outlier-immune (a single spiked day
    * moves U by at most T, where it moves an SSE split by the square
    * of the spike). Earliest argmax on ties; the α=0.05 verdict uses
    * the standard approximation p ≈ 2·exp(−6K²/(T³+T²)) rearranged
    * to the CROSS-MULTIPLIED literal form 6K² > 3.68888·(T³+T²)
    * (−ln 0.025 = 3.68888…, a shared literal both engines compare
    * with one multiply — the madOutliers literal rule; no exp/ln at
    * runtime). Integer exact: pairwise signs as CASE (engine sign()
    * types differ), U sums and K on int64 (K ≤ T²/2 — int64 to
    * T ≈ 4·10⁶ days; the calendar caps T far below).
    *
    * Shape: one (type, day) fact aggregate; the sign pairs and the
    * boundary sums all ride the bounded types × span² day frame. */
  def pettittChangepointOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events)(count(lit(1)).as("c"))
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1")) // 1 row
    val dense = daily.select("event_type").distinct() // bounded
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), col("d0"),
        explode(sequence(lit(0L),
          datediff(col("d1"), col("d0")).cast("long"))).as("idx"))
      .join(daily.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          datediff(col("day"), col("d0")).cast("long").as("idx"),
          col("c")),
        Seq("event_type", "idx"), "left")
      .select(col("event_type"), col("d0"), col("idx"),
        coalesce(col("c"), lit(0L)).as("y"))
      .localCheckpoint(false) // pairs, boundaries and the day lookup read it
    val pairs = dense.as("l")
      .join(dense.as("r"),
        col("l.event_type") === col("r.event_type")
          && col("l.idx") < col("r.idx"))
      .select(col("l.event_type").as("event_type"),
        col("l.idx").as("i"), col("r.idx").as("j"),
        when(col("l.y") > col("r.y"), 1L)
          .when(col("l.y") < col("r.y"), -1L).otherwise(0L).as("s"))
    val boundaries = dense
      .groupBy("event_type").agg(max("idx").as("tmax"))
      .select(col("event_type"),
        explode(sequence(lit(0L), col("tmax") - 1L)).as("t"))
    val u = pairs.join(boundaries, Seq("event_type"))
      .filter(col("i") <= col("t") && col("j") > col("t"))
      .groupBy("event_type", "t")
      .agg(sum("s").as("u"))
    u.groupBy("event_type")
      .agg(count(lit(1)).as("n_boundaries"),
        min(struct((-abs(col("u"))).as("nk"), col("t"))).as("m"))
      .select(col("event_type"),
        (col("n_boundaries") + 1L).as("t_days"),
        (-col("m.nk")).as("k_stat"), col("m.t").as("change_idx"))
      .join(dense.select(col("event_type"),
        col("idx").as("change_idx"),
        expr("date_add(d0, CAST(idx AS INT))").as("change_day")),
        Seq("event_type", "change_idx"))
      .select(col("event_type"), col("t_days"), col("k_stat"),
        col("change_idx"), col("change_day"),
        (expr("CAST(6 * k_stat * k_stat AS DOUBLE)") >
          lit(3.68888) * expr(
            "CAST(t_days * t_days * t_days + t_days * t_days AS DOUBLE)"))
          .as("significant"))
      .orderBy("event_type")
  }

  /** Syntetos–Boylan demand classification per item (SBC '05 — the
    * quadrant chart that DECIDES which forecaster an item gets;
    * [[crostonBacktestOf]] assumes intermittency, this is the gate
    * that routes items there): ADI = calendar periods per demand
    * day (how OFTEN it sells) × CV² of the demand SIZES (how
    * LUMPILY), cut at the classical ADI = 4/3 and CV² = 0.49 into
    * smooth / intermittent / erratic / lumpy.
    *
    * Both cutoffs are RATIONAL, so the cuts are exact integer
    * cross-multiplications — never a rounded ratio at the boundary
    * (the [[Warehouse.priceDispersionOf]] lesson): ADI ≥ 4/3 ⟺
    * 3·T ≥ 4·n_d, and CV² ≥ 49/100 ⟺ 100·(n_d·Σs² − S²) ≥ 49·S²
    * (population variance of per-day sizes, cleared denominators on
    * decimal(38,0) — S² crosses int64 at ~3·10⁹ units). The
    * published ppm columns are truncated integer divisions for the
    * READOUT; the class NEVER reads them. T is the GLOBAL calendar
    * span (one 1-row broadcast) — the shared denominator that makes
    * items comparable; single-demand-day items have CV² = 0
    * (degenerate-variance convention) and classify by ADI alone.
    *
    * Shape: one (item, day) aggregate off the purchase slice, one
    * item fold on the vocabulary-bounded frame, a 1-row bounds
    * broadcast. */
  def demandClassesOf(events: DataFrame): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .select(
        Behavior.itemKey.as("item"),
        to_date(col("ts")).as("day"))
      .groupBy("item", "day").agg(count(lit(1)).as("s"))
    val bounds = daily.agg(
      (datediff(max("day"), min("day")) + 1).cast("long").as("t_days")) // 1 row
    daily.groupBy("item")
      .agg(count(lit(1)).as("nd"), sum(col("s").cast(Dec)).as("ssum"),
        sum(expr(s"CAST(s AS $Dec) * s")).as("ssq"))
      .crossJoin(broadcast(bounds))
      .select(col("item"), col("t_days"), col("nd"),
        expr("CAST((t_days * 1000000) div nd AS BIGINT)").as("adi_ppm"),
        expr(s"""CAST(((nd * ssq - ssum * ssum) * 1000000)
                |  div (ssum * ssum) AS BIGINT)""".stripMargin).as("cv2_ppm"),
        concat(
          when(expr("3 * t_days >= 4 * nd"), lit("intermittent_"))
            .otherwise(lit("smooth_")),
          when(expr("100 * (nd * ssq - ssum * ssum) >= 49 * ssum * ssum"),
            lit("erratic")).otherwise(lit("regular"))).as("quadrant"))
      .select(col("item"), col("t_days"), col("nd"), col("adi_ppm"),
        col("cv2_ppm"),
        expr("""CASE quadrant
                |  WHEN 'smooth_regular' THEN 'smooth'
                |  WHEN 'smooth_erratic' THEN 'erratic'
                |  WHEN 'intermittent_regular' THEN 'intermittent'
                |  ELSE 'lumpy' END""".stripMargin).as("demand_class"))
      .orderBy("item")
  }

  private def denseDaily(events: DataFrame, testDays: Int): DataFrame = {
    val daily = Behavior.daily(events)(count(lit(1)).as("c"))
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1")) // 1 row
    val spine = daily.select("event_type").distinct() // bounded
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), col("d0"),
        (datediff(col("d1"), col("d0")).cast("long") - testDays).as("si"),
        explode(sequence(lit(0L),
          datediff(col("d1"), col("d0")).cast("long"))).as("idx"))
      .select(col("event_type"), col("idx"), col("si"),
        date_add(col("d0"), col("idx").cast("int")).as("day"))
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("idx"), col("si"),
        coalesce(col("c"), lit(0L)).as("y"))
  }

  /** Holt double-exponential-smoothing backtest per type (α = β = ½)
    * vs the lag-7 seasonal naive — the "does a TREND model pay"
    * go/no-go beside `forecast_backtest` (which only compares naives;
    * a series with real drift beats lag-7 exactly where Holt's trend
    * state earns its keep, and a seasonal series punishes it — this
    * measures which regime the corpus is in). Train on all but the
    * last `testDays` days, forecast h-step as level + h·trend, score
    * both models by WAPE on the held-out days.
    *
    * Determinism: the recursion is ENTIRELY integer — counts scale to
    * the milli grid and each update halves by ARITHMETIC RIGHT SHIFT
    * (`shiftright`/`>>` both floor on negatives, dodging the Spark
    * `div`-truncates/DuckDB-`//`-floors crossing that the Shapley row
    * sign-splits): l′ = (y+l+b)»1, b′ = (l′−l+b)»1, folded in
    * ascending day order on both engines (bounded-array aggregate()
    * left-fold ≡ the oracle's recursive CTE). WAPE by integer ppm
    * division, the `forecast_backtest` contract.
    *
    * Shape: one (type, day) fact aggregate; the spine, fold, and
    * eval all ride the bounded types × day-span frame. */
  def holtBacktestOf(events: DataFrame, testDays: Int = 14): DataFrame = {
    require(testDays > 0, s"testDays must be positive, got $testDays")
    val dense = denseDaily(events, testDays)
      .withColumn("ym", col("y") * 1000L).localCheckpoint(false)
    val fitted = dense.filter(col("idx") <= col("si"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("idx"), col("ym"))))
        .as("arr"), max("si").as("si"))
      .withColumn("fit", expr(
        """aggregate(arr,
          |  named_struct('first', true, 'l', 0L, 'b', 0L),
          |  (acc, x) -> CASE WHEN acc.first
          |    THEN named_struct('first', false, 'l', x.ym, 'b', 0L)
          |    ELSE named_struct('first', false,
          |      'l', shiftright(x.ym + acc.l + acc.b, 1),
          |      'b', shiftright(
          |        shiftright(x.ym + acc.l + acc.b, 1) - acc.l + acc.b, 1))
          |    END)""".stripMargin))
      .select(col("event_type"), col("si").as("si_f"),
        col("fit.l").as("l"), col("fit.b").as("b"))
    val naive = dense.select(col("event_type"),
      (col("idx") + 7L).as("idx"), col("ym").as("y7"))
    dense.filter(col("idx") > col("si"))
      .join(naive, Seq("event_type", "idx"))
      .join(broadcast(fitted), Seq("event_type")) // bounded: one row/type
      .select(col("event_type"), col("ym"),
        abs(col("ym") - (col("l") + (col("idx") - col("si_f")) * col("b")))
          .as("errh"),
        abs(col("ym") - col("y7")).as("err7"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test"), sum("ym").as("actual_m"),
        sum("errh").as("errh"), sum("err7").as("err7"))
      .filter(col("actual_m") > 0)
      .select(col("event_type"), col("n_test"),
        expr("(errh * 1000000) div actual_m").as("wape_holt_ppm"),
        expr("(err7 * 1000000) div actual_m").as("wape_naive_ppm"),
        (col("errh") < col("err7")).as("holt_wins"))
      .orderBy("event_type")
  }

  /** Holt-Winters ADDITIVE-SEASONAL backtest per type (α = β = γ = ½,
    * weekly m = 7) vs the lag-7 naive — the model that carries BOTH
    * the trend state [[holtBacktestOf]] adds AND the weekday shape
    * the naive gets for free; the go/no-go that decides whether a
    * real forecaster pays over "same weekday last week" (lag-7 is
    * the bar precisely because it nails pure weekly shape — HW must
    * win on drift + shape TOGETHER to justify its state).
    *
    * Determinism: the [[holtBacktestOf]] integer discipline extended
    * to the seasonal state — milli-grid counts, every α/β/γ = ½
    * update an ARITHMETIC RIGHT SHIFT (floors on negatives on both
    * engines; seasonals go negative by construction):
    * l′ = (y − s_old + l + b)»1, b′ = (l′ − l + b)»1,
    * s′ = (y − l′ + s_old)»1 at phase idx mod 7. Seeding is the
    * classical first-week init made integer-exact: l₀ = ⌊Σ week₀/7⌋
    * (both engines truncate nonneg), s₀ⱼ = yⱼ − l₀, b₀ = 0; the fold
    * starts at idx 7 with that seed as the aggregate()'s zero (a
    * COLUMN, not a literal — the bounded-array left fold ≡ the
    * oracle's recursive CTE carrying s0..s6). Forecast
    * l + h·b + s[phase]; WAPE by integer ppm division.
    *
    * Shape: one (type, day) fact aggregate; seed, fold, and eval
    * ride the bounded types × day-span frame. */
  def holtWintersBacktestOf(events: DataFrame, testDays: Int = 14): DataFrame = {
    require(testDays > 0, s"testDays must be positive, got $testDays")
    val dense = denseDaily(events, testDays)
      .withColumn("ym", col("y") * 1000L).localCheckpoint(false)
    val seed = dense.filter(col("idx") <= 6)
      .groupBy("event_type")
      .agg(expr("CAST(sum(ym) AS BIGINT) div 7").as("l0"),
        array_sort(collect_list(struct(col("idx"), col("ym")))).as("w0"))
      .select(col("event_type"), col("l0"),
        expr("transform(w0, x -> x.ym - l0)").as("s0"))
    val folded = dense.filter(col("idx") > 6 && col("idx") <= col("si"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("idx"), col("ym"))))
        .as("arr"))
      .join(seed, Seq("event_type"))
      .withColumn("fit", expr(
        """aggregate(arr,
          |  named_struct('l', l0, 'b', CAST(0 AS BIGINT), 's', s0),
          |  (acc, x) -> named_struct(
          |    'l', shiftright(x.ym - element_at(acc.s,
          |           CAST(x.idx % 7 AS INT) + 1) + acc.l + acc.b, 1),
          |    'b', shiftright(
          |           shiftright(x.ym - element_at(acc.s,
          |             CAST(x.idx % 7 AS INT) + 1) + acc.l + acc.b, 1)
          |           - acc.l + acc.b, 1),
          |    's', transform(acc.s, (v, j) -> IF(j = CAST(x.idx % 7 AS INT),
          |           shiftright(x.ym
          |             - shiftright(x.ym - element_at(acc.s,
          |                 CAST(x.idx % 7 AS INT) + 1) + acc.l + acc.b, 1)
          |             + v, 1),
          |           v))))""".stripMargin))
      .select(col("event_type"), col("fit.l").as("lt"),
        col("fit.b").as("bt"), col("fit.s").as("st"))
    // A span ≤ 20 days (si ≤ 6) makes the train slice EMPTY — the
    // oracle's recursive CTE then keeps its seed row (i = 0) and
    // still forecasts the test window from it, so the engine must
    // too: left-join the fold onto the seed and fall back to
    // (l0, b = 0, s0) where no train rows folded. si is a constant
    // of the dense frame, so the forecast horizon reads it off the
    // eval row directly (≡ the oracle's si_f = MAX(si)).
    val fitted = seed
      .join(folded, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("lt"), col("l0")).as("l"),
        coalesce(col("bt"), lit(0L)).as("b"),
        coalesce(col("st"), col("s0")).as("s"))
    val naive = dense.select(col("event_type"),
      (col("idx") + 7L).as("idx"), col("ym").as("y7"))
    dense.filter(col("idx") > col("si"))
      .join(naive, Seq("event_type", "idx"))
      .join(broadcast(fitted), Seq("event_type")) // bounded: one row/type
      .select(col("event_type"), col("ym"),
        abs(col("ym") - (col("l") + (col("idx") - col("si")) * col("b")
          + expr("element_at(s, CAST(idx % 7 AS INT) + 1)"))).as("errw"),
        abs(col("ym") - col("y7")).as("err7"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test"), sum("ym").as("actual_m"),
        sum("errw").as("errw"), sum("err7").as("err7"))
      .filter(col("actual_m") > 0)
      .select(col("event_type"), col("n_test"),
        expr("(errw * 1000000) div actual_m").as("wape_hw_ppm"),
        expr("(err7 * 1000000) div actual_m").as("wape_naive_ppm"),
        (col("errw") < col("err7")).as("hw_wins"))
      .orderBy("event_type")
  }

  /** Croston's method backtest per ITEM — the INTERMITTENT-demand
    * forecaster ([[holtBacktestOf]]/[[holtWintersBacktestOf]] model
    * continuous daily series; an item purchased a handful of days a
    * month breaks them — SES over the zeros drives the level to 0
    * and every demand day reads as an anomaly). Croston smooths TWO
    * series, both updated ONLY on demand days: demand SIZE z and
    * inter-demand INTERVAL p; the flat rate forecast is z/p per day
    * (Croston '72, the spare-parts-planning standard).
    *
    * Determinism: the [[holtBacktestOf]] integer discipline — milli
    * grid, α = ½ updates by arithmetic shift (z′ = (y+z)»1,
    * p′ = (q·1000+p)»1 with q the day gap), seeded z = first demand,
    * p = (first_idx+1)·1000 (the interval from series start — the
    * classical q₀ convention made explicit); rate (z·1000) div p,
    * mean-rate baseline train_total div train_days, WAPE by integer
    * ppm with the (testDays − demand_days)·rate zero-day mass added
    * arithmetically — the test window is NEVER densified.
    *
    * Shape: one (item, day) aggregate off the purchase slice; folds
    * and eval ride the bounded items × demand-days frame; items
    * with no training demand (or no test actuals) drop — WAPE is
    * undefined there, and silence would read as a forecast. */
  def crostonBacktestOf(events: DataFrame, testDays: Int = 14): DataFrame = {
    require(testDays > 0, s"testDays must be positive, got $testDays")
    val daily = events.filter(col("event_type") === "purchase")
      .select(
        Behavior.itemKey.as("item"),
        to_date(col("ts")).as("day"))
      .groupBy("item", "day").agg((count(lit(1)) * 1000L).as("ym"))
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1")) // 1 row
    val d = daily.crossJoin(broadcast(bounds))
      .select(col("item"),
        datediff(col("day"), col("d0")).cast("long").as("idx"),
        (datediff(col("d1"), col("d0")).cast("long") - testDays).as("si"),
        col("ym"))
      .localCheckpoint(false)
    val fitted = d.filter(col("idx") <= col("si"))
      .groupBy("item")
      .agg(array_sort(collect_list(struct(col("idx"), col("ym"))))
        .as("arr"), max("si").as("si"),
        count(lit(1)).as("n_demand"), sum("ym").as("train_m"))
      .withColumn("fit", expr(
        """aggregate(arr,
          |  named_struct('first', true, 'z', CAST(0 AS BIGINT),
          |    'p', CAST(0 AS BIGINT), 'last', CAST(0 AS BIGINT)),
          |  (acc, x) -> CASE WHEN acc.first
          |    THEN named_struct('first', false, 'z', x.ym,
          |      'p', (x.idx + 1) * 1000, 'last', x.idx)
          |    ELSE named_struct('first', false,
          |      'z', shiftright(x.ym + acc.z, 1),
          |      'p', shiftright((x.idx - acc.last) * 1000 + acc.p, 1),
          |      'last', x.idx) END)""".stripMargin))
      .select(col("item"), col("n_demand"),
        expr("(fit.z * 1000) div fit.p").as("r"),
        expr("train_m div (si + 1)").as("m"))
    d.filter(col("idx") > col("si"))
      .join(fitted, Seq("item"))
      .groupBy("item")
      .agg(max("n_demand").as("n_demand"), max("r").as("r"),
        max("m").as("m"), count(lit(1)).as("nz"),
        sum("ym").as("actual_m"),
        sum(abs(col("ym") - col("r"))).as("ecnz"),
        sum(abs(col("ym") - col("m"))).as("emnz"))
      .filter(col("actual_m") > 0)
      .select(col("item"), col("n_demand"),
        col("r").as("rate_croston_mpd"), col("m").as("rate_mean_mpd"),
        expr(s"((ecnz + ($testDays - nz) * r) * 1000000) div actual_m")
          .as("wape_croston_ppm"),
        expr(s"((emnz + ($testDays - nz) * m) * 1000000) div actual_m")
          .as("wape_mean_ppm"),
        expr(s"(ecnz + ($testDays - nz) * r)" +
          s" < (emnz + ($testDays - nz) * m)").as("croston_wins"))
      .orderBy("item")
  }

  /** Pinball (quantile) loss of lag-7-plus-residual-quantile daily
    * forecasts at q ∈ {0.5, 0.9} — the PROPER score for the quantile
    * bands this repo already ships (`conformal_interval` calibrates a
    * band, `weekday_envelope` draws one; neither is ever SCORED — and
    * an uncalibrated p90 that "looks fine" loses exactly here). Per
    * type: train-side residuals r = y − y(t−7), nearest-rank
    * quantile r̂_q (k = ⌈q·n⌉, exact integers), forecast ŷ = y(t−7) +
    * r̂_q on the held-out days, loss·10 = q₁₀(y−ŷ)⁺ + (10−q₁₀)(ŷ−y)⁺
    * — all integer (q on the 0.1 grid); coverage = share of test
    * days with y ≤ ŷ (should read ≈ q — the calibration check rides
    * along). Mean loss renders 4 dp through one double division.
    *
    * Shape: everything after the one (type, day) fact aggregate rides
    * the bounded types × day-span frame (the residual rank window is
    * day-span-bounded per type — the `rolling_median` convention). */
  def pinballLossOf(events: DataFrame, testDays: Int = 14): DataFrame = {
    require(testDays > 0, s"testDays must be positive, got $testDays")
    val dense = denseDaily(events, testDays).localCheckpoint(false)
    val lag7 = dense.select(col("event_type"), (col("idx") + 7L).as("idx"),
      col("y").as("y7"))
    val resid = dense.join(lag7, Seq("event_type", "idx"))
      .withColumn("r", col("y") - col("y7"))
    val train = resid.filter(col("idx") <= col("si"))
      .withColumn("rn", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("r"), col("idx")))) // bounded: ≤ day-span rows/type
    val nTrain = train.groupBy("event_type").agg(count(lit(1)).as("n_train"))
    val qs = dense.select("event_type").distinct()
      .select(col("event_type"), explode(array(lit(5L), lit(9L))).as("q10"))
      .join(broadcast(nTrain), Seq("event_type"))
      .withColumn("k", expr("(q10 * n_train + 9) div 10"))
    val qhat = qs.join(broadcast(train.select(col("event_type"), col("rn"),
        col("r").as("rhat"))), Seq("event_type"))
      .filter(col("rn") === col("k"))
      .select(col("event_type"), col("q10"), col("n_train"), col("rhat"))
    dense.filter(col("idx") > col("si"))
      .join(lag7, Seq("event_type", "idx"))
      .join(broadcast(qhat), Seq("event_type")) // bounded: 2 rows/type
      .select(col("event_type"), col("q10"), col("n_train"),
        (col("y") - (col("y7") + col("rhat"))).as("diff"))
      .groupBy("event_type", "q10")
      .agg(max("n_train").as("n_train"), count(lit(1)).as("n_test"),
        sum(when(col("diff") >= 0L, col("q10") * col("diff"))
          .otherwise((lit(10L) - col("q10")) * -col("diff")))
          .as("loss_x10"),
        sum(when(col("diff") <= 0L, 1L).otherwise(0L)).as("n_covered"))
      .select(col("event_type"), (col("q10").cast("double") / 10.0).as("q"),
        col("n_train"), col("n_test"),
        graft.functions.TextF.round4HalfUp(
          col("loss_x10").cast("double") / 10.0
            / col("n_test").cast("double")).as("mean_pinball"),
        expr("(n_covered * 1000000) div n_test").as("coverage_ppm"))
      .orderBy("event_type", "q")
  }

  /** Weekday seasonality STRENGTH per type — the η² effect size the
    * seasonality family was missing (`chi2_contingency` tests counts,
    * `seasonal_profile` reports the shape, `cramers_v` scores the
    * count table; none says how much of the REVENUE series' variance
    * the weekday explains — the one number that decides between the
    * seasonal and non-seasonal forecast branch): η² = 1 − SS_resid/
    * SS_total with weekday means as the model.
    *
    * Determinism: daily cent totals; grand/weekday means quantized to
    * the micro grid by integer division (the quantize-before-residual
    * move — exact rational means would square into unbounded
    * denominators); squared deviations in decimal(38,0), ONE double
    * division, 6 dp; a constant series (SS_total = 0) nulls.
    *
    * Shape: one (type, day) fact aggregate; means, residuals, and
    * sums all ride the bounded daily frame. Weekday is the arithmetic
    * mod-7 bucket (the `chi2_contingency` convention — no
    * engine-specific dayofweek). */
  def seasonalStrengthOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events,
      Behavior.cents(col("value")).as("vc"))(sum("vc").as("v"))
      .withColumn("w",
        datediff(col("day"), lit("1970-01-01").cast("date")) % 7)
      .localCheckpoint(false) // feeds both mean frames and the residuals
    val gm = daily.groupBy("event_type").agg(count(lit(1)).as("n"),
      expr(s"(CAST(sum(v) AS $Dec) * 1000000) div count(1)")
        .as("gmq"))
    val wm = daily.groupBy("event_type", "w").agg(
      expr(s"(CAST(sum(v) AS $Dec) * 1000000) div count(1)")
        .as("wmq"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    daily.join(broadcast(gm), "event_type")
      .join(broadcast(wm), Seq("event_type", "w")) // bounded: types × 7
      .select(col("event_type"), col("n"),
        ((col("v") * lit(1000000L)).cast(Dec) - col("gmq").cast(Dec))
          .as("dt"),
        ((col("v") * lit(1000000L)).cast(Dec) - col("wmq").cast(Dec))
          .as("dr"))
      .groupBy("event_type")
      .agg(max("n").as("n_days"),
        sum(col("dt") * col("dt")).as("sst"),
        sum(col("dr") * col("dr")).as("ssr"))
      .select(col("event_type"), col("n_days"),
        graft.functions.TextF.round6HalfUp(
          lit(1.0) - d(col("ssr")) / nullif(d(col("sst")), lit(0.0)))
          .as("eta2_weekday"))
      .orderBy("event_type")
  }

  /** DAU/MAU stickiness per day (the growth-dashboard headline "what
    * share of the monthly audience shows up daily" — the habit
    * metric [[Behavior.userGrowthOf]]'s flow accounting and
    * [[rollingReachOf]]'s single window don't read directly): daily
    * distinct users over trailing-`windowDays` distinct users, exact
    * ppm. Days before a full window pay partial-window honesty the
    * same way rolling_reach does (ratio runs against what's
    * observed).
    *
    * Shape: the rolling_reach sliding-distinct contribution explode
    * (windowDays × (user, day) pairs — bounded multiplier, never a
    * self-join) shares ONE dedup with the DAU leg; both aggregates
    * map-combine. */
  def dauStickinessOf(events: DataFrame, windowDays: Int = 28): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val act = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct().localCheckpoint(false) // feeds both legs
    val days = act.select(col("day")).distinct()
    val dau = act.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val mau = act
      .select(col("user_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("off")).as("day"))
      .join(days, "day")
      .groupBy("day")
      .agg(countDistinct("user_id").as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        expr("(dau * 1000000) div mau").as("stickiness_ppm"))
      .orderBy("day")
  }

  /** Revenue momentum streaks per type — the gaps-and-islands read
    * (longest run of up-days, longest run of down-days, run count):
    * the classic SQL islands pattern (island id = rn − rn-within-
    * direction, both on the SAME ordered frame) this engine's window
    * surface hadn't exercised; an on-call reads "9 down-days in a
    * row" very differently from nine scattered dips, and a streak
    * beyond the envelope is the classic change-vs-noise tiebreak.
    * Flat days (Δ = 0) break both kinds of streak.
    *
    * Shape: one (type, day) fact aggregate; lag, islands, and the
    * run fold all ride the bounded daily frame. */
  def streakStatsOf(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy("day")
    val daily = Behavior.daily(events,
      Behavior.cents(col("value")).as("vc"))(sum("vc").as("v"))
      .withColumn("prev", lag("v", 1).over(byType))
      .filter(col("prev").isNotNull)
      .withColumn("dir",
        when(col("v") > col("prev"), 1).when(col("v") < col("prev"), -1)
          .otherwise(0))
      .withColumn("rn", row_number().over(byType))
      .withColumn("rnd", row_number().over(
        Window.partitionBy("event_type", "dir").orderBy("day")))
      .withColumn("island", col("rn") - col("rnd"))
    val runs = daily.filter(col("dir") =!= 0)
      .groupBy("event_type", "dir", "island")
      .agg(count(lit(1)).as("len"))
    runs.groupBy("event_type")
      .agg(max(when(col("dir") === 1, col("len")).otherwise(0L))
        .as("longest_up"),
        max(when(col("dir") === -1, col("len")).otherwise(0L))
          .as("longest_down"),
        count(lit(1)).as("n_runs"))
      .orderBy("event_type")
  }

  /** Conversion by session DEPTH — does a longer session actually
    * convert better? ([[sessionizeOf]] builds the sessions,
    * [[bounceRateOf]] reads depth 1, [[entryConversionOf]] reads the
    * entry TYPE; this is the engagement-depth curve a funnel owner
    * uses to justify "keep them one more page" work — and when the
    * curve is FLAT past depth 3, to kill it). Depth buckets cap at
    * 10 (`10+`) so the tail vocabulary stays bounded; conversion =
    * the session contains ≥ 1 purchase.
    *
    * Shape: the [[sessionTagged]] window pass (one user-keyed
    * shuffle, total (us, event_id) order) with the purchase flag
    * folded into the same per-session aggregate, then a ≤ 10-row
    * bucket rollup with exact-ppm conversion. */
  def sessionDepthConversionOf(events: DataFrame,
                               gapMinutes: Int = 30): DataFrame = {
    val sessions = sessionTagged(events.select(col("event_id"),
      col("user_id"), col("event_type"), unix_micros(col("ts")).as("us")),
      gapMinutes)
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("depth"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
    sessions
      .withColumn("depth_bucket", least(col("depth"), lit(10L)))
      .groupBy("depth_bucket")
      .agg(count(lit(1)).as("n_sessions"), sum("converted").as("n_converted"))
      .select(col("depth_bucket"), col("n_sessions"), col("n_converted"),
        expr("CAST((n_converted * 1000000) div n_sessions AS BIGINT)")
          .as("conv_ppm"))
      .orderBy("depth_bucket")
  }

  /** Power-user curve (the L28 histogram): how many of the window's
    * active users showed up on exactly 1, 2, …, 28 of the last 28
    * days — [[dauStickinessOf]] publishes the MEAN of this
    * distribution as one ratio; the curve's SHAPE is the actual
    * health read (a smile — casual mass plus a daily-habit hump at
    * 25+ — vs the monotone decay of a product nobody returns to).
    *
    * Shape: one (user, day) dedup over the window (day ≥ max−27 via
    * a 1-row broadcast bound), one user fold, a ≤ 28-row histogram
    * with exact-ppm user shares. */
  def powerUserCurveOf(events: DataFrame, windowDays: Int = 28): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val bound = events.agg(max(to_date(col("ts"))).as("d1")) // 1 row
    val perUser = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .crossJoin(broadcast(bound))
      .filter(col("day") >= date_sub(col("d1"), windowDays - 1))
      .select("user_id", "day").distinct()
      .groupBy("user_id").agg(count(lit(1)).as("days_active"))
      // user-bounded frame feeds BOTH the histogram and the total —
      // checkpoint so the fact scan runs once, not twice.
      .localCheckpoint(false)
    val total = perUser.agg(count(lit(1)).as("n_total")) // 1 row
    perUser.groupBy("days_active")
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select(col("days_active"), col("n_users"),
        expr("CAST((n_users * 1000000) div n_total AS BIGINT)")
          .as("user_share_ppm"))
      .orderBy("days_active")
  }

  /** Within-session funnel — [[graft.operators.Behavior.funnelStepsOf]]
    * chains steps over a user's WHOLE history; a merchandiser's
    * "did the click convert" question is session-scoped (the intent
    * that produced the click is gone by tomorrow): per session, a
    * click, then a purchase STRICTLY after the first click in the
    * SAME session. One global row — total sessions, click-sessions,
    * converted click-sessions, exact-ppm in-session conversion —
    * the companion denominator to [[sessionDepthConversionOf]]'s
    * depth curve.
    *
    * Shape: the [[sessionTagged]] window pass; per-session first-click
    * min and last-purchase max fold in ONE aggregate (exists
    * purchase-after-first-click ⟺ max purchase time > first click —
    * no second pass); a 1-row fold after. */
  def sessionFunnelOf(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sessions = sessionTagged(events.select(col("event_id"),
      col("user_id"), col("event_type"), unix_micros(col("ts")).as("us")),
      gapMinutes)
      .groupBy("user_id", "session_idx")
      .agg(min(when(col("event_type") === "click", col("us"))).as("fc"),
        max(when(col("event_type") === "purchase", col("us"))).as("lp"))
    sessions.agg(count(lit(1)).as("n_sessions"),
        sum(when(col("fc").isNotNull, 1L).otherwise(0L))
          .as("n_click_sessions"),
        sum(when(col("fc").isNotNull && col("lp") > col("fc"), 1L)
          .otherwise(0L)).as("n_converted"))
      .select(col("n_sessions"), col("n_click_sessions"), col("n_converted"),
        expr("CAST((n_converted * 1000000) div" +
          " NULLIF(n_click_sessions, 0) AS BIGINT)").as("conv_ppm"))
  }

  /** Hour-of-day × day-of-week arrival heatmap — the on-call
    * load-shape dashboard ([[seasonalProfileOf]] reads weekday MEANS
    * per type; capacity planning needs the 168-cell intensity grid:
    * when do the batch windows actually open?): per (weekday, hour)
    * cell, event count, exact-ppm share of all traffic, and revenue
    * on the cent grid. Weekday is the arithmetic mod-7 epoch-day
    * form ([[graft.operators.Behavior.chi2ContingencyOf]]'s `tow` —
    * engine-portable, no locale-dependent dayofweek), hour the
    * timestamp's clock hour (both engines read the same
    * parquet timestamps).
    *
    * Shape: ONE map-combinable fact aggregate to the fixed 168-cell
    * grid + a 1-row total broadcast. */
  def hourlyHeatmapOf(events: DataFrame): DataFrame = {
    val cells = events.select(
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .as("weekday"),
        hour(col("ts")).as("hour_of_day"),
        Behavior.cents(col("value")).as("vc"))
      .groupBy("weekday", "hour_of_day")
      .agg(count(lit(1)).as("n_events"), sum("vc").as("cents"))
      .localCheckpoint(false) // grid rows + the 1-row total
    val total = cells.agg(sum("n_events").as("n_total")) // 1 row
    cells.crossJoin(broadcast(total))
      .select(col("weekday"), col("hour_of_day"), col("n_events"),
        expr("CAST((n_events * 1000000) div n_total AS BIGINT)")
          .as("share_ppm"),
        graft.functions.TextF.microsTo4dp(col("cents") * 10000L)
          .as("revenue"))
      .orderBy("weekday", "hour_of_day")
  }

  /** Durbin–Watson serial-correlation statistic on the daily-revenue
    * residuals of [[seasonalStrengthOf]]'s weekday-mean model (Durbin
    * -Watson '50 — the "are the residuals still structured" gate: η²
    * says how much the weekday explains; DW says whether what's LEFT
    * is independent day to day, the assumption every ±1.96σ band in
    * the forecast family silently makes. DW = Σ(e_t − e_{t−1})²/Σe_t²
    * ∈ [0,4]; ≈2 independent, <1.5 positively autocorrelated (bands
    * too narrow), >2.5 negatively (over-differenced)). The exact
    * critical bounds depend on n and the regressor count — the 1.5/
    * 2.5 rule-of-thumb bands are published AS the verdict and
    * documented as such, the standing heuristic-bands contract.
    *
    * Determinism: residuals on the exact micro grid (daily cents ×
    * 10⁶ minus the integer-division weekday mean — the
    * [[seasonalStrengthOf]] quantize-before-residual move), both
    * quadratic sums exact decimal(38,0), DW ONE double division 6 dp;
    * a residual-free series (constant within every weekday) nulls.
    *
    * Shape: one (type, day) fact aggregate; the weekday-mean join,
    * the day-ordered lag window, and the fold all ride the bounded
    * daily frame — nothing fact-scale past the first shuffle. */
  def durbinWatsonOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events,
      Behavior.cents(col("value")).as("vc"))(sum("vc").as("v"))
      .withColumn("w",
        datediff(col("day"), lit("1970-01-01").cast("date")) % 7)
      .localCheckpoint(false) // feeds the weekday means AND the residuals
    val wm = daily.groupBy("event_type", "w").agg(
      expr(s"(CAST(sum(v) AS $Dec) * 1000000) div count(1)")
        .as("wmq"))
    val lagW = Window.partitionBy("event_type").orderBy("day")
    val res = daily.join(broadcast(wm), Seq("event_type", "w"))
      .select(col("event_type"), col("day"),
        ((col("v") * lit(1000000L)).cast(Dec) - col("wmq").cast(Dec))
          .as("e"))
      .withColumn("ep", lag("e", 1).over(lagW))
    res.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("e") * col("e")).as("se2"),
        sum(when(col("ep").isNotNull,
          (col("e") - col("ep")) * (col("e") - col("ep")))
          .otherwise(lit(0L).cast(Dec))).as("sd2"))
      .filter(col("n_days") > 1)
      .select(col("event_type"), col("n_days"),
        graft.functions.TextF.round6HalfUp(expr(
          "try_divide(CAST(sd2 AS DOUBLE), CAST(se2 AS DOUBLE))"))
          .as("dw"))
      .withColumn("autocorrelation",
        when(col("dw").isNull, lit("undefined"))
          .when(col("dw") < 1.5, lit("positive"))
          .when(col("dw") > 2.5, lit("negative"))
          .otherwise(lit("none")))
      .orderBy("event_type")
  }

  /** Breusch–Pagan heteroscedasticity gate on the weekday-mean model
    * (BP '79 in the Koenker studentized LM form — the THIRD residual
    * assumption the family now covers in full: [[durbinWatsonOf]]
    * tests lag-1 independence, [[ljungBoxOf]] the omnibus, this
    * tests CONSTANT VARIANCE — the assumption every ±1.96σ band and
    * every OLS standard error silently makes, and the one weekday
    * revenue data most often breaks: busy days are noisier days):
    * auxiliary regression of e² on the fitted weekday mean, LM =
    * n·R², χ² df = 1 at 3.841459.
    *
    * Numeric design: residuals ride the CENT grid with the weekday
    * mean as truncating integer division (documented — the e⁴ moment
    * this test needs crosses decimal(38,0) on [[durbinWatsonOf]]'s
    * exact micro grid: 1e48; cents keep Σe⁴ ≤ ~1e27). All five
    * moments are exact decimal(38,0) sums; R² combines them in ONE
    * double chain (the n·Σfg − ΣfΣg cross terms would square past
    * decimal38 — the welch convention). Constant fitted means or
    * zero residual variance null the verdict via try_divide.
    *
    * Shape: [[durbinWatsonOf]]'s exact posture — one (type, day)
    * fact aggregate checkpointed, the ≤35-row weekday-mean broadcast
    * back, one bounded moment fold. */
  def breuschPaganOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events,
      Behavior.cents(col("value")).as("vc"))(sum("vc").as("v"))
      .withColumn("w",
        datediff(col("day"), lit("1970-01-01").cast("date")) % 7)
      .localCheckpoint(false) // feeds the weekday means AND the residuals
    val wm = daily.groupBy("event_type", "w").agg(
      expr("sum(v) div count(1)").as("f"))
    val res = daily.join(broadcast(wm), Seq("event_type", "w"))
      .select(col("event_type"), col("f"),
        (col("v") - col("f")).as("e"))
    res.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("f").cast(Dec)).as("sf"),
        sum(expr(s"CAST(f AS $Dec) * f")).as("sff"),
        sum(expr(s"CAST(e AS $Dec) * e")).as("sg"),
        sum(expr(s"CAST(e AS $Dec) * e * e * e")).as("sgg"),
        sum(expr(s"CAST(f AS $Dec) * e * e")).as("sfg"))
      .filter(col("n_days") > 2)
      .select(col("event_type"), col("n_days"),
        graft.functions.TextF.round6HalfUp(expr(
          """CAST(n_days AS DOUBLE) *
            |  (CAST(n_days AS DOUBLE) * CAST(sfg AS DOUBLE)
            |    - CAST(sf AS DOUBLE) * CAST(sg AS DOUBLE))
            |* (CAST(n_days AS DOUBLE) * CAST(sfg AS DOUBLE)
            |    - CAST(sf AS DOUBLE) * CAST(sg AS DOUBLE))
            |/ NULLIF(
            |    (CAST(n_days AS DOUBLE) * CAST(sff AS DOUBLE)
            |      - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE))
            |  * (CAST(n_days AS DOUBLE) * CAST(sgg AS DOUBLE)
            |      - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)), 0.0)"""
            .stripMargin)).as("lm_stat"))
      .withColumn("heteroscedastic",
        when(col("lm_stat").isNull, lit(null).cast("boolean"))
          .otherwise(col("lm_stat") > 3.841459))
      .orderBy("event_type")
  }

  /** Cross-correlation lead–lag matrix between event-type daily
    * series (the CCF beside [[acfDailyOf]]'s ACF — the cross twin):
    * for every ordered type pair and every lag in [−maxLag, maxLag],
    * Pearson r between x_a(d) and x_b(d+lag) over the dense shared
    * calendar — the "do clicks LEAD purchases, and by how many
    * days?" read that turns two monitoring series into a causal-
    * ordering hypothesis. Positive best_lag ⇒ a leads b.
    *
    * Determinism: both series are integer counts on the zero-filled
    * global-span grid, so all six moments fold exact in
    * decimal(38,0); r is one fixed double chain (casts → products →
    * sqrt, the [[Robust.corrMatrixOf]] convention) and the
    * per-pair argmax reads QUANTIZED r (1e-6 longs) with
    * (|r|, −|lag|, −lag) struct order — ties prefer the smaller
    * absolute lag, then the earlier lag, integer-exact. Constant
    * series (zero variance) null their r and never win `is_best`.
    *
    * Scale: ONE map-combinable (type, day) fact aggregate; the
    * grid, the (2·maxLag+1)-way lag fan-out and the pair join all
    * ride the calendar-bounded frame (types² × span rows — tiny at
    * any corpus size; the fact scan dominates). */
  def ccfLeadlagOf(events: DataFrame, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 14, s"maxLag in [1,14], got $maxLag")
    val daily = Behavior.daily(events)(count(lit(1)).as("x"))
    // NO checkpoint despite the multi-reference ([[acfDailyOf]]'s
    // shape): daily ends at an exchange (ReuseExchange dedupes it at
    // runtime) and dense's grid join is calendar-bounded arithmetic —
    // paired ×100 runs read checkpointing NEUTRAL (±10% ambient band;
    // §6 r17), so the family keeps its uncheckpointed shape
    val dense = Behavior.calendarFilled(daily, "event_type", "x")
    val lags = (-maxLag to maxLag).map(lit(_))
    val a = dense.select(col("event_type").as("type_a"), col("day"),
        col("x").as("xa"))
      .withColumn("lag", explode(array(lags: _*)))
      .withColumn("day_b", date_add(col("day"), col("lag")))
    val b = dense.select(col("event_type").as("type_b"),
      col("day").as("day_b"), col("x").as("xb"))
    val m = a.join(b, Seq("day_b"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b", "lag")
      .agg(count(lit(1)).as("n"),
        sum(col("xa").cast(Dec)).as("sx"), sum(col("xb").cast(Dec)).as("sy"),
        sum(expr(s"CAST(xa AS $Dec) * xb")).as("sxy"),
        sum(expr(s"CAST(xa AS $Dec) * xa")).as("sxx"),
        sum(expr(s"CAST(xb AS $Dec) * xb")).as("syy"))
    val withR = m.withColumn("r", expr(
      """CAST(n * sxy - sx * sy AS DOUBLE)
        | / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |               * CAST(n * syy - sy * sy AS DOUBLE)), 0.0)"""
        .stripMargin))
      .withColumn("rq", Behavior.micro(col("r")))
    val best = Window.partitionBy("type_a", "type_b")
    withR
      .withColumn("key", struct(
        coalesce(abs(col("rq")), lit(-1L)).as("m"),
        (-abs(col("lag"))).as("al"), (-col("lag")).as("l")))
      .withColumn("is_best", col("rq").isNotNull &&
        col("key") === max(col("key")).over(best))
      .select(col("type_a"), col("type_b"), col("lag"),
        col("n").as("n_overlap"),
        graft.functions.TextF.round6HalfUp(col("r")).as("ccf"),
        col("is_best"))
      .orderBy("type_a", "type_b", "lag")
  }

  /** Per-user automation (bot) heuristics — the trust-and-safety
    * screen that runs BEFORE any engagement metric is believed: a
    * human's inter-event gaps are bursty (CV² ≳ 1, [[burstinessOf]]'s
    * law one level down at the user grain); a scheduler's are
    * metronomic (CV² → 0); and single-event-type accounts at volume
    * are scripts. Publishes per qualifying user (n ≥ `minEvents`)
    * the exact integer diagnostics and a conservative flag:
    * CV²·10⁶ = (g·Σgap² − (Σgap)²)·10⁶ div (Σgap)² on the µs grid —
    * a pure integer rational, NO doubles anywhere (decimal(38,0)
    * headroom: worst case one user spanning the corpus ~10³¹ at
    * ×1000, documented); zero-total-gap users (all events on one
    * microsecond) read NULL CV² and flag as machine-regular.
    * `bot_flag` = metronomic (CV² < 0.1) OR mono-type at volume
    * (top share = 10⁶, n ≥ 50) OR the zero-gap degenerate. On the
    * organic driver corpus every flag reads false (honestly reported
    * — the spec plants a real metronome and a real mono-type script).
    *
    * Scale: one (user, type) count aggregate + one user-keyed lag
    * window — user_id is a HIGH-cardinality key, so the window
    * parallelizes by user hash (the boundaryCarryLag machinery is
    * for low-card keys; here the plain window is the right shape);
    * both fold map-side into per-user rows. */
  def botScoreOf(events: DataFrame, minEvents: Int = 20): DataFrame = {
    require(minEvents >= 2 && minEvents <= 100000,
      s"minEvents in [2,100000], got $minEvents")
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(byUser))
      .groupBy("user_id")
      .agg(count("gap").as("n_gaps"),
        sum(col("gap").cast(Dec)).as("sg"),
        sum(expr(s"CAST(gap AS $Dec) * gap")).as("sgg"))
    val types = events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"), max("c").as("top_c"))
    types.join(gaps, "user_id")
      .filter(col("n_events") >= minEvents)
      .select(col("user_id"), col("n_events"), col("n_gaps"),
        when(col("sg") === 0, lit(null).cast("long")).otherwise(
          expr("CAST(((n_gaps * sgg - sg * sg) * 1000000) div (sg * sg) AS BIGINT)"))
          .as("cv2_ppm"),
        expr("CAST(top_c * 1000000 div n_events AS BIGINT)")
          .as("top_share_ppm"),
        col("sg"))
      .withColumn("bot_flag",
        col("sg") === 0 || col("cv2_ppm") < 100000L ||
          (col("top_share_ppm") === 1000000L && col("n_events") >= 50))
      .drop("sg")
      .orderBy("user_id")
  }

  /** Per-type calendar completeness card (the data-engineering
    * backfill read BEFORE any daily metric is trusted: a 30-day
    * average over 26 observed days is silently 13% low): observed vs
    * span days over each type's OWN first..last range, exact-ppm
    * completeness, and the longest missing-day run — the number that
    * sizes a backfill job. On the driver corpus every type reads
    * 100% complete (honestly reported; the spec plants real gaps).
    *
    * Scale: one (type, day) distinct aggregate; the gap lag rides
    * [[graft.Scale.boundaryCarryLag]] (type is the LOW-cardinality
    * key the helper exists for — parallelism stays range-bucketed,
    * never = |types|); the fold is a bounded per-type aggregate. */
  def gapReportOf(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .distinct()
    graft.Scale.boundaryCarryLag(daily, "event_type",
      Seq(col("day")), col("day"), snapshotInput = false)
      .groupBy("event_type")
      .agg(count(lit(1)).as("observed_days"),
        (datediff(max("day"), min("day")) + 1).cast("long").as("span_days"),
        coalesce(max(datediff(col("day"), col("__prev")) - 1), lit(0))
          .cast("long").as("longest_gap"))
      .select(col("event_type"), col("span_days"), col("observed_days"),
        (col("span_days") - col("observed_days")).as("missing_days"),
        expr("CAST(observed_days * 1000000 div span_days AS BIGINT)")
          .as("completeness_ppm"),
        col("longest_gap"))
      .orderBy("event_type")
  }
}
