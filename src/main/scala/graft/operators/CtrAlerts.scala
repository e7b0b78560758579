package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.functions.VariantF.safeDivide
import graft.sources.Tables

/** The reference's one real analytic: the native-CTR spike detector
  * (native_CTR_alerts.py:215-329), mapped onto the `events` stream:
  * clicks = event_type 'click', impressions = 'view', the (app_name,
  * ad_unit_name) group key = user_id, report_date = the max event day.
  *
  * Scale design: both spike-join inputs are one row per active user —
  * unbounded at corpus scale — so neither side carries a forced
  * `broadcast()` hint; AQE picks the build side from observed sizes
  * and falls back to a shuffled join when both exceed the broadcast
  * threshold. Each aggregate shuffles once, on the group key.
  */
object CtrAlerts {

  private def dailyCtr(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      to_date(col("ts")).as("day"),
      col("user_id"),
      when(col("event_type") === "click", 1L).otherwise(0L).as("is_click"),
      when(col("event_type") === "view", 1L).otherwise(0L).as("is_view"))

  /** Grouped CTR with SAFE_DIVIDE semantics
    * (native_CTR_alerts.py:228-241): clicks/impressions per group. */
  def ctrByGroup(spark: SparkSession, dir: String): DataFrame =
    dailyCtr(spark, dir)
      .groupBy("user_id")
      .agg(sum("is_click").as("clicks"), sum("is_view").as("impressions"))
      .select(col("user_id"), col("clicks"), col("impressions"),
        round(safeDivide(col("clicks"), col("impressions")), 6).as("ctr"))
      .orderBy("user_id")

  /** Empirical-Bayes CTR shrinkage per item: (clicks + α·p₀)/(imps +
    * α) with pseudo-count α = 100 and p₀ the global CTR — the
    * small-sample fix for [[ctrByGroup]]'s raw ratios (an item with 1
    * click / 1 view is not a 100%-CTR item; it's ~p₀ until evidence
    * accumulates). p₀ is ONE double division rounded to 6 dp BEFORE
    * use, so every group shrinks toward the same cross-engine-exact
    * prior; outputs round half-up at 6 dp.
    *
    * Shape: one conditional fact aggregate on the bounded item key;
    * the global totals ride a 1-row broadcast crossJoin
    * ([[Behavior.reportDate]]'s pattern) — not a second fact scan.
    * Items with zero impressions still report: the prior's α
    * pseudo-impressions keep the ratio defined. */
  def ctrShrunkOf(events: DataFrame, alpha: Int = 100): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val ev = events
      .filter(col("event_type").isin("click", "view"))
      .select(
        Behavior.itemKey.as("item"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is_click"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("is_view"))
    val items = ev.groupBy("item")
      .agg(sum("is_click").as("clicks"), sum("is_view").as("impressions"))
    val totals = ev.agg(sum("is_click").as("tc"), sum("is_view").as("ti"))
    // NULLIF on the view total: an all-click slice must degrade to a
    // NULL prior (and NULL shrunk CTRs), not poison every row with NaN.
    val p0 = TextF.round6HalfUp(col("tc").cast("double")
      / nullif(col("ti").cast("double"), lit(0.0)))
    items.crossJoin(broadcast(totals))
      .withColumn("p0", p0)
      .select(col("item"), col("clicks"), col("impressions"),
        round(safeDivide(col("clicks"), col("impressions")), 6).as("ctr_raw"),
        TextF.round6HalfUp(
          (col("clicks").cast("double") + lit(alpha.toDouble) * col("p0"))
          / (col("impressions").cast("double") + lit(alpha.toDouble)))
          .as("ctr_shrunk"),
        col("p0"))
      .orderBy("item")
  }

  /** Wilson score interval per item CTR — the FREQUENTIST uncertainty
    * band beside [[ctrShrunkOf]]'s Bayesian point shrinkage (the
    * alerting read: a 2-click/3-view item shows ctr_raw 0.67 but a
    * Wilson low of 0.21 — rank or threshold on the LOWER bound and
    * small-sample flukes stop topping every report; the same reason
    * Reddit sorts comments by it). Unlike the normal ±z√(p(1−p)/n)
    * band, Wilson never leaves [0, 1] and stays sane at tiny n — the
    * regime alerts actually fire in.
    *
    * low/high = (p̂ + z²/2n ∓ z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    * at z = 1.96. One deterministic double sequence over the exact
    * integer (clicks, impressions) counts, textually identical in
    * the oracle (z² is written 1.96 * 1.96, never a rounded 3.8416);
    * zero-impression items publish NULL bounds via NULLIF, not 0/0,
    * and clicks > impressions (p̂ > 1 — not a binomial proportion in
    * this event model) nulls the band rather than faking one.
    *
    * Shape: the [[ctrShrunkOf]] conditional fact aggregate on the
    * bounded item key; the interval is per-row arithmetic — no
    * second scan, no broadcast, nothing fact-scale after the one
    * shuffle. */
  def ctrWilsonOf(events: DataFrame): DataFrame = {
    val items = events
      .filter(col("event_type").isin("click", "view"))
      .select(
        Behavior.itemKey.as("item"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is_click"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("is_view"))
      .groupBy("item")
      .agg(sum("is_click").as("clicks"), sum("is_view").as("impressions"))
    items.selectExpr("item", "clicks", "impressions",
        "CAST(clicks AS DOUBLE) / NULLIF(CAST(impressions AS DOUBLE), 0.0) AS phat",
        "CAST(impressions AS DOUBLE) AS nd")
      .withColumn("z2", expr("1.96 * 1.96"))
      .withColumn("center", expr("phat + z2 / NULLIF(2.0 * nd, 0.0)"))
      // clicks > views puts p̂ outside [0, 1] — not a binomial
      // proportion, and the sqrt goes negative (NaN here, an ERROR
      // in DuckDB): such items publish NULL bounds explicitly.
      .withColumn("margin", expr(
        """CASE WHEN phat <= 1.0 THEN
          |  1.96 * sqrt(phat * (1.0 - phat) / NULLIF(nd, 0.0)
          |             + z2 / NULLIF(4.0 * nd * nd, 0.0))
          |END""".stripMargin))
      .withColumn("denom", expr("1.0 + z2 / NULLIF(nd, 0.0)"))
      .select(col("item"), col("clicks"), col("impressions"),
        graft.functions.TextF.round6HalfUp(col("phat")).as("ctr_raw"),
        graft.functions.TextF.round6HalfUp(
          expr("(center - margin) / denom")).as("wilson_low"),
        graft.functions.TextF.round6HalfUp(
          expr("(center + margin) / denom")).as("wilson_high"))
      .orderBy("item")
  }

  /** The spike detector (native_CTR_alerts.py:226-268): trailing-7-day
    * avg CTR vs report-day CTR per group, |pct_change| > 25, ordered by
    * pct_change DESC. */
  def ctrSpike(spark: SparkSession, dir: String): DataFrame =
    ctrSpikeImpl(spark, dir, None)

  /** The PER-APP alert instance: the reference ships the spike check
    * three times as `Native CTR Alerts_<app_id>.yaml` workflows, each
    * scoping the query to that app's ad-unit allowlist
    * (`check_native_ctr_alert(..., ad_units)` builds
    * `ad_unit_name IN (...)` — native_CTR_alerts.py:121-126, 226-241).
    * Here the group key (user_id) IS the (app, ad_unit) stand-in, so
    * the allowlist composes the `matchesAny` IN-list (SURVEY row 5)
    * over it — a pushable scan predicate, applied BEFORE the window
    * aggregate like the reference's WHERE, so unlisted units never
    * enter the shuffle at all. */
  def ctrSpikeScoped(spark: SparkSession, dir: String,
                     units: Seq[Long]): DataFrame = {
    require(units.nonEmpty, "unit allowlist must be non-empty")
    ctrSpikeImpl(spark, dir, Some(units))
  }

  /** The registered per-app instance's allowlist — the literal unit
    * list one archived `Native CTR Alerts_<app_id>.yaml` workflow
    * would carry. Shared with the oracle so both sides scope
    * identically. */
  val DemoUnitAllowlist: Seq[Long] = (0L to 59L).toSeq

  private def ctrSpikeImpl(spark: SparkSession, dir: String,
                           units: Option[Seq[Long]]): DataFrame = {
    val all = dailyCtr(spark, dir)
    val daily = units.fold(all)(u => all.filter(col("user_id").isin(u: _*)))
    val rd = Behavior.reportDate(Tables.events(spark, dir))

    val withRd = daily.crossJoin(broadcast(rd))

    // ONE conditional aggregate computes both windows (Catalyst has no
    // cross-branch CSE — separate last7/today aggregates joined on
    // user_id re-planned the event scan and the report-date aggregate
    // once per branch, four fact scans in all). `sum(when(...))` with
    // no otherwise keeps the old grouping semantics: a user with no
    // rows in a window gets NULL sums there, and the n_pre/n_today > 0
    // filter reproduces the inner join's both-sides-present contract
    // (a user CAN be today-only — new users appear only on the report
    // day — or window-only). One shuffle on the group key, no join at
    // all, so the old which-side-to-build question disappears.
    val pre = col("day") < col("report_date")
    val onRd = col("day") === col("report_date")
    val agg = withRd
      .filter(col("day").between(date_sub(col("report_date"), 7),
        col("report_date")))
      .groupBy("user_id")
      .agg(
        safeDivide(sum(when(pre, col("is_click"))),
          sum(when(pre, col("is_view")))).as("avg_ctr_7d"),
        safeDivide(sum(when(onRd, col("is_click"))),
          sum(when(onRd, col("is_view")))).as("today_ctr"),
        count(when(pre, lit(1))).as("n_pre"),
        count(when(onRd, lit(1))).as("n_today"))
      .filter(col("n_pre") > 0 && col("n_today") > 0)

    val pct = safeDivide(col("today_ctr") - col("avg_ctr_7d"),
      col("avg_ctr_7d")) * 100

    agg
      .filter(abs(pct) > 25)
      .select(
        col("user_id"),
        round(col("avg_ctr_7d"), 4).as("avg_ctr_7d"),
        round(col("today_ctr"), 4).as("today_ctr"),
        round(pct, 2).as("pct_change"))
      .orderBy(col("pct_change").desc, col("user_id"))
  }

  /** DISTINCT ad-unit projection for the report date
    * (native_CTR_alerts.py:287-294). */
  def distinctUnits(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .crossJoin(broadcast(Behavior.reportDate(Tables.events(spark, dir))))
      .filter(to_date(col("ts")) === col("report_date"))
      .select(col("event_type")).distinct()
      .orderBy("event_type")

  /** HLL-sketch distinct users per event type. At 100 TB an exact
    * COUNT(DISTINCT) shuffles every distinct value; the HyperLogLog++
    * sketch is fixed-size per group and merges map-side. rsd=2% —
    * AlertsSpec asserts the estimate lands within 5% of exact. No
    * DuckDB oracle (sketch internals are engine-specific). */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id", 0.02).as("approx_users"))
      .orderBy("event_type")

  /** Sketch ROLLUP: distinct-user estimates at (type, day), (type),
    * and total level where every level above the leaves is a UNION OF
    * SKETCHES, not a rescan — the pattern that makes distinct-count
    * dashboards affordable at 100 TB (exact COUNT(DISTINCT) at three
    * grains is three fact shuffles carrying every distinct value;
    * [[approxDistinctUsers]]'s single-level approx still rescans per
    * grain). ONE fact-scale shuffle builds the leaf
    * `hll_sketch_agg(user_id)` sketches; `hll_union_agg` folds the
    * kilobyte sketch column upward twice. Estimates are
    * engine-specific sketch internals → rows-only gate + the
    * AlertsSpec ±5%-of-exact bands at every level.
    */
  def hllRollupOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events, col("user_id"))(
        expr("hll_sketch_agg(user_id)").as("sk"))
      .localCheckpoint(false) // leaves + both rollup levels read it
    val leafEst = daily.select(lit("type_day").as("level"), col("event_type"),
      col("day"), expr("hll_sketch_estimate(sk)").as("approx_users"))
    val byType = daily.groupBy("event_type")
      .agg(expr("hll_union_agg(sk)").as("sk"))
      .select(lit("type").as("level"), col("event_type"),
        lit(null).cast("date").as("day"),
        expr("hll_sketch_estimate(sk)").as("approx_users"))
    val total = daily.agg(expr("hll_union_agg(sk)").as("sk"))
      .select(lit("total").as("level"),
        lit(null).cast("string").as("event_type"),
        lit(null).cast("date").as("day"),
        expr("hll_sketch_estimate(sk)").as("approx_users"))
    leafEst.unionByName(byType).unionByName(total)
      .orderBy("level", "event_type", "day")
  }

  /** HLL calibration audit — the sketch-error measurement rows 192
    * (count-min) and 235 (Bloom FPR) already have for THEIR sketches:
    * per event type, exact distinct users vs the Datasketches HLL
    * estimate and the signed error in basis points, measured at a
    * scale where exact is still affordable so the 100 TB run (which
    * flips to sketch-only) ships with a MEASURED error bar, not the
    * theoretical one. Exact + sketch ride ONE shuffle (the exact
    * distinct is the expensive side — that's the point of auditing
    * here, not there). Estimates are engine-specific register
    * arithmetic → pinned-frame oracle from a verified sf0.01 dump;
    * AlertsSpec pins the error band instead of the digits. */
  def hllErrorAuditOf(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), col("user_id"))
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id))")
          .as("approx_users"))
      .select(col("event_type"), col("exact_users"), col("approx_users"),
        expr("((approx_users - exact_users) * 10000) div exact_users")
          .as("error_bp"))
      .orderBy("event_type")

  /** Per-app alert report formatting (native_CTR_alerts.py:273-322):
    * group alert lines by app into one text blob. Numeric values are
    * kept out of the text so the blob is float-formatting independent. */
  def alertReport(spark: SparkSession, dir: String): DataFrame = {
    val spikes = ctrSpike(spark, dir)
      .select(
        concat(lit("app_"), (col("user_id") % 5).cast("string")).as("app_name"),
        col("user_id"),
        concat(lit("- user_"), col("user_id").cast("string"), lit(" is "),
          when(col("pct_change") > 0, "above").otherwise("below"),
          lit(" 25% of 7-day avg")).as("line"))
    spikes.groupBy("app_name")
      .agg(
        count(lit(1)).as("alert_count"),
        array_join(
          transform(array_sort(collect_list(struct(col("user_id"), col("line")))),
            s => s.getField("line")),
          "\n").as("report"))
      .orderBy("app_name")
  }
}
