package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.functions.TextF.{round4HalfUp => r4, round6HalfUp => r6}
import Behavior.Dec

/** Robust (order-statistic) analytics: MAD-based outlier flagging,
  * per-group decile profiles, winsorized means, and a per-column data
  * profile — the data-quality layer a warehouse runs before trusting a
  * day's report (the reference trusts the AdMob API; a 100 TB lake
  * cannot).
  *
  * Scale design: the order statistics aggregate per GROUP (bounded
  * output), then join back over the fact scan with the strategy left
  * to AQE; ntile partitions by group so no global single-partition
  * sort exists; every rounded score uses the floor-form
  * (TextF.round4HalfUp) so results are engine- and order-agnostic.
  */
object Robust {

  private def round4(c: Column): Column = TextF.round4HalfUp(c)

  /** Every ordered pair of days (day < bday) of one event type's daily
    * series `v`, restricted to days sharing each `stratum` column; the
    * later day's columns carry a `b` prefix (bt, bday, bv, b‹stratum›).
    * Bounded by the calendar (≤ days² per type), never by row count. */
  private def seriesPairs(daily: DataFrame, stratum: String*): DataFrame = {
    val b = daily.select(Seq(col("event_type").as("bt")) ++
      stratum.map(c => col(c).as("b" + c)) ++
      Seq(col("day").as("bday"), col("v").as("bv")): _*)
    val same = stratum.foldLeft(col("event_type") === col("bt"))(
      (on, c) => on && col(c) === col("b" + c))
    daily.join(b, same && col("day") < col("bday"))
  }

  /** Mann–Kendall's S = Σ sgn(v_later − v_earlier) and the pair count
    * per event type over `seriesPairs`. */
  private def pairSigns(pairs: DataFrame): DataFrame =
    pairs
      .select(col("event_type"),
        when(col("bv") > col("v"), 1L)
          .when(col("bv") < col("v"), -1L).otherwise(0L).as("sg"))
      .groupBy("event_type")
      .agg(sum("sg").as("s"), count(lit(1)).as("n_pairs"))

  /** Median/MAD outlier flagging per event type: |x - med| >
    * k · 1.4826 · MAD (the normal-consistency constant). Median and
    * MAD are rounded to 4 dp BEFORE the comparison, so the flag
    * threshold is the same double in every engine. Rows with MAD = 0
    * (degenerate constant groups) flag nothing.
    */
  def madOutliersOf(events: DataFrame, k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // Two stacked whole-partition percentile WINDOWS on one group-key
    // shuffle: ONE fact scan. The aggregate+join form re-planned the
    // fact scan once per consumer (4 scans — no cross-branch CSE in
    // Catalyst); locally the cached re-scans are slightly cheaper
    // than the window buffering, but at fact-table scale the scans
    // are the cost that matters. (A window-med + joined-mad hybrid
    // re-plans the window subtree per consumer — worst of both.)
    val byType = Window.partitionBy("event_type")
    events.select(col("event_id"), col("event_type"), col("value"))
      .withColumn("med",
        round4(expr("percentile(value, 0.5)").over(byType)))
      .withColumn("mad",
        round4(expr("percentile(abs(value - med), 0.5)").over(byType)))
      .filter(col("mad") > 0 &&
        abs(col("value") - col("med")) > lit(k) * lit(1.4826) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        round4((col("value") - col("med")) / (lit(1.4826) * col("mad")))
          .as("robust_z"))
      .orderBy("event_id")
  }

  /** Per-priority decile profile of order value: ntile(10) within each
    * priority ordered by (price, key) — the unique tiebreak makes the
    * assignment a total order, so decile membership is deterministic.
    * Partitioning by group keeps the sort distributed (no global
    * single-partition ntile); min/max per decile are order-independent.
    */
  def valueDecilesOf(orders: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders.select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("decile", ntile(buckets).over(w))
      .groupBy("o_orderpriority", "decile")
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .orderBy("o_orderpriority", "decile")
  }

  /** Winsorized mean per priority: clip order values to the group's
    * [p05, p95] (rounded to 4 dp so the clip bounds are cross-engine
    * identical), then average the clipped values through an integer
    * cent-quantized sum — independent of partitioning and addition
    * order. Also reports how many rows each tail clipped.
    */
  def winsorizeOf(orders: DataFrame, pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val bounds = orders.groupBy("o_orderpriority")
      .agg(round4(expr(s"percentile(o_totalprice, $pLo)")).as("lo"),
        round4(expr(s"percentile(o_totalprice, $pHi)")).as("hi"))
    orders.join(bounds, "o_orderpriority")
      .withColumn("clipped", least(greatest(col("o_totalprice"), col("lo")), col("hi")))
      .groupBy("o_orderpriority", "lo", "hi")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice") < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("o_totalprice") > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        sum(Behavior.cents(col("clipped"))).as("qsum"))
      .select(col("o_orderpriority"), col("lo"), col("hi"), col("n"),
        col("n_clipped_lo"), col("n_clipped_hi"),
        round4(col("qsum").cast("double") / col("n").cast("double") / 100.0)
          .as("avg_clipped"))
      .orderBy("o_orderpriority")
  }

  /** Per-column profile (row count, null count, exact distinct count).
    * One pruned single-column scan per column rather than one
    * multi-count-distinct pass: Spark plans the latter as an Expand
    * that multiplies every fact row by the column count through the
    * shuffle — at 100 TB the N cheap pruned scans (each reading one
    * column's pages, aggregating map-side) are the smaller plan, and
    * they run concurrently as independent jobs.
    */
  def profileColumnsOf(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "columns must be non-empty")
    columns.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
          col("n_distinct"))
    }.reduce(_.unionAll(_)).orderBy("column_name")
  }

  /** Trailing `windowDays`-day median of daily revenue per event type
    * — the robust twin of [[EventAnalytics.ewmaSmoothOf]]'s mean-form
    * smoother (a single spiked day saturates an EWMA but leaves the
    * median untouched). Two frames share one shuffle: the daily
    * aggregate and the RANGE window both key on event_type. The RANGE
    * frame is over an integer day index, so a missing calendar day
    * genuinely shrinks the frame rather than sliding over 7 rows of
    * arbitrary age. Determinism: the frame holds ≤ `windowDays`
    * micro-quantized BIGINTs; interpolating the median of exact
    * integers does `(a+b)·0.5` in doubles where every step is exact,
    * so lower+(upper-lower)·f and a·(1-f)+b·f — whichever the engine
    * uses — are the same value, and the one rounding happens in
    * [[TextF.round4HalfUp]].
    */
  def rollingMedianOf(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val daily = Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("qrev"))
      .withColumn("dayi", datediff(col("day"), lit("1970-01-01").cast("date")))
    val w = Window.partitionBy("event_type").orderBy(col("dayi"))
      .rangeBetween(-(windowDays - 1).toLong, Window.currentRow)
    daily.select(col("event_type"), col("day"),
      TextF.microsTo4dp(col("qrev")).as("revenue"),
      round4(expr("percentile(qrev, 0.5)").over(w) / lit(1e6))
        .as(s"median_${windowDays}d"))
      .orderBy("event_type", "day")
  }

  /** Distribution drift between two periods of a metric, per group —
    * the training-data / feature monitor that answers "did `value`
    * shift between the reference window and now". The statistic is
    * total-variation distance `TVD = ½·Σ|p_i − q_i|` over
    * equal-width bins (the L1 form of a PSI report: PSI's
    * `(p−q)·ln(p/q)` needs libm, which the engine bans for
    * cross-engine determinism — see [[CorpusStats]]; TVD ranks drift
    * identically for monitoring purposes). Bins come from per-group
    * GLOBAL min/max over both periods so p and q share edges
    * ([[Report.valueHistogramOf]]'s binning); both periods histogram
    * in ONE pass over the facts (conditional sums per bin, no second
    * scan); each |p−q| is quantized to an integer 1e-9 grid so the
    * final Σ is order-independent. Groups empty in either period are
    * excluded (TVD against nothing is undefined, and a NaN would
    * masquerade as drift).
    */
  def distributionDriftOf(events: DataFrame, splitDay: String,
                          bins: Int = 20): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val ev = events.select(col("event_type"), col("value"),
      (col("ts") < lit(splitDay).cast("timestamp")).as("in_p"))
    val bounds = ev.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"))
    val width = (col("mx") - col("mn")) / bins
    val bucket = when(col("mx") > col("mn"),
      least(floor((col("value") - col("mn")) / width), lit(bins - 1L)))
      .otherwise(lit(0L))
    // Period totals as a window over the bins×groups frame: a second
    // aggregate + join back would re-plan the fact histogram once per
    // consumer (no cross-branch CSE in Catalyst).
    val byType = Window.partitionBy("event_type")
    ev.join(bounds, "event_type") // bounded by group count
      .select(col("event_type"), col("in_p"), bucket.cast("long").as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(sum(when(col("in_p"), 1L).otherwise(0L)).as("np_bin"),
        sum(when(!col("in_p"), 1L).otherwise(0L)).as("nq_bin"))
      .withColumn("np", sum("np_bin").over(byType))
      .withColumn("nq", sum("nq_bin").over(byType))
      .filter(col("np") > 0 && col("nq") > 0)
      .select(col("event_type"), col("np"), col("nq"),
        floor(abs(col("np_bin").cast("double") / col("np").cast("double") -
          col("nq_bin").cast("double") / col("nq").cast("double")) * 1e9 + 0.5)
          .cast("long").as("qdiff"))
      .groupBy("event_type", "np", "nq")
      .agg(sum("qdiff").as("qsum"))
      .select(col("event_type"), col("np"), col("nq"),
        TextF.round4HalfUp(col("qsum").cast("double") / lit(2e9)).as("tvd"))
      .orderBy("event_type")
  }

  /** Bootstrap confidence interval for the per-group mean — the error
    * bar a metrics report should carry. `reps` Poisson(1) bootstrap
    * resamples (the large-n limit of sampling n rows with
    * replacement, and the only bootstrap that needs no global count):
    * each row's multiplicity in resample b is a deterministic
    * Poisson(1) draw from the md5 of (row id, b) — md5 because BOTH
    * engines implement it bit-identically (the stratified-sample /
    * train-split precedent; xxhash64 has no DuckDB twin), parsed as a
    * 32-bit hex prefix into a uniform, stepped through the Poisson
    * CDF literals. Resample means are exact-integer ratios rounded to
    * 6 dp BEFORE the quantile, and `reps` defaults to 81 so BOTH
    * quantile positions are exact integers — 0.025·80 = 2, 0.975·80 =
    * 78 — meaning the CI bounds are exact order statistics with no
    * interpolation formula to agree on at all (one step stronger than
    * [[rollingMedianOf]]'s exact-midpoint argument).
    *
    * Shape: the whole weight VECTOR per row is one native codegen
    * call ([[graft.plans.BootstrapWeights]] — a per-(row, rep)
    * interpreted hash/parse/CASE chain dominated the query in both an
    * explode and an unrolled-column formulation: 9.4 s / 10.6 s at
    * sf0.1 vs ~2 s native), then a single posexplode feeds one
    * map-side-combinable (group, rep) aggregate and a tiny per-group
    * quantile. No global count, no driver collect.
    */
  def bootstrapCiOf(events: DataFrame, reps: Int = 81): DataFrame = {
    require(reps >= 3, s"reps must be >= 3, got $reps")
    val weights = graft.plans.ColumnBridge.column(graft.plans.BootstrapWeights(
      graft.plans.ColumnBridge.expression(col("event_id")), reps))
    val mean6 = TextF.round6HalfUp(
      col("swq").cast("double") / col("sw").cast("double") / lit(1e6))
    events
      .select(col("event_type"),
        Behavior.micro(col("value")).as("qv"),
        weights.as("ws"))
      .select(col("event_type"), col("qv"), posexplode(col("ws")))
      .groupBy(col("event_type"), col("pos"))
      .agg(sum(col("col") * col("qv")).as("swq"), sum("col").as("sw"))
      .filter(col("sw") > 0) // a fully-zero resample is no estimate
      .select(col("event_type"), mean6.as("mean6"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_reps"),
        round4(expr("percentile(mean6, 0.5)")).as("mean_boot"),
        round4(expr("percentile(mean6, 0.025)")).as("ci_lo"),
        round4(expr("percentile(mean6, 0.975)")).as("ci_hi"))
      .orderBy("event_type")
  }

  /** Theil–Sen robust trend per group: the MEDIAN of all pairwise
    * slopes of the daily-total series — immune to the outlier days
    * that wreck a least-squares fit (the robust answer to "is this
    * metric drifting?", next to [[madOutliersOf]]'s point outliers).
    * Slopes are micros-per-day: exact integer deltas, ONE IEEE
    * division each, median via the exact `percentile` both engines
    * interpolate identically (earnings_percentiles' contract), rounded
    * half-up to 4 dp.
    *
    * Scale: the pairwise self-join is per GROUP over its DAILY
    * aggregate — bounded by the calendar (≤ 3 653 days/decade ⇒
    * ≤ ~6.7M pairs per group), never by row count; the fact scan
    * collapses to (group, day) first, map-side combinable. */
  def theilSenTrendOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("v"))
      .localCheckpoint(false) // both self-join sides (keyed differently)
    seriesPairs(daily)
      .select(col("event_type"),
        ((col("bv") - col("v")).cast("double") /
          datediff(col("bday"), col("day")).cast("double")).as("slope"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        round4(expr("percentile(slope, 0.5)") / 1e6).as("slope_per_day"))
      .select(col("event_type"), col("n_pairs"), col("slope_per_day"),
        signum(col("slope_per_day")).cast("int").as("direction"))
      .orderBy("event_type")
  }

  /** Mann–Kendall trend test per event type — the SIGNIFICANCE twin
    * of [[theilSenTrendOf]] (Theil–Sen estimates the robust slope;
    * Mann–Kendall says whether ANY monotone trend exists at all,
    * rank-based, magnitude-free — the pair every hydrology/ops
    * handbook ships together): S = Σ_{i<j} sgn(v_j − v_i) over the
    * daily-total series, tie-corrected normal approximation
    * z = (S ∓ 1)/√Var with 18·Var = T(T−1)(2T+5) − Σt(t−1)(2t+5)
    * (tie groups t over equal daily VALUES), trend verdict
    * |z| > 1.96 at α = 0.05 ([[madOutliersOf]]'s literal rule).
    *
    * Exactness: S, both variance polynomials, and the ∓1 continuity
    * correction are pure int64 (T is calendar-bounded — int64 to
    * T ≈ 10⁶ days); the only floats are one division-by-18, one
    * sqrt, one division, identical text both engines; a fully-tied
    * series nulls z via try_divide (√0 denominator), while a 1-day
    * series has no pair at all — the inner pair-join drops the type
    * row entirely (pinned by RobustSpec).
    *
    * Shape: the [[theilSenTrendOf]] (type, day) aggregate + its
    * calendar-bounded pair self-join (the micro-grid `Behavior.daily`
    * series and `seriesPairs`); ties come off a (type, value) fold of
    * the SAME daily frame. */
  def mannKendallOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("v"))
      .localCheckpoint(false) // pair join (both sides), T count, tie fold
    val sAgg = pairSigns(seriesPairs(daily))
    val tAgg = daily.groupBy("event_type").agg(count(lit(1)).as("t_days"))
    val ties = daily.groupBy("event_type", "v")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tcorr"))
    sAgg.join(tAgg, "event_type").join(ties, "event_type")
      .select(col("event_type"), col("t_days"), col("s"),
        expr("t_days * (t_days - 1) * (2 * t_days + 5) - tcorr").as("v18"),
        expr("CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1 ELSE 0 END")
          .as("sadj"))
      .select(col("event_type"), col("t_days"), col("s"),
        TextF.round4HalfUp(expr(
          "try_divide(CAST(sadj AS DOUBLE), sqrt(CAST(v18 AS DOUBLE) / 18.0))"))
          .as("z"),
        expr("""abs(try_divide(CAST(sadj AS DOUBLE),
                |  sqrt(CAST(v18 AS DOUBLE) / 18.0))) > 1.96""".stripMargin)
          .as("trending"))
      .orderBy("event_type")
  }

  /** Seasonal Mann–Kendall trend test per event type (Hirsch-Slack
    * '84): [[mannKendallOf]] with pairs restricted to the SAME
    * weekday stratum, S and the tie-corrected variance summed across
    * the seven strata — the weekly cycle every daily business series
    * carries reads as concordant/discordant pairs to plain MK and
    * CANCELS here (Monday only ever compares to Monday), so a real
    * drift is detected without the seasonality inflating or masking
    * it. Weekday by ARITHMETIC days-since-epoch mod 7 (the
    * hourly-heatmap engine-portable convention, no locale
    * dayofweek).
    *
    * Exactness: the [[mannKendallOf]] integer contract per stratum
    * — S_g, 18·Var_g = T_g(T_g−1)(2T_g+5) − Σt(t−1)(2t+5) — summed
    * exactly, the ∓1 continuity correction on the TOTAL S, one
    * /18+sqrt+division chain; all-tied series null via try_divide.
    *
    * Shape: the (type, day) aggregate; pairs join within (type,
    * weekday) — ≤ 1/7 of plain MK's pair mass — everything
    * calendar-bounded. */
  def seasonalMkOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("v"))
      .select(col("event_type"), col("day"), col("v"),
        pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(7))
          .as("dow"))
      .localCheckpoint(false) // pair join (both sides) + strata folds
    val sAgg = pairSigns(seriesPairs(daily, "dow"))
    val strata = daily.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("tg"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_strata"), sum("tg").as("t_days"),
        sum(expr("tg * (tg - 1) * (2 * tg + 5)")).as("vpos"))
    val ties = daily.groupBy("event_type", "dow", "v")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tcorr"))
    sAgg.join(strata, "event_type").join(ties, "event_type")
      .select(col("event_type"), col("t_days"), col("n_strata"), col("s"),
        (col("vpos") - col("tcorr")).as("v18"),
        expr("CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1 ELSE 0 END")
          .as("sadj"))
      .select(col("event_type"), col("t_days"), col("n_strata"), col("s"),
        TextF.round4HalfUp(expr(
          "try_divide(CAST(sadj AS DOUBLE), sqrt(CAST(v18 AS DOUBLE) / 18.0))"))
          .as("z"),
        expr("""abs(try_divide(CAST(sadj AS DOUBLE),
                |  sqrt(CAST(v18 AS DOUBLE) / 18.0))) > 1.96""".stripMargin)
          .as("trending"))
      .orderBy("event_type")
  }

  /** Robust (median/IQR) feature scaling of the order-value column,
    * per priority group — the outlier-immune standardization a feature
    * pipeline applies before modeling (z-scores move with every
    * outlier; median/IQR don't). scaled = (x − med) / IQR with both
    * statistics micro-quantized and rounded to 4 dp BEFORE the per-row
    * division ([[madOutliersOf]]'s contract); degenerate groups
    * (IQR = 0) emit NULL rather than ±∞. Per-ROW output — a transform,
    * not a report.
    *
    * Shape: one group-keyed stats window stacked on the fact frame —
    * the same single-shuffle move as [[madOutliersOf]] (aggregate +
    * join back would re-plan the scan per consumer). */
  def robustScalerOf(orders: DataFrame): DataFrame = {
    val byPrio = Window.partitionBy("o_orderpriority")
    orders
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .withColumn("med", round4(expr("percentile(o_totalprice, 0.5)").over(byPrio)))
      .withColumn("iqr", round4(
        expr("percentile(o_totalprice, 0.75)").over(byPrio) -
          expr("percentile(o_totalprice, 0.25)").over(byPrio)))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("med"), col("iqr"),
        when(col("iqr") > 0,
          round4((col("o_totalprice") - col("med")) / col("iqr")))
          .as("scaled"))
      .orderBy("o_orderkey")
  }

  /** VALUE-weighted median per event type: the event value at which
    * half the revenue MASS sits below — "the typical dollar's event
    * size", which a count-median misrepresents whenever many tiny
    * events carry little of the total ([[madOutliersOf]] medians count
    * rows; this medians mass). Exact integer path: micro-quantized
    * values, a cumulative mass window over the (value, event_id) total
    * order, and the crossing row is the first with 2·cum ≥ total —
    * pure int64 compares, no interpolation contract to agree on at
    * all. One fact-scale shuffle on the type key; the total rides the
    * same partition as an unordered window frame.
    */
  def weightedMedianOf(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val ordered = byType.orderBy(col("qv"), col("event_id"))
    val cum = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("event_type"), col("event_id"),
        Behavior.micro(col("value")).as("qv"))
      .withColumn("total", sum("qv").over(byType))
      .withColumn("cum", sum("qv").over(cum))
      .filter(lit(2L) * col("cum") >= col("total"))
      .groupBy("event_type")
      .agg(min(struct(col("qv"), col("event_id"))).as("f"),
        max("total").as("total"))
      .select(col("event_type"),
        TextF.microsTo4dp(col("f.qv")).as("weighted_median"),
        TextF.microsTo4dp(col("total")).as("total_value"))
      .orderBy("event_type")
  }

  /** Pearson correlation matrix over lineitem's numeric measures
    * (quantity, extended price, discount) — the first look any
    * feature-engineering or pricing-model pass takes ("is discount
    * actually coupled to volume here?"). ONE fact scan computes every
    * moment: per-pair r comes from the standard polynomial identity
    * r = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))
    * with all sums EXACT — operands are integer-grid (quantity raw,
    * price on the cent grid, discount on the micro grid, each exact
    * for doubles < 2^53) and the moment sums ride decimal(38,0), so
    * no float accumulates in any order. The only floats are the final
    * per-pair conversions: two correctly-rounded IEEE sqrts and one
    * division, identical in any engine, then the 6-dp half-up floor
    * grid. Decimal headroom: n·Σp² ≈ 4·10³¹ at the ×1000 rehearsal
    * scale — inside decimal(38) with 6 decades to spare (the
    * [[graft.operators.Graph.degreeAssortativityOf]] convention:
    * quote the bound, document the wider-type swap past it).
    * Zero-variance columns yield NULL r (0/0 → the ANSI convention,
    * cf. assortativity).
    *
    * Shape: one map-side-combinable whole-table aggregate (no keys, no
    * shuffle beyond the 1-row combine), then a bounded 3-row stack. */
  def corrMatrixOf(lineitem: DataFrame): DataFrame = {
    val m = lineitem
      .select(col("l_quantity").cast("long").as("q"),
        Behavior.centsDown(col("l_extendedprice")).as("p"),
        Behavior.microDown(col("l_discount")).as("d"))
      .selectExpr(s"CAST(q AS $Dec) q", s"CAST(p AS $Dec) p",
        s"CAST(d AS $Dec) d")
      .agg(count(lit(1)).cast(Dec).as("n"),
        sum("q").as("sq"), sum("p").as("sp"), sum("d").as("sd"),
        sum(expr("q * q")).as("sqq"), sum(expr("p * p")).as("spp"),
        sum(expr("d * d")).as("sdd"), sum(expr("q * p")).as("sqp"),
        sum(expr("q * d")).as("sqd"), sum(expr("p * d")).as("spd"))
    def r(sxy: String, sx: String, sy: String, sxx: String, syy: String) =
      TextF.round6HalfUp(expr(
        // try_divide, not `/`: a zero-variance column must read NULL
        // (ANSI 0/0), not throw — DuckDB's x/0.0 is NULL already.
        s"""try_divide(
           |  CAST(n * $sxy - $sx * $sy AS DOUBLE),
           |  sqrt(CAST(n * $sxx - $sx * $sx AS DOUBLE))
           |    * sqrt(CAST(n * $syy - $sy * $sy AS DOUBLE)))""".stripMargin))
    m.select(col("n").cast("long").as("n"),
      r("sqp", "sq", "sp", "sqq", "spp").as("r_qp"),
      r("sqd", "sq", "sd", "sqq", "sdd").as("r_qd"),
      r("spd", "sp", "sd", "spp", "sdd").as("r_pd"))
      .selectExpr("stack(3, " +
        "'l_quantity', 'l_extendedprice', n, r_qp, " +
        "'l_quantity', 'l_discount', n, r_qd, " +
        "'l_extendedprice', 'l_discount', n, r_pd) " +
        "AS (x_col, y_col, n, r)")
      .orderBy("x_col", "y_col")
  }

  /** Spearman rank-correlation matrix over the same three lineitem
    * measures — [[corrMatrixOf]]'s monotone sibling (Pearson reads
    * LINEAR coupling and is hostage to outliers/heavy tails; Spearman
    * on midranks reads any monotone relation, the robust
    * feature-screen pairing). Exact throughout: ties get textbook
    * MIDRANKS computed on the distinct-value frequency frame (2·mid =
    * 2·count_below + cnt + 1 — integer half-units, no float rank),
    * CENTERED as c = 2·mid − (n+1) so Σc = 0 EXACTLY (midrank sums
    * are invariant under ties) and ρ = Σcxcy/√(Σcx²·Σcy²) needs no
    * n·Σ products — that is what keeps the decimal(38,0) sums inside
    * headroom to n ≈ 10¹² rows (|c| ≤ n ⇒ Σc² ≤ n³; the n·Σ form
    * overflows 38 digits at n ≈ 10⁹). One try_divide per pair, 6-dp
    * floor grid; zero-variance (all-tied) measures read NULL.
    *
    * Shape: rank frames are per-measure (value, cnt) aggregates —
    * bounded by each measure's value vocabulary, which grows far
    * slower than rows (the [[ksTestOf]] argument) — with cumulative
    * counts via the two-phase prefix sum
    * ([[graft.Scale.twoPhaseRunningSum]] — no single-partition window
    * even on the grid); facts equi-join the three rank frames (AQE
    * broadcasts the small ones) and fold into ONE map-combinable
    * decimal moment aggregate. n is a 1-row count action on the
    * checkpointed projection ([[graft.operators.Behavior
    * .negativeSamplesOf]]'s bounded-action precedent). */
  def spearmanMatrixOf(lineitem: DataFrame): DataFrame = {
    val li = lineitem
      .select(col("l_quantity").cast("long").as("q"),
        Behavior.centsDown(col("l_extendedprice")).as("p"),
        Behavior.microDown(col("l_discount")).as("d"))
      .localCheckpoint(false) // 3 rank frames + the fact join share it
    val n = li.count() // 1-row action
    def centeredRanks(c: String): DataFrame = {
      val freq = li.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
      graft.Scale.twoPhaseRunningSum(freq, Seq(col(c)), col("__cnt"))
        .select(col(c),
          (lit(2L) * (col("__running") - col("__cnt")) + col("__cnt") - n)
            .as(s"c$c"))
    }
    val m = li
      .join(centeredRanks("q"), "q")
      .join(centeredRanks("p"), "p")
      .join(centeredRanks("d"), "d")
      .selectExpr(s"CAST(cq AS $Dec) cq", s"CAST(cp AS $Dec) cp",
        s"CAST(cd AS $Dec) cd")
      .agg(sum(expr("cq * cq")).as("sqq"), sum(expr("cp * cp")).as("spp"),
        sum(expr("cd * cd")).as("sdd"), sum(expr("cq * cp")).as("sqp"),
        sum(expr("cq * cd")).as("sqd"), sum(expr("cp * cd")).as("spd"))
    def rho(sxy: String, sxx: String, syy: String) =
      TextF.round6HalfUp(expr(
        s"""try_divide(CAST($sxy AS DOUBLE),
           |  sqrt(CAST($sxx AS DOUBLE)) * sqrt(CAST($syy AS DOUBLE)))"""
          .stripMargin))
    m.select(lit(n).as("n"),
      rho("sqp", "sqq", "spp").as("r_qp"),
      rho("sqd", "sqq", "sdd").as("r_qd"),
      rho("spd", "spp", "sdd").as("r_pd"))
      .selectExpr("stack(3, " +
        "'l_quantity', 'l_extendedprice', n, r_qp, " +
        "'l_quantity', 'l_discount', n, r_qd, " +
        "'l_extendedprice', 'l_discount', n, r_pd) " +
        "AS (x_col, y_col, n, rho)")
      .orderBy("x_col", "y_col")
  }

  /** Kendall τ-b rank-correlation matrix over lineitem's BOUNDED
    * measures — the third of the correlation triple ([[corrMatrixOf]]
    * Pearson: linear on values; [[spearmanMatrixOf]] Spearman: linear
    * on ranks; Kendall: pure pairwise ORDER agreement, the most
    * outlier-immune and the one with a direct probabilistic read:
    * τ ≈ P(concordant) − P(discordant)).
    *
    * The trick that makes an O(n²)-pairs statistic one fact scan:
    * concordance only depends on the JOINT VALUE DISTRIBUTION, so
    * aggregate once to the (quantity, discount, tax) triple grid
    * (≤ 50·11·9 = 4950 cells — the measure vocabularies are bounded
    * by the TPC-H domain, NOT by row count), derive the three pair
    * grids map-side, and count concordant/discordant MASS with a
    * grid×grid self-join under a.x < b.x (each unordered pair with
    * distinct x lands in exactly one orientation). Ties come off the
    * marginals: τ-b = (C−D)/√((n0−n1)(n0−n2)) with n0 = n(n−1)/2,
    * n1/n2 = Σ t(t−1)/2 over x/y marginal ties. All counts and
    * products ride decimal(38,0) (C ~ n²/2 crosses int64 at ~6·10⁹
    * rows); the doubled forms n·(n−1), Σt·(t−1) avoid /2 entirely —
    * τ = 2(C−D)/√((n0·2−n1·2)(n0·2−n2·2)). The product under the
    * root would cross decimal(38) at ~10¹⁰ rows, so each factor
    * casts to double BEFORE multiplying (two √ factors, the
    * [[corrMatrixOf]] move); try_divide nulls a fully-tied column.
    *
    * Shape: ONE map-combinable fact aggregate → 4950-cell grid;
    * everything after (pair explode, self-join ≤ 550² rows, marginal
    * folds) is constant-size. Extendedprice is deliberately NOT in
    * this matrix: its cents vocabulary grows with data and would
    * make the grid self-join quadratic in the vocabulary — Pearson/
    * Spearman cover it on moment/rank machinery that stays linear. */
  def kendallMatrixOf(lineitem: DataFrame): DataFrame = {
    val cube3 = lineitem
      .select(col("l_quantity").cast("long").as("q"),
        Behavior.microDown(col("l_discount")).as("d"),
        Behavior.microDown(col("l_tax")).as("t"))
      .groupBy("q", "d", "t").agg(count(lit(1)).as("c3"))
    val grid = cube3
      .select(explode(array(
        struct(lit("l_quantity").as("xc"), lit("l_discount").as("yc"),
          col("q").as("x"), col("d").as("y"), col("c3").as("c")),
        struct(lit("l_quantity").as("xc"), lit("l_tax").as("yc"),
          col("q").as("x"), col("t").as("y"), col("c3").as("c")),
        struct(lit("l_discount").as("xc"), lit("l_tax").as("yc"),
          col("d").as("x"), col("t").as("y"), col("c3").as("c"))))
        .as("p"))
      .select(col("p.*"))
      .groupBy("xc", "yc", "x", "y").agg(sum("c").as("c"))
    val cd = grid.as("a")
      .join(grid.as("b"),
        col("a.xc") === col("b.xc") && col("a.yc") === col("b.yc") &&
          col("a.x") < col("b.x"))
      .select(col("a.xc").as("xc"), col("a.yc").as("yc"),
        when(col("a.y") < col("b.y"),
          expr(s"CAST(a.c AS $Dec) * b.c"))
          .otherwise(lit(0).cast(Dec)).as("conc"),
        when(col("a.y") > col("b.y"),
          expr(s"CAST(a.c AS $Dec) * b.c"))
          .otherwise(lit(0).cast(Dec)).as("disc"))
      .groupBy("xc", "yc")
      .agg(sum("conc").as("concordant"), sum("disc").as("discordant"))
    val xm = grid.groupBy("xc", "yc", "x").agg(sum("c").as("tx"))
      .groupBy("xc", "yc")
      .agg(sum(expr(s"CAST(tx AS $Dec) * (tx - 1)")).as("n1x2"),
        sum(col("tx").cast(Dec)).as("n"))
    val ym = grid.groupBy("xc", "yc", "y").agg(sum("c").as("ty"))
      .groupBy("xc", "yc")
      .agg(sum(expr(s"CAST(ty AS $Dec) * (ty - 1)")).as("n2x2"))
    cd.join(xm, Seq("xc", "yc")).join(ym, Seq("xc", "yc"))
      .select(col("xc").as("x_col"), col("yc").as("y_col"),
        col("n").cast("long").as("n"),
        // Edge cast: the INTERNAL mass algebra stays decimal(38,0),
        // but the OUTPUT emits BIGINT — concordant ~ n²/2 fits int64
        // through ~4.3·10⁹ input rows (n²/2 < 2⁶³ ⇒ n < 4.3·10⁹),
        // and a decimal-typed output column is the one value class
        // the verification edge fetches inconsistently across
        // drivers (the suite's only two decimal outputs were its
        // only hash-red rows in r12/r13).
        col("concordant").cast("long").as("concordant"),
        col("discordant").cast("long").as("discordant"),
        TextF.round6HalfUp(expr(
          """try_divide(
            |  2.0 * CAST(concordant - discordant AS DOUBLE),
            |  sqrt(CAST(n * (n - 1) - n1x2 AS DOUBLE))
            |    * sqrt(CAST(n * (n - 1) - n2x2 AS DOUBLE)))""".stripMargin))
          .as("tau_b"))
      .orderBy("x_col", "y_col")
  }

  /** Discount elasticity screen per part type — [[corrMatrixOf]]'s
    * exact-moment machinery GROUPED by the part-type dimension: does
    * discounting move volume for this category? (A category whose
    * quantity doesn't correlate with discount is margin burned — the
    * merchandising read behind every promo budget.) Pearson
    * r(discount, quantity) per p_type on integer grids
    * (micro-discount, raw quantity) with decimal(38,0) moments —
    * map-combinable, one shuffle keyed by the bounded type
    * vocabulary; the dim side broadcasts. Types under `minItems`
    * lineitems are dropped (a 3-point correlation is noise dressed
    * as signal); zero-variance groups read NULL via try_divide. */
  def discountElasticityOf(lineitem: DataFrame, part: DataFrame,
                           minItems: Long = 30): DataFrame = {
    lineitem
      .select(col("l_partkey"),
        Behavior.microDown(col("l_discount")).as("d"),
        col("l_quantity").cast("long").as("q"))
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_type"))), Seq("l_partkey"))
      .selectExpr("p_type", s"CAST(d AS $Dec) d", s"CAST(q AS $Dec) q")
      .groupBy("p_type")
      .agg(count(lit(1)).cast(Dec).as("n"),
        sum("d").as("sd"), sum("q").as("sq"),
        sum(expr("d * d")).as("sdd"), sum(expr("q * q")).as("sqq"),
        sum(expr("d * q")).as("sdq"))
      .filter(col("n") >= lit(minItems).cast(Dec))
      .select(col("p_type"), col("n").cast("long").as("n_items"),
        TextF.round6HalfUp(expr(
          """try_divide(
            |  CAST(n * sdq - sd * sq AS DOUBLE),
            |  sqrt(CAST(n * sdd - sd * sd AS DOUBLE))
            |    * sqrt(CAST(n * sqq - sq * sq AS DOUBLE)))""".stripMargin))
          .as("r_discount_qty"))
      .orderBy("p_type")
  }

  /** The split-day value grid [[ksTestOf]] and [[wassersteinDriftOf]]
    * read: per (type, micro-grid value) the counts before (`ca_bin`)
    * and from (`cb_bin`) `splitDay`, and both empirical CDFs as integer
    * cumulative counts `ca`/`cb` over the distinct-value frame. One
    * map-combinable (type, value) count; the cumsum window rides the
    * bounded frame. */
  private def splitDayEcdf(events: DataFrame, splitDay: String): DataFrame = {
    val cumW = Window.partitionBy("event_type").orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(col("event_type"), Behavior.micro(col("value")).as("vq"),
        (col("ts") < lit(splitDay).cast("timestamp")).as("in_a"))
      .groupBy("event_type", "vq")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("ca_bin"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("cb_bin"))
      .withColumn("ca", sum("ca_bin").over(cumW))
      .withColumn("cb", sum("cb_bin").over(cumW))
  }

  /** Two-sample Kolmogorov–Smirnov test per event type between the
    * two calendar periods — [[distributionDriftOf]]'s binless sibling
    * (TVD on shared bins answers "how much mass moved"; KS's
    * max-CDF-gap answers "did the DISTRIBUTION change" with a
    * distribution-free critical value, and needs no bin-width
    * choice). Exact order statistics: values on the micro grid, both
    * empirical CDFs as integer cumulative counts over the distinct
    * value frame, and D's argmax taken on the INTEGER cross-product
    * form |ca·nb − cb·na| (max first, ONE division after — a per-row
    * float divide would make the argmax float-order-sensitive).
    * Critical value at α=0.05: 1.358·√((na+nb)/(na·nb)), the constant
    * cast to DOUBLE in both engines (the [[madOutliersOf]] literal
    * rule). `drifted` compares the exact D ratio against it.
    *
    * Shape: one (type, value) map-combinable count, then cumsum +
    * totals windows sharing the type partitioning, then a bounded
    * per-type fold. Type-keyed throughout (§4 salting applies if one
    * type dominates). */
  def ksTestOf(events: DataFrame, splitDay: String = "2024-01-16"): DataFrame = {
    val byType = Window.partitionBy("event_type")
    splitDayEcdf(events, splitDay)
      .withColumn("na", sum("ca_bin").over(byType))
      .withColumn("nb", sum("cb_bin").over(byType))
      .filter(col("na") > 0 && col("nb") > 0)
      // DECIMAL(38,0): ca*nb is bounded by na*nb, which crosses int64
      // once both sides reach ~3e9 rows for one type — below the
      // 100 TB target. Two int64 products fit 38 digits with room
      // (8.5e37 < 1e38), the corr_matrix/lorenz_curve convention.
      .withColumn("dq", abs(col("ca").cast(Dec) * col("nb")
        - col("cb").cast(Dec) * col("na")))
      .groupBy("event_type", "na", "nb")
      .agg(max("dq").as("dmax"))
      .select(col("event_type"), col("na"), col("nb"),
        TextF.round6HalfUp(col("dmax").cast("double")
          / (col("na").cast("double") * col("nb").cast("double")))
          .as("ks_d"),
        TextF.round6HalfUp(lit(1.358) * sqrt(
          (col("na") + col("nb")).cast("double")
            / (col("na").cast("double") * col("nb").cast("double"))))
          .as("crit_05"),
        (col("dmax").cast("double")
          / (col("na").cast("double") * col("nb").cast("double"))
          > lit(1.358) * sqrt((col("na") + col("nb")).cast("double")
            / (col("na").cast("double") * col("nb").cast("double"))))
          .as("drifted"))
      .orderBy("event_type")
  }

  /** 1-D Wasserstein (earth-mover) drift per event type between the
    * two calendar periods — the THIRD drift lens beside
    * [[ksTestOf]] (max CDF gap: "did it change") and
    * [[distributionDriftOf]] (binned TVD: "how much mass moved"):
    * W₁ = ∫|F_a − F_b| prices how FAR the mass moved in value units
    * — a $1 shift and a $100 shift read identically to KS/TVD and
    * 100× apart here, which is what a revenue-drift monitor
    * actually bills.
    *
    * Exact: on the discrete micro grid W₁ = Σ_v |F_a(v) − F_b(v)| ·
    * gap(v) with ECDFs as integer cumulative counts, so the mass is
    * Σ |ca·nb − cb·na| · gap on decimal(38,0) (ca·nb crosses int64
    * at ~3·10⁹ rows/side — [[ksTestOf]]'s documented class; the gap
    * factor stays inside 38 digits to ~10⁶-unit value ranges) and
    * ONE division by na·nb·10⁶ at the edge converts to value units.
    * The last grid point's lead is null → its term is 0 (both CDFs
    * are 1 at the max).
    *
    * Shape: one (type, value) map-combinable count; cumsum/lead/
    * totals windows share the type partitioning on the bounded
    * distinct-value frame; one bounded per-type fold. */
  def wassersteinDriftOf(events: DataFrame,
                         splitDay: String = "2024-01-16"): DataFrame = {
    val leadW = Window.partitionBy("event_type").orderBy("vq")
    val byType = Window.partitionBy("event_type")
    splitDayEcdf(events, splitDay)
      .withColumn("gap", lead("vq", 1).over(leadW) - col("vq"))
      .withColumn("na", sum("ca_bin").over(byType))
      .withColumn("nb", sum("cb_bin").over(byType))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("mass",
        expr(s"""abs(CAST(ca AS $Dec) * nb - CAST(cb AS $Dec) * na)
                |  * COALESCE(gap, 0)""".stripMargin))
      .groupBy("event_type", "na", "nb")
      .agg(sum("mass").as("m"))
      .select(col("event_type"), col("na"), col("nb"),
        TextF.round6HalfUp(expr(
          """CAST(m AS DOUBLE)
            |  / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e6"""
            .stripMargin)).as("w1"))
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz runs test per event type on the daily-total
    * series vs its own median — the RANDOMNESS gate under every
    * time-series read here ([[mannKendallOf]] asks "monotone
    * trend?", [[Behavior.anovaFOf]]-family asks "level shift?";
    * this asks "is it even exchangeable?" — too FEW runs means
    * clustering/regime structure, too MANY means oscillation):
    * signs vs the LOWER median (ties at the median drop, the
    * standard convention), R = sign-change runs counted by one lag
    * pass, E[R] = 1 + 2·n₊n₋/n, Var = 2n₊n₋(2n₊n₋ − n)/(n²(n−1)),
    * z = (R − E)/√Var.
    *
    * Exactness: R, n₊, n₋ pure int64 on the calendar-bounded daily
    * frame; E and Var ride ONE double chain with cleared integer
    * products computed first (2n₊n₋ ≤ n²/2 — int64 to n ≈ 3·10⁹
    * days, i.e. forever); degenerate series (all one side, or
    * n < 2) null z via try_divide. Verdict |z| > 1.96.
    *
    * Shape: one (type, day) fact aggregate; median, signs, the lag
    * pass and the fold all ride the bounded daily frame. */
  def runsTestOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("v"))
      .localCheckpoint(false) // median pass + sign pass both read it
    val cumW = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byType = Window.partitionBy("event_type")
    val med = daily
      .withColumn("cum", count(lit(1)).over(cumW))
      .withColumn("n", count(lit(1)).over(byType))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("event_type").agg(min("v").as("m"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val signs = daily.join(med, "event_type")
      .filter(col("v") =!= col("m"))
      .select(col("event_type"), col("day"),
        when(col("v") > col("m"), 1L).otherwise(-1L).as("sg"))
      .withColumn("chg",
        when(lag("sg", 1).over(byDay).isNull
          || lag("sg", 1).over(byDay) =!= col("sg"), 1L).otherwise(0L))
    signs.groupBy("event_type")
      .agg(sum(when(col("sg") === 1L, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("sg") === -1L, 1L).otherwise(0L)).as("n_neg"),
        sum("chg").as("runs"))
      .select(col("event_type"), col("n_pos"), col("n_neg"), col("runs"),
        // the variance's OWN denominator n²(n−1) is 0 on an n=1
        // series (one day off the median) — try_divide must wrap the
        // inner division too, or ANSI mode throws DIVIDE_BY_ZERO
        // before the outer guard ever runs (pinned by RobustSpec)
        TextF.round4HalfUp(expr(
          """try_divide(
            |  CAST(runs AS DOUBLE) - (1.0
            |    + CAST(2 * n_pos * n_neg AS DOUBLE)
            |      / CAST(n_pos + n_neg AS DOUBLE)),
            |  sqrt(try_divide(
            |    CAST(2 * n_pos * n_neg AS DOUBLE)
            |      * CAST(2 * n_pos * n_neg - n_pos - n_neg AS DOUBLE),
            |    CAST(n_pos + n_neg AS DOUBLE)
            |      * CAST(n_pos + n_neg AS DOUBLE)
            |      * CAST(n_pos + n_neg - 1 AS DOUBLE))))"""
            .stripMargin)).as("z"),
        expr("""abs(try_divide(
               |  CAST(runs AS DOUBLE) - (1.0
               |    + CAST(2 * n_pos * n_neg AS DOUBLE)
               |      / CAST(n_pos + n_neg AS DOUBLE)),
               |  sqrt(try_divide(
               |    CAST(2 * n_pos * n_neg AS DOUBLE)
               |      * CAST(2 * n_pos * n_neg - n_pos - n_neg AS DOUBLE),
               |    CAST(n_pos + n_neg AS DOUBLE)
               |      * CAST(n_pos + n_neg AS DOUBLE)
               |      * CAST(n_pos + n_neg - 1 AS DOUBLE))))) > 1.96"""
          .stripMargin).as("nonrandom"))
      .orderBy("event_type")
  }

  /** The two-arm rank grid [[mannWhitneyOf]] and [[cliffsDeltaOf]]
    * read: per (type, micro-grid value) the arm counts c0/c1, the
    * arm-0 count strictly `below0` the value (one bounded cumulative
    * window — ties count half downstream via c0), and the arm totals
    * n0/n1; types missing an arm drop. Sized by the value vocabulary,
    * not by rows ([[ksTestOf]]'s argument). */
  private def twoArmRanks(events: DataFrame): DataFrame = {
    val cumW = Window.partitionBy("event_type").orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byType = Window.partitionBy("event_type")
    Behavior.armValues(events, 2L)
      .groupBy("event_type", "vq")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("c1"))
      .withColumn("below0", sum("c0").over(cumW) - col("c0"))
      .withColumn("n0", sum("c0").over(byType))
      .withColumn("n1", sum("c1").over(byType))
      .filter(col("n0") > 0 && col("n1") > 0)
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) A/B readout per event type —
    * the nonparametric sibling of [[graft.operators.Behavior
    * .abTestOf]]'s proportion z-test: arms split by the SAME
    * md5-prefix parity, but the comparison is over the full VALUE
    * distribution (a revenue experiment that shifts the median while
    * the mean hides in the tail is exactly what U catches and a
    * t/z-test misses). Exact integer machinery: values on the micro
    * grid, pair counting by value — 2U₁ = Σᵥ c₁(v)·(2·below₀(v) +
    * c₀(v)) (ties count half, so DOUBLED U stays integer) — and the
    * tie-corrected variance's Σ(t³−t) term, all on decimal(38,0)
    * (t³ ≤ N³ fits 38 digits to N ≈ 10¹²). Reported: the
    * common-language effect size auc = U₁/(n₀·n₁) (the P(X₁ > X₀) +
    * ½P(tie) ROC-AUC equivalence), the normal-approximation z with
    * tie correction, and the α=0.05 verdict. Degenerate types
    * (everything tied → zero variance) read NULL z via try_divide.
    *
    * Shape: one (type, value, arm) map-combinable count; cumsum +
    * totals windows ride the bounded distinct-value frame
    * ([[ksTestOf]]'s vocabulary argument); one bounded per-type fold.
    */
  def mannWhitneyOf(events: DataFrame): DataFrame = {
    twoArmRanks(events)
      .groupBy("event_type", "n0", "n1")
      .agg(
        sum(expr(s"CAST(c1 AS $Dec) * (2 * below0 + c0)")).as("u2"),
        sum(expr(s"CAST(c0 + c1 AS $Dec) * (c0 + c1) * (c0 + c1) - (c0 + c1)"))
          .as("tcub"))
      .select(col("event_type"), col("n0"), col("n1"),
        TextF.round6HalfUp(expr(
          "CAST(u2 AS DOUBLE) / (2.0D * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))"))
          .as("auc"),
        TextF.round6HalfUp(expr(
          """try_divide(
            |  (CAST(u2 AS DOUBLE) - CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) / 2.0D,
            |  sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0D
            |    * (CAST(n0 + n1 + 1 AS DOUBLE)
            |       - CAST(tcub AS DOUBLE)
            |         / (CAST(n0 + n1 AS DOUBLE) * CAST(n0 + n1 - 1 AS DOUBLE)))))"""
            .stripMargin)).as("z"))
      .withColumn("significant",
        when(col("z").isNull, lit(false)).otherwise(abs(col("z")) > 1.96))
      .orderBy("event_type")
  }

  /** The three-arm rank-sum frame [[kruskalWallisOf]] and
    * [[dunnPosthocOf]] read: per-(type, value) arm counts on the micro
    * grid, the cumulative `below` count via one bounded window, and
    * each distinct value's DOUBLED midrank 2·below + t + 1, so per-arm
    * rank sums r0..r2 ride decimal(38,0) with no halves; beside them
    * the arm sizes n0..n2, N = nn and the tie term Σ(t³−t) = tcub.
    * Types missing an arm, or with N ≤ 3, drop. */
  private def threeArmRankSums(events: DataFrame): DataFrame = {
    val cumW = Window.partitionBy("event_type").orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Behavior.armValues(events, 3L)
      .groupBy("event_type", "vq")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 2L, 1L).otherwise(0L)).as("c2"))
      .withColumn("ct", col("c0") + col("c1") + col("c2"))
      .withColumn("below", sum("ct").over(cumW) - col("ct"))
      .groupBy("event_type")
      .agg(sum("c0").as("n0"), sum("c1").as("n1"), sum("c2").as("n2"),
        sum(expr(s"CAST(c0 AS $Dec) * (2 * below + ct + 1)")).as("r0"),
        sum(expr(s"CAST(c1 AS $Dec) * (2 * below + ct + 1)")).as("r1"),
        sum(expr(s"CAST(c2 AS $Dec) * (2 * below + ct + 1)")).as("r2"),
        sum(expr(s"CAST(ct AS $Dec) * ct * ct - ct")).as("tcub"))
      .filter(col("n0") > 0 && col("n1") > 0 && col("n2") > 0)
      .withColumn("nn", col("n0") + col("n1") + col("n2"))
      .filter(col("nn") > 3)
  }

  /** Kruskal–Wallis H per event type across the THREE-arm md5
    * assignment — [[mannWhitneyOf]]'s k-sample generalization and
    * [[graft.operators.Behavior.anovaFOf]]'s rank-based twin (the
    * test an experimenter reaches for when a 3-treatment readout
    * can't assume normal values — revenue is heavy-tailed — and
    * running three pairwise U tests would inflate α). H =
    * 12/(N(N+1)) Σ R_g²/n_g − 3(N+1), tie-corrected by
    * 1 − Σ(t³−t)/(N³−N).
    *
    * Integer-exact ranks off the VALUE GRID: per-(type, value)
    * per-arm counts, cumulative `below` via one bounded window —
    * the [[mannWhitneyOf]] frame, sized by the value vocabulary,
    * not rows — give each distinct value the DOUBLED midrank
    * 2·below + t + 1, so per-arm rank sums ride decimal(38,0)
    * with no halves (Σ R_g²/n_g folds the ×4 into H's 12 → 3).
    * The final combination (three r²/n terms, one division, the
    * tie factor) is ONE deterministic double sequence, textually
    * identical in the oracle; NULLIF nulls H when every value is
    * tied (correction = 0). `significant` compares H against
    * 5.9915 = χ²₂ critical at α = 0.05 (df = k−1 = 2, the
    * [[graft.operators.Behavior.anovaFOf]] literal-constant rule).
    * Types missing an arm are dropped (md5 populates all three at
    * any real scale).
    *
    * Shape: ONE map-combinable fact aggregate to the (type, value)
    * grid; the cumulative window and the final fold ride that
    * bounded frame — nothing fact-scale past the first shuffle. */
  def kruskalWallisOf(events: DataFrame): DataFrame = {
    val agg = threeArmRankSums(events)
    agg.select(col("event_type"), col("n0"), col("n1"), col("n2"),
        TextF.round6HalfUp(expr(
          """(3.0 * (CAST(r0 AS DOUBLE) * CAST(r0 AS DOUBLE) / CAST(n0 AS DOUBLE)
            |      + CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            |      + CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / CAST(n2 AS DOUBLE))
            |   / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))
            | - 3.0 * CAST(nn + 1 AS DOUBLE))
            |/ NULLIF(1.0 - CAST(tcub AS DOUBLE)
            |  / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
            |     - CAST(nn AS DOUBLE)), 0.0)""".stripMargin)).as("h"))
      .withColumn("significant",
        when(col("h").isNull, lit(false)).otherwise(col("h") > 5.9915))
      .orderBy("event_type")
  }

  /** Jonckheere–Terpstra ordered-alternative trend test: does
    * l_quantity rise (or fall) MONOTONICALLY across the ordered
    * discount ladder? [[kruskalWallisOf]] asks "do the groups differ
    * at all" — JT spends its power on the one alternative a pricing
    * owner actually posits (ordered dose-response), summing the
    * Mann-Whitney U of every lower-vs-higher group pair:
    * 2J = Σ_{g<h} Σ_v c_h(v)·(2·below_g(v) + c_g(v)) (ties half).
    *
    * Exactness: J, E[J] = (N²−Σn²)/4 and every tie-corrected variance
    * polynomial (Hollander-Wolfe 6.19: the /72 term plus the two
    * tie-product terms) are DECIMAL(38,0) off one bounded histogram;
    * the doubled 2J/2E forms stay integral (N²−Σn² is even by the
    * pair identity). z is ONE fixed double chain — each polynomial
    * casts to double once, a3·b3 multiplies as doubles (their exact
    * product would pass 38 digits at ~10¹⁰ rows; one IEEE rounding
    * per factor is engine-identical). 2J/2E publish as DOUBLE (exact
    * to 2⁵³ — audit columns, not inputs to z).
    *
    * Shape: ONE fact aggregate to the ≤groups×values histogram
    * (map-combinable), then dense cumulative + pair join + moment
    * folds all on bounded frames (11 discounts × 50 quantities). The
    * dense (group × value) cross is the bounded-frame idiom. */
  def jonckheereTrendOf(lineitem: DataFrame): DataFrame = {
    val hist = lineitem
      .select(Behavior.cents(col("l_discount")).as("g"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("g", "q").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // bounded; dense frame + both moment folds
    val dense = hist.select("g").distinct()
      .crossJoin(hist.select("q").distinct()) // bounded ladder × domain
      .join(hist, Seq("g", "q"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("below",
        sum("c").over(Window.partitionBy("g").orderBy("q")) - col("c"))
    val lo = dense.select(col("g").as("gl"), col("q"),
      col("c").as("cl"), col("below").as("bl"))
    val hi = dense.select(col("g").as("gh"), col("q"), col("c").as("ch"))
    val j2 = hi.join(lo, Seq("q")).filter(col("gl") < col("gh"))
      .agg(coalesce(sum(expr(s"CAST(ch AS $Dec) * (2 * bl + cl)")),
        lit(0L).cast(Dec)).as("j2"))
    val gm = hist.groupBy("g").agg(sum("c").as("n"))
      .agg(count(lit(1)).as("n_groups"), sum("n").as("nn"),
        sum(expr(s"CAST(n AS $Dec) * n")).as("sn2"),
        sum(expr(s"CAST(n AS $Dec) * (n - 1) * (2 * n + 5)")).as("p2"),
        sum(expr(s"CAST(n AS $Dec) * (n - 1) * (n - 2)")).as("a3"),
        sum(expr(s"CAST(n AS $Dec) * (n - 1)")).as("a2"))
    val tm = hist.groupBy("q").agg(sum("c").as("t"))
      .agg(sum(expr(s"CAST(t AS $Dec) * (t - 1) * (2 * t + 5)")).as("p3"),
        sum(expr(s"CAST(t AS $Dec) * (t - 1) * (t - 2)")).as("b3"),
        sum(expr(s"CAST(t AS $Dec) * (t - 1)")).as("b2"))
    j2.crossJoin(gm).crossJoin(tm) // 1-row frames
      .withColumn("e2", expr(s"(CAST(nn AS $Dec) * nn - sn2) div 2"))
      .select(col("nn").cast("long").as("n"), col("n_groups"),
        col("j2").cast("double").as("j2"), col("e2").cast("double").as("e2"),
        TextF.round4HalfUp(expr(
          s"""try_divide(CAST(j2 - e2 AS DOUBLE),
             |  2.0 * sqrt(
             |    CAST(CAST(nn AS $Dec) * (nn - 1) * (2 * nn + 5)
             |         - p2 - p3 AS DOUBLE) / 72.0
             |    + CAST(a3 AS DOUBLE) * CAST(b3 AS DOUBLE)
             |      / NULLIF(CAST(36 * CAST(nn AS $Dec) * (nn - 1) * (nn - 2)
             |               AS DOUBLE), 0.0)
             |    + CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE)
             |      / NULLIF(CAST(8 * CAST(nn AS $Dec) * (nn - 1)
             |               AS DOUBLE), 0.0)))"""
            .stripMargin)).as("z"))
      .withColumn("trending",
        when(col("z").isNull, lit(false)).otherwise(abs(col("z")) > 1.96))
  }

  /** Friedman test over day-blocked daily revenue by event type — the
    * BLOCKED twin of [[kruskalWallisOf]] (KW pools all observations
    * as if exchangeable; Friedman ranks WITHIN each day, so the huge
    * day-to-day level swings every business series carries cancel
    * instead of drowning the treatment signal — the same
    * stratification instinct as seasonal MK and CMH). Complete-block
    * design: the (day × type) frame densifies with 0 (a day with no
    * purchases genuinely observed zero revenue).
    *
    * Ties-corrected statistic (Conover 1999 §5.8) entirely on the
    * DOUBLED-rank integer grid: within-day average ranks as
    * r2 = 2·below + t + 1 ([[kruskalWallisOf]]'s device), per-type
    * doubled rank-sums R2_j, Q = (k−1)·Σ_j(R2_j − b(k+1))² /
    * (Σr2² − b·k·(k+1)²) — numerator and denominator both exact
    * DECIMAL(38,0) (the /4 scale cancels), ONE double division,
    * fully-tied data nulls via try_divide. χ²_{k−1} verdict at 0.05.
    *
    * Shape: ONE fact aggregate to the calendar-bounded (day, type)
    * frame; dense cross, within-day rank window, and both folds all
    * run on that bounded frame. */
  def friedmanTestOf(events: DataFrame): DataFrame = {
    val daily = events
      .select(to_date(col("ts")).as("day"), col("event_type"),
        Behavior.micro(col("value")).as("vq"))
      .groupBy("day", "event_type").agg(sum("vq").as("v"))
      .localCheckpoint(false) // dense cross reads it thrice
    val dense = daily.select("day").distinct()
      .crossJoin(daily.select("event_type").distinct()) // bounded
      .join(daily, Seq("day", "event_type"), "left")
      .withColumn("v", coalesce(col("v"), lit(0L)))
    // within-day average rank on the doubled grid: rank() = below + 1,
    // so r2 = 2·below + t + 1 — integral even through tie midpoints
    val ranked2 = dense
      .withColumn("rk", rank().over(Window.partitionBy("day").orderBy("v")))
      .withColumn("t",
        count(lit(1)).over(Window.partitionBy("day", "v")))
      .withColumn("r2", lit(2L) * (col("rk") - 1) + col("t") + 1)
    val blocks = ranked2.agg(
      countDistinct("day").as("b"), countDistinct("event_type").as("k"),
      sum(expr(s"CAST(r2 AS $Dec) * r2")).as("a4"))
    val perType = ranked2.groupBy("event_type")
      .agg(sum("r2").as("r2sum"))
    perType.crossJoin(blocks) // bounded k rows × 1
      .select(col("event_type"), col("r2sum"), col("b"), col("k"),
        col("a4"),
        expr(s"""CAST(r2sum AS $Dec) - CAST(b AS $Dec) * (k + 1)""")
          .as("dev"))
      .agg(max("b").as("b"), max("k").as("k"), max("a4").as("a4"),
        sum(expr(s"CAST(dev AS $Dec) * dev")).as("devsq"))
      .select(col("b"), col("k"),
        r6(expr(s"""try_divide(
             |  CAST((k - 1) * devsq AS DOUBLE),
             |  CAST(a4 - CAST(b AS $Dec) * k * (k + 1) * (k + 1)
             |       AS DOUBLE))""".stripMargin)).as("q"))
      // α=0.05 χ² critical values, df = k−1 for k ∈ [2, 11]; outside
      // the ladder the verdict is NULL (refused), never a df=4 guess
      .withColumn("crit",
        when(col("k") === 2, 3.841459)
          .when(col("k") === 3, 5.991465)
          .when(col("k") === 4, 7.814728)
          .when(col("k") === 5, 9.487729)
          .when(col("k") === 6, 11.070498)
          .when(col("k") === 7, 12.591587)
          .when(col("k") === 8, 14.067140)
          .when(col("k") === 9, 15.507313)
          .when(col("k") === 10, 16.918978)
          .when(col("k") === 11, 18.307038))
      .withColumn("significant",
        when(col("q").isNull, lit(false))
          .when(col("crit").isNull, lit(null).cast("boolean"))
          .otherwise(col("q") > col("crit")))
      .drop("crit")
  }

  /** Kendall's W coefficient of concordance — [[friedmanTestOf]]'s
    * EFFECT SIZE (W = Q/(b(k−1)), the ties-corrected identity): the
    * Friedman Q says whether the day-blocks agree on a type ordering
    * at all; W ∈ [0,1] says how STRONGLY (1 = every day ranks the
    * types identically, 0 = no agreement) — the number that survives
    * growing b, where Q mechanically inflates. Standard verbal bands
    * published (≥0.7 strong, ≥0.3 moderate, else weak — applied to
    * the ROUNDED W so the label is grid-stable cross-engine).
    *
    * Derivation rides the registered Friedman output (same frames,
    * same rounding contract — W divides the published 6-dp Q once and
    * re-rounds to 6 dp identically in both engines); a fully-tied
    * corpus nulls Q hence W. */
  def kendallWOf(events: DataFrame): DataFrame = {
    friedmanTestOf(events)
      .select(col("b"), col("k"),
        r6(col("q") / (col("b") * (col("k") - 1)).cast("double")).as("w"))
      .withColumn("agreement",
        when(col("w").isNull, lit("undefined"))
          .when(col("w") >= 0.7, lit("strong"))
          .when(col("w") >= 0.3, lit("moderate"))
          .otherwise(lit("weak")))
  }

  /** Yuen's trimmed-mean two-sample test per event type (Yuen '74 —
    * the ROBUST twin of [[Behavior.welchTestOf]]: one whale in either arm drags
    * a mean-based t anywhere it likes; Yuen compares 20%-trimmed
    * means with winsorized variances, so the middle 60% decides and
    * heavy tails cost power instead of validity). Trimming is BY
    * POSITION on the value histogram — c_mid(v) = the count of order
    * positions of value v inside [g+1, n−g] — so boundary ties
    * resolve exactly as a per-row sort would, without ever sorting
    * rows: the same (type, arm, value-grid) + cumulative-window
    * machinery as [[kruskalWallisOf]], ONE map-combinable fact
    * aggregate then grid-sized work.
    *
    * Exactness: trimmed/winsorized sums and squares are DECIMAL(38,0)
    * on the 1e-6 value grid (L/U order statistics read off the
    * cumulative counts); t and the Welch–Satterthwaite df are ONE
    * fixed double chain each (t is grid-scale-invariant — numerator
    * and √denominator both carry the micro unit). h ≤ 1 arms drop;
    * zero pooled variance nulls t via try_divide. Normal-approx
    * verdict at 1.96 (documented — at warehouse n the t quantile is
    * indistinguishable). */
  def yuenTestOf(events: DataFrame): DataFrame = {
    val byGroup = Window.partitionBy("event_type", "arm")
    val grid = Behavior.armValues(events, 2L)
      .groupBy("event_type", "arm", "vq").agg(count(lit(1)).as("c"))
      .withColumn("b", sum("c").over(byGroup.orderBy("vq")) - col("c"))
      .withColumn("n", sum("c").over(byGroup))
      .withColumn("g", expr("n div 5"))
      .withColumn("cmid", greatest(lit(0L),
        least(col("b") + col("c"), col("n") - col("g"))
          - greatest(col("b"), col("g"))))
    val agg = grid.groupBy("event_type", "arm")
      .agg(max("n").as("n"), max("g").as("g"),
        min(when(col("b") + col("c") >= col("g") + 1, col("vq"))).as("lo"),
        min(when(col("b") + col("c") >= col("n") - col("g"), col("vq")))
          .as("hi"),
        sum(expr(s"CAST(cmid AS $Dec) * vq")).as("ts"),
        sum(expr(s"CAST(cmid AS $Dec) * vq * vq")).as("ts2"))
      .withColumn("h", col("n") - lit(2L) * col("g"))
      .withColumn("sw",
        expr(s"ts + CAST(g AS $Dec) * lo + CAST(g AS $Dec) * hi"))
      .withColumn("sw2",
        expr(s"ts2 + CAST(g AS $Dec) * lo * lo + CAST(g AS $Dec) * hi * hi"))
    // arm-major column order, unlike `Behavior.pivot`'s value-major
    val picks = for ((a, arm) <- Behavior.levels("arm", 2);
                     c <- Seq("n", "h", "ts", "sw", "sw2"))
      yield Behavior.cellMax(c, arm).as(c + a)
    val wide = agg.groupBy("event_type").agg(picks.head, picks.tail: _*)
      .filter(col("h0") > 1 && col("h1") > 1)
    val d0 = """(CAST(sw20 AS DOUBLE)
        | - CAST(sw0 AS DOUBLE) * CAST(sw0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        | / (CAST(h0 AS DOUBLE) * CAST(h0 - 1 AS DOUBLE))""".stripMargin
    val d1 = """(CAST(sw21 AS DOUBLE)
        | - CAST(sw1 AS DOUBLE) * CAST(sw1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        | / (CAST(h1 AS DOUBLE) * CAST(h1 - 1 AS DOUBLE))""".stripMargin
    wide.select(col("event_type"), col("n0"), col("n1"),
        r4(expr("CAST(ts0 AS DOUBLE) / CAST(h0 AS DOUBLE) / 1e6"))
          .as("tmean0"),
        r4(expr("CAST(ts1 AS DOUBLE) / CAST(h1 AS DOUBLE) / 1e6"))
          .as("tmean1"),
        r4(expr(
          s"""try_divide(
             |  CAST(ts0 AS DOUBLE) / CAST(h0 AS DOUBLE)
             |    - CAST(ts1 AS DOUBLE) / CAST(h1 AS DOUBLE),
             |  sqrt(($d0) + ($d1)))""".stripMargin)).as("t"),
        r4(expr(
          s"""try_divide((($d0) + ($d1)) * (($d0) + ($d1)),
             |  ($d0) * ($d0) / CAST(h0 - 1 AS DOUBLE)
             |    + ($d1) * ($d1) / CAST(h1 - 1 AS DOUBLE))""".stripMargin))
          .as("df"))
      .withColumn("significant",
        when(col("t").isNull, lit(false)).otherwise(abs(col("t")) > 1.96))
      .orderBy("event_type")
  }

  /** Index-of-dispersion (Fisher) Poisson check on daily event counts
    * per type — the distributional sanity gate the rate family lacked:
    * [[graft.operators.EventAnalytics]]'s Poisson rate test COMPARES
    * two arms' rates but silently assumes the counts are Poisson at
    * all; this tests that assumption. I = s²/x̄ over the daily-count
    * series, D = (T−1)·I ~ χ²_{T−1} under H₀; burstiness/clumping
    * reads over-dispersed (I ≫ 1 — the usual verdict for anything
    * driven by sessions, campaigns, or weekly cycles), quota-like
    * regularity under-dispersed. Verdict via the Wilson–Hilferty-free
    * Fisher normal approximation z = √(2D) − √(2(T−1)−1) (no χ²
    * quantile function needed — engine-identical sqrt arithmetic).
    *
    * Exactness: Σc and Σc² are exact DECIMAL(38,0) off ONE daily
    * aggregate; mean/var/I/z are ONE fixed double chain each; a
    * single-day series drops (variance undefined); an all-zero... a
    * zero-mean series cannot occur (a day only exists in the frame
    * because events happened). Shape: one fact aggregate to the
    * calendar-bounded (type, day) frame, one bounded fold. */
  def overdispersionCheckOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events)(count(lit(1)).as("c"))
    val agg = daily.groupBy("event_type")
      .agg(count(lit(1)).as("t_days"),
        sum(col("c").cast(Dec)).as("s1"),
        sum(expr(s"CAST(c AS $Dec) * c")).as("s2"))
      .filter(col("t_days") > 1)
    val disp = """((CAST(s2 AS DOUBLE)
        | - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(t_days AS DOUBLE))
        | / CAST(t_days - 1 AS DOUBLE))
        | / (CAST(s1 AS DOUBLE) / CAST(t_days AS DOUBLE))""".stripMargin
    agg.select(col("event_type"), col("t_days"),
        r4(expr("CAST(s1 AS DOUBLE) / CAST(t_days AS DOUBLE)")).as("mean_c"),
        r4(expr(disp)).as("dispersion"),
        r4(expr(
          s"""sqrt(2.0 * CAST(t_days - 1 AS DOUBLE) * ($disp))
             |  - sqrt(2.0 * CAST(t_days - 1 AS DOUBLE) - 1.0)"""
            .stripMargin)).as("z"))
      .withColumn("verdict",
        when(col("z") > 1.96, lit("overdispersed"))
          .when(col("z") < -1.96, lit("underdispersed"))
          .otherwise(lit("poisson")))
      .orderBy("event_type")
  }

  /** Cliff's delta effect SIZE per event type — [[mannWhitneyOf]]
    * answers "is the arm difference real?"; this answers "is it
    * BIG?": δ = P(treat > ctrl) − P(ctrl > treat), the ordinal
    * effect size that ignores distribution shape entirely (at 10⁹
    * events a 0.1% shift is "significant" — δ says whether anyone
    * should care). Derived from the same doubled U statistic on the
    * same (type, value-grid, arm) frame: δ = (2U − n0·n1)/(n0·n1)
    * with ties counted half by construction. Magnitude labels use
    * Romano et al. '06's standard cutoffs (|δ| < 0.147 negligible,
    * < 0.33 small, < 0.474 medium, else large), applied to the
    * ROUNDED δ so the label is grid-stable cross-engine.
    *
    * Shape: [[mannWhitneyOf]]'s own rank grid (the shared
    * `twoArmRanks`) — the (type, vq) grid aggregate absorbs fact mass
    * map-side; windows ride the bounded value-grid frame. */
  def cliffsDeltaOf(events: DataFrame): DataFrame = {
    twoArmRanks(events)
      .groupBy("event_type", "n0", "n1")
      .agg(sum(expr(s"CAST(c1 AS $Dec) * (2 * below0 + c0)")).as("u2"))
      .select(col("event_type"), col("n0"), col("n1"),
        TextF.round6HalfUp(expr(s"""
          |CAST(u2 - CAST(n0 AS $Dec) * n1 AS DOUBLE)
          |  / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))""".stripMargin))
          .as("delta"))
      .withColumn("magnitude",
        when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large"))
      .orderBy("event_type")
  }

  /** Trailing 7-day rolling correlation between the click and
    * purchase daily-count series — [[corrMatrixOf]]'s time-series
    * form, the "are these metrics still coupled" monitor (a decoupling
    * week is a funnel break even when each series alone looks
    * healthy). Exact: daily counts are int64, every trailing-window
    * moment is an integer ROWS-frame sum on the bounded daily frame,
    * r is one fixed-order double expression per day (two sqrts + one
    * try_divide — zero-variance windows read NULL), 6-dp grid. Days
    * with fewer than 7 predecessors report NULL (no partial-window
    * estimates — they'd read as spurious regime shifts).
    *
    * Shape: one (day) map-combinable count is the only fact-sized
    * work; every window runs on the ≤ span-days frame. */
  def rollingCorrOf(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays > 1, s"windowDays must be > 1, got $windowDays")
    val w = Window.orderBy("day")
      .rowsBetween(-(windowDays - 1), Window.currentRow)
    val daily = events
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("x").over(w))
      .withColumn("sy", sum("y").over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .select(col("day"), col("x").as("clicks"), col("y").as("purchases"),
        when(col("n") === windowDays.toLong, TextF.round6HalfUp(expr(
          """try_divide(
            |  CAST(n * sxy - sx * sy AS DOUBLE),
            |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            |    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))""".stripMargin)))
          .as("rolling_r"))
      .orderBy("day")
  }

  /** Distribution-free confidence interval for the per-type median
    * (binomial order-statistic bounds, normal approximation z =
    * Φ⁻¹(.975) = 1.959964 — the literal-constant rule): the band a
    * dashboard should draw around `weighted_median`/`mad_outliers`'
    * point estimates before anyone reads day-to-day wiggle as signal.
    * Ranks k_lo = max(1, ⌊(n − z√n)/2⌋), k_hi = min(n, ⌈(n + z√n)/2
    * + 1⌉), median = the lower (n+1) div 2 order statistic; each rank
    * resolves to a value through the cents-grid cumulative — never a
    * fact-scale sort.
    *
    * Determinism: ranks come from ONE fixed double chain (one √, one
    * multiply, one divide, floor/ceil) on exact n; everything else is
    * integer. The rank→value probe is a 3-rows-per-type join against
    * the bounded (type × cents) grid — the `ks_test` grid shape.
    *
    * Shape: one map-combinable (type, cents) aggregate absorbs the
    * fact mass; the cumulative window and the probe ride the bounded
    * value grid. */
  def medianCiOf(events: DataFrame): DataFrame = {
    val g = events.select(col("event_type"),
        Behavior.cents(col("value")).as("c"))
      .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // grid feeds the cumsum and the totals
    val byType = Window.partitionBy("event_type").orderBy("c")
    val cum = g.withColumn("r_hi", sum("cnt").over(byType))
      .withColumn("r_lo", col("r_hi") - col("cnt") + 1L)
    def d(c: Column) = c.cast("double")
    val ranks = g.groupBy("event_type").agg(sum("cnt").as("n"))
      .select(col("event_type"), col("n"),
        expr("(n + 1) div 2").as("k_med"),
        greatest(floor((d(col("n")) - lit(1.959964) * sqrt(d(col("n"))))
          / 2.0).cast("long"), lit(1L)).as("k_lo"),
        least(ceil((d(col("n")) + lit(1.959964) * sqrt(d(col("n"))))
          / 2.0 + 1.0).cast("long"), col("n")).as("k_hi"))
    val probes = ranks.select(col("event_type"), col("n"),
        explode(array(
          struct(lit("med").as("which"), col("k_med").as("k")),
          struct(lit("lo").as("which"), col("k_lo").as("k")),
          struct(lit("hi").as("which"), col("k_hi").as("k")))).as("p"))
      .select(col("event_type"), col("n"), col("p.which").as("which"),
        col("p.k").as("k"))
    probes.join(cum, Seq("event_type")) // grid-bounded
      .filter(col("k") >= col("r_lo") && col("k") <= col("r_hi"))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        max(when(col("which") === "med", col("c"))).as("median_cents"),
        max(when(col("which") === "lo", col("c"))).as("ci_lo_cents"),
        max(when(col("which") === "hi", col("c"))).as("ci_hi_cents"))
      .orderBy("event_type")
  }

  /** Hodges–Lehmann pseudo-median of the per-type DAILY revenue
    * series (the median of all Walsh averages (vᵢ+vⱼ)/2, i ≤ j — the
    * location estimator behind the Wilcoxon signed-rank CI: ~95%
    * Gaussian efficiency yet a 29% breakdown point, where the plain
    * median of daily totals throws away half the information and the
    * mean breaks on one spike day). Pair sums stay EXACT integers on
    * the cent grid (the half only divides at the rendered edge:
    * hl_cents = pairsum div 2, plus the exact half-cent flag), the
    * median is the lower nearest-rank order statistic with a (sum,
    * i, j) total order.
    *
    * Shape: one (type, day) fact aggregate, then the Walsh self-join
    * and its rank window ride the bounded daily frame (≤ day-span²/2
    * pairs per type — the theilsen_trend pair discipline). */
  def hodgesLehmannOf(events: DataFrame): DataFrame = {
    val daily = Behavior.daily(events,
      Behavior.cents(col("value")).as("vc"))(sum("vc").as("v"))
      .withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("day")).cast("long"))
      .localCheckpoint(false) // both Walsh-join sides
    val l = daily.select(col("event_type"), col("i").as("ia"),
      col("v").as("va"))
    val r = daily.select(col("event_type"), col("i").as("ib"),
      col("v").as("vb"))
    val walsh = l.join(r, Seq("event_type"))
      .filter(col("ia") <= col("ib")) // bounded: day-span²/2 per type
      .select(col("event_type"), (col("va") + col("vb")).as("ps"),
        col("ia"), col("ib"))
    val ranked = walsh.withColumn("rn", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("ps"), col("ia"), col("ib"))))
    val counts = walsh.groupBy("event_type").agg(count(lit(1)).as("m"),
      countDistinct("ib").as("n_days"))
    ranked.join(broadcast(counts), Seq("event_type"))
      .filter(col("rn") === expr("(m + 1) div 2"))
      .select(col("event_type"), col("n_days"), col("m").as("n_pairs"),
        // div truncates toward zero on BOTH engines (measured); the
        // half flag tests |ps| so a refund-negative pair sum can't
        // flip it cross-engine (Spark pmod vs DuckDB % disagree on
        // negative operands).
        expr("ps div 2").as("hl_cents"),
        (pmod(abs(col("ps")), lit(2L)) === 1L).as("half_cent"))
      .orderBy("event_type")
  }

  /** Daily-revenue Value-at-Risk and expected shortfall per type —
    * the worst-day planning read (VaR₉₅ = the 5th-percentile daily
    * total by LOWER nearest-rank; CVaR = the mean of the days at or
    * below it — the coherent tail measure that prices HOW bad the bad
    * tail is, not just where it starts): both exact on the cent grid,
    * CVaR by integer division.
    *
    * Shape: one (type, day) fact aggregate; rank and tail mean on the
    * bounded daily frame. */
  def revenueVarOf(events: DataFrame, pct: Int = 5): DataFrame = {
    require(pct >= 1 && pct <= 50, s"pct in [1,50], got $pct")
    val daily = Behavior.daily(events,
      Behavior.cents(col("value")).as("vc"))(sum("vc").as("v"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("v"), col("day"))))
      .localCheckpoint(false) // rank probe + tail fold share it
    val counts = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
      .withColumn("k", greatest(expr(s"(n * $pct) div 100"), lit(1L)))
    val varRow = daily.join(broadcast(counts), Seq("event_type"))
      .filter(col("rn") === col("k"))
      .select(col("event_type"), col("n"), col("k"),
        col("v").as("var_cents"))
    daily.join(broadcast(varRow.select(col("event_type"),
        col("k").as("kk"))), Seq("event_type"))
      .filter(col("rn") <= col("kk"))
      .groupBy("event_type")
      .agg(sum(col("v").cast(Dec)).as("tail_sum"),
        count(lit(1)).as("n_tail"))
      .join(varRow, Seq("event_type"))
      .select(col("event_type"), col("n").as("n_days"), col("var_cents"),
        expr("CAST(tail_sum div n_tail AS BIGINT)").as("cvar_cents"))
      .orderBy("event_type")
  }

  /** Dunn's post-hoc pairwise test after [[kruskalWallisOf]] (Dunn
    * '64 — KW's H says the three arms differ SOMEWHERE; Dunn says
    * WHICH pairs, on the same pooled ranks, with the Bonferroni
    * correction the three-naive-U-tests shortcut skips): for each
    * arm pair, z = (R̄_a − R̄_b) / √(σ²·(1/n_a + 1/n_b)) with the
    * tie-corrected pooled-rank variance σ² = N(N+1)/12 −
    * Σ(t³−t)/(12(N−1)), significance at |z| > 2.393980 = Φ⁻¹(1 −
    * 0.05/6) (two-sided α = 0.05 over m = 3 pairs).
    *
    * Integer-exact machinery is the KW fold itself (the shared
    * `threeArmRankSums`: value grid, doubled midranks, per-arm
    * decimal(38,0) rank sums — R̄ halves only inside the final double
    * chain); the pair fan-out is a 3-element explode on the ≤|types|
    * aggregated frame. An all-tied type nulls σ² → z NULL → not
    * significant (try_divide, the KW contract).
    *
    * Shape: ONE map-combinable fact aggregate to the (type, value)
    * grid; everything after — cumulative window, fold, pair explode,
    * z chains — rides bounded frames. */
  def dunnPosthocOf(events: DataFrame): DataFrame = {
    val agg = threeArmRankSums(events)
    val r4: Column => Column = TextF.round4HalfUp
    // 3-pair fan-out on the ≤|types| frame: (a, b) ∈ {01, 02, 12}
    val pairs = agg
      .withColumn("ns", array(col("n0"), col("n1"), col("n2")))
      .withColumn("rs", array(col("r0"), col("r1"), col("r2")))
      .withColumn("pair", explode(array(
        struct(lit(0L).as("a"), lit(1L).as("b")),
        struct(lit(0L).as("a"), lit(2L).as("b")),
        struct(lit(1L).as("a"), lit(2L).as("b")))))
      .select(col("event_type"), col("nn"), col("tcub"),
        col("pair.a").as("arm_a"), col("pair.b").as("arm_b"),
        element_at(col("ns"), (col("pair.a") + 1).cast("int")).as("na"),
        element_at(col("ns"), (col("pair.b") + 1).cast("int")).as("nb"),
        element_at(col("rs"), (col("pair.a") + 1).cast("int")).as("ra"),
        element_at(col("rs"), (col("pair.b") + 1).cast("int")).as("rb"))
    pairs.select(col("event_type"), col("arm_a"), col("arm_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        // mean rank on the REAL (undoubled) scale, 4 dp
        r4(expr("CAST(ra AS DOUBLE) / CAST(na AS DOUBLE) / 2.0D"))
          .as("mean_rank_a"),
        r4(expr("CAST(rb AS DOUBLE) / CAST(nb AS DOUBLE) / 2.0D"))
          .as("mean_rank_b"),
        r6(expr(
          """try_divide(
            |  CAST(ra AS DOUBLE) / CAST(na AS DOUBLE)
            |    - CAST(rb AS DOUBLE) / CAST(nb AS DOUBLE),
            |  2.0D * sqrt(
            |    greatest(
            |      CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE) / 12.0D
            |      - CAST(tcub AS DOUBLE)
            |        / (12.0D * CAST(nn - 1 AS DOUBLE)), 0.0D)
            |    * (1.0D / CAST(na AS DOUBLE)
            |       + 1.0D / CAST(nb AS DOUBLE))))""".stripMargin))
          .as("z"))
      .withColumn("significant",
        when(col("z").isNull, lit(false)).otherwise(abs(col("z")) > 2.393980))
      .orderBy("event_type", "arm_a", "arm_b")
  }

  /** The day-paired differences [[wilcoxonSignedRankOf]] and
    * [[signTestOf]] test: per day, d = rev_A − rev_B on the exact cent
    * grid. ONE (day) fact aggregate; the frame is calendar-bounded. */
  private def dayPairedDiffs(events: DataFrame, typeA: String,
                             typeB: String): DataFrame =
    events
      .filter(col("event_type").isin(typeA, typeB))
      .select(to_date(col("ts")).as("day"), col("event_type"),
        Behavior.cents(col("value")).as("vc"))
      .groupBy("day")
      .agg(sum(when(col("event_type") === typeA, col("vc"))
        .otherwise(0L)).as("ra"),
        sum(when(col("event_type") === typeB, col("vc"))
          .otherwise(0L)).as("rb"))
      .select((col("ra") - col("rb")).as("d"))

  /** Wilcoxon signed-rank test on the DAY-PAIRED daily revenues of
    * two event types (Wilcoxon '45 — the PAIRED continuous member
    * the test family lacked: mannwhitney compares two independent
    * samples, mcnemar pairs binaries; this pairs each day's
    * purchase revenue with the SAME day's view revenue, so
    * day-to-day level swings cancel — the blocked-design instinct
    * of friedman_test at k = 2 with magnitudes kept): d_t = rev_A −
    * rev_B per day on the exact cent grid, zero differences dropped
    * (the standard convention), |d| midranks on the DOUBLED integer
    * grid (the KW/MW device — r2 = 2·below + t + 1, so rank sums
    * stay integral through ties), W⁺ = Σ_{d>0} ranks published
    * doubled (`w_plus_x2`, the hodges_lehmann half-grid trick), and
    * the tie-corrected normal approximation z = (2W⁺ − n(n+1)/2) /
    * √(n(n+1)(2n+1)/6 − Σ(t³−t)/12) — each moment exact
    * decimal(38,0), ONE double chain, |z| > 1.96.
    *
    * Degenerate contract: n = 0 (every day ties exactly) emits
    * nothing — no vacuous verdict; the variance term is positive
    * for every n ≥ 1 but stays try_divide-guarded anyway (the
    * standing null-not-NaN contract).
    *
    * Shape: ONE (type, day) fact aggregate; the day pairing, the
    * |d| grid, its cumulative window, and the moment fold all ride
    * the calendar-bounded daily frame. */
  def wilcoxonSignedRankOf(events: DataFrame, typeA: String = "purchase",
      typeB: String = "view"): DataFrame = {
    val daily = dayPairedDiffs(events, typeA, typeB)
      .filter(col("d") =!= 0L)
    val cumW = Window.orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = daily
      .select(abs(col("d")).as("ad"),
        when(col("d") > 0L, 1L).otherwise(0L).as("pos"))
      .groupBy("ad")
      .agg(count(lit(1)).as("t"), sum("pos").as("np"))
      // single-task window is FINE here: the |d| grid is bounded by
      // the calendar (≤ days rows), never fact-scale
      .withColumn("below", sum("t").over(cumW) - col("t"))
    grid.agg(
        sum("t").as("n"),
        sum(expr(s"CAST(np AS $Dec) * (2 * below + t + 1)")).as("w2"),
        sum(expr(s"CAST(t AS $Dec) * t * t - t")).as("tcub"))
      .filter(col("n") > 0)
      .select(col("n").as("n_pairs"),
        col("w2").cast("long").as("w_plus_x2"),
        r6(expr(
          """try_divide(
            |  CAST(w2 AS DOUBLE)
            |    - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 2.0D,
            |  sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
            |         * CAST(2 * n + 1 AS DOUBLE) / 6.0D
            |       - CAST(tcub AS DOUBLE) / 12.0D))""".stripMargin))
          .as("z"))
      .withColumn("significant",
        when(col("z").isNull, lit(false)).otherwise(abs(col("z")) > 1.96))
  }

  /** Quantile treatment effect (QTE) per event type — the
    * DISTRIBUTIONAL A/B readout the mean-based tests compress away
    * (ab_test/welch read the average; a treatment that fattens the
    * p90 while thinning the median reads FLAT on means — QTE
    * reports the arm difference AT each quantile, the
    * Doksum/Lehmann shift read): per (type, md5-arm) value
    * distributions, lower nearest-rank quantiles at p25/p50/p75/p90
    * read off cumulative counts on the value grid (the KW
    * machinery — never a per-arm sort), lift = v₁ − v₀ exact on the
    * micro grid.
    *
    * Exactness: nearest-rank position ⌈q·n/100⌉ computed as the
    * integer (q·n + 99) div 100; the quantile pick is min vq with
    * cum ≥ pos — a ≤4-row broadcast theta-join against the bounded
    * grid, exact integers end to end (no interpolation, so no
    * doubles at all). Types missing an arm drop (md5 fills both at
    * any real scale).
    *
    * Shape: ONE map-combinable fact aggregate to the (type, arm,
    * value) grid; cumulative windows and the quantile pick ride
    * that bounded frame. */
  def quantileLiftOf(events: DataFrame): DataFrame = {
    val cumW = Window.partitionBy("event_type", "arm").orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = events.select(col("event_type"),
        graft.operators.Behavior.arm2(col("user_id")).as("arm"),
        Behavior.micro(col("value")).as("vq"))
      .groupBy("event_type", "arm", "vq")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(cumW))
      .withColumn("n", sum("c").over(
        Window.partitionBy("event_type", "arm")))
    val qs = grid.sparkSession.range(0, 4)
      .select((col("id") * 0L).as("zero"),
        element_at(array(lit(25L), lit(50L), lit(75L), lit(90L)),
          (col("id") + 1).cast("int")).as("q"))
      .drop("zero")
    val picks = grid.join(broadcast(qs),
        col("cum") >= expr("(q * n + 99) div 100"))
      .groupBy("event_type", "arm", "q")
      .agg(min("vq").as("v"), max("n").as("n"))
    // arm pivot by conditional aggregate — an arm self-join would
    // re-plan the whole grid subtree twice
    Behavior.pivot(picks, Seq("event_type", "q"), Behavior.levels("arm", 2),
        "n", "v")
      .filter(col("v0").isNotNull && col("v1").isNotNull)
      .select(col("event_type"), col("q"), col("n0"), col("n1"),
        col("v0"), col("v1"), (col("v1") - col("v0")).as("lift_micro"))
      .orderBy("event_type", "q")
  }

  /** Sign test on the day-paired purchase/view daily revenues — the
    * DISTRIBUTION-FREE-est member of the paired family
    * ([[wilcoxonSignedRankOf]] assumes symmetric differences to use
    * magnitudes; the sign test assumes NOTHING but exchangeability,
    * so it is the pair the reviewer reaches for when the wilcoxon
    * verdict needs a no-assumptions second): d_t = rev_A − rev_B per
    * day on the exact cent grid, ties (d = 0) dropped and COUNTED
    * (the tie mass is the published honesty check), z =
    * (n⁺ − n⁻)/√(n⁺ + n⁻) — the binomial normal approximation with
    * every operand an exact integer and ONE double division.
    *
    * Degenerate contract: every day tying exactly (n⁺ + n⁻ = 0)
    * emits nothing — no vacuous verdict (the wilcoxon convention).
    *
    * Shape: ONE (day) fact aggregate; the sign fold is a 1-row
    * global aggregate over the calendar-bounded day frame. */
  def signTestOf(events: DataFrame, typeA: String = "purchase",
      typeB: String = "view"): DataFrame = {
    val daily = dayPairedDiffs(events, typeA, typeB)
    daily.agg(
        sum(when(col("d") > 0L, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("d") < 0L, 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("d") === 0L, 1L).otherwise(0L)).as("n_ties"))
      .filter(col("n_pos") + col("n_neg") > 0L)
      .select(col("n_pos"), col("n_neg"), col("n_ties"),
        TextF.round6HalfUp(
          (col("n_pos") - col("n_neg")).cast("double") /
            sqrt((col("n_pos") + col("n_neg")).cast("double"))).as("z"))
      .withColumn("significant",
        when(col("z").isNull, lit(false)).otherwise(abs(col("z")) > 1.959964))
  }

  /** Mood's median test per event type across the three-arm md5
    * assignment — the k-sample location test that survives what
    * breaks [[kruskalWallisOf]]'s rank machinery (a heavy-tailed
    * metric with gross outliers: ranks still move with every value,
    * the median test only asks ABOVE OR NOT): the type's grand
    * median is the lower nearest-rank off the cumulative value grid
    * (the KW/QTE machinery — never a per-arm sort), each arm splits
    * into above/not-above (ties sit NOT-above, the documented
    * convention), and χ² = Σ(O−E)²/E over the 2×k table with
    * E = row·col/n — integer counts into ONE double chain, χ²
    * df = k−1 verdict off the fixed literals (3.841459 / 5.991465;
    * k outside 2..3 refuses with NULL, the friedman-ladder rule).
    *
    * Degenerate contract: an arm with zero rows simply isn't a
    * column (k shrinks); all values equal (above-row total 0) nulls
    * χ² via try_divide — never a fabricated verdict.
    *
    * Shape: ONE map-combinable (type, value, arm) fact aggregate;
    * the cumulative window rides the type-partitioned value grid;
    * the median frame (≤|types| rows) broadcasts back; everything
    * after is arithmetic on the ≤|types|×3 frame. */
  def moodMedianOf(events: DataFrame): DataFrame = {
    val grid = events
      .select(col("event_type"),
        Behavior.cents(col("value")).as("vc"),
        Behavior.arm3(col("user_id")).as("arm"))
      .groupBy("event_type", "vc", "arm")
      .agg(count(lit(1)).as("c"))
    val byTypeVal = grid.groupBy("event_type", "vc")
      .agg(sum("c").as("tc"))
      .withColumn("cum", sum("tc").over(
        Window.partitionBy("event_type").orderBy("vc")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("tc").over(Window.partitionBy("event_type")))
    val med = byTypeVal
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("event_type")
      .agg(min("vc").as("med"), max("n").as("n"))
    val perArm = grid
      .join(broadcast(med), "event_type")
      .groupBy("event_type", "arm")
      .agg(sum("c").as("na"),
        sum(when(col("vc") > col("med"), col("c")).otherwise(0L)).as("aa"),
        max("med").as("med"), max("n").as("n"))
    perArm
      .withColumn("atot", sum("aa").over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max("n").as("n"), max("med").as("median_cents"),
        count(lit(1)).as("k_arms"),
        max("atot").as("atot"),
        sum(expr(
          """try_divide(
            |  (CAST(aa AS DOUBLE)
            |    - CAST(atot AS DOUBLE) * na / CAST(n AS DOUBLE))
            |  * (CAST(aa AS DOUBLE)
            |    - CAST(atot AS DOUBLE) * na / CAST(n AS DOUBLE)),
            |  CAST(atot AS DOUBLE) * na / CAST(n AS DOUBLE))
            |+ try_divide(
            |  (CAST(na - aa AS DOUBLE)
            |    - CAST(n - atot AS DOUBLE) * na / CAST(n AS DOUBLE))
            |  * (CAST(na - aa AS DOUBLE)
            |    - CAST(n - atot AS DOUBLE) * na / CAST(n AS DOUBLE)),
            |  CAST(n - atot AS DOUBLE) * na / CAST(n AS DOUBLE))""".stripMargin))
          .as("chi2_raw"))
      .select(col("event_type"), col("n"), col("median_cents"),
        col("k_arms"),
        // SUM skips NULL terms in both engines, so an all-equal type
        // (atot = 0: every above-expected count zero) must refuse
        // EXPLICITLY — the try_divide nulls alone would silently sum
        // the surviving half-terms into a fabricated χ².
        when(col("atot") === 0L || col("atot") === col("n"),
          lit(null).cast("double"))
          .otherwise(TextF.round6HalfUp(col("chi2_raw"))).as("chi2"))
      .withColumn("significant",
        when(col("chi2").isNull, lit(null).cast("boolean"))
          .otherwise(when(col("k_arms") === 2L, col("chi2") > 3.841459)
            .otherwise(when(col("k_arms") === 3L, col("chi2") > 5.991465)
              .otherwise(lit(null).cast("boolean")))))
      .orderBy("event_type")
  }

  /** Cox–Stuart trend test per event type on daily revenue — the
    * sign test bent into a trend detector (pair day i with day
    * i + ⌈n/2⌉ and ask which half is bigger; [[mannKendallOf]] reads
    * ALL O(n²) pairs for power, Cox–Stuart reads n/2 INDEPENDENT
    * pairs — the five-line answer whose verdict survives any
    * monotone transform of the metric): daily totals on the exact
    * micro grid, the middle day of an odd series drops (standard),
    * tied pairs drop and are counted, z = (S⁺ − S⁻)/√(S⁺ + S⁻) with
    * |z| > 1.959964 mapping to increasing/decreasing/none.
    *
    * Shape: ONE (type, day) fact aggregate; the half-pairing is a
    * map-side pair index on the calendar-bounded daily frame (half
    * label + position arithmetic — no self-join, the frame never
    * scans twice), one bounded per-type fold. */
  def coxStuartOf(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy("day")
    val daily = Behavior.daily(events,
      Behavior.micro(col("value")).as("qv"))(sum("qv").as("qrev"))
      .withColumn("rn", row_number().over(byType))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("event_type")))
      // c = ⌈n/2⌉ = (n+1) div 2: first half rn ≤ n div 2 (odd middle
      // drops), second half rn > c; pair index i = rn or rn − c.
      .withColumn("half",
        when(col("rn") <= expr("nn div 2"), 1L)
          .when(col("rn") > expr("(nn + 1) div 2"), 2L))
      .filter(col("half").isNotNull)
      .withColumn("i",
        when(col("half") === 1L, col("rn"))
          .otherwise(col("rn") - expr("(nn + 1) div 2")))
    daily
      .groupBy("event_type", "i")
      .agg(max(when(col("half") === 1L, col("qrev"))).as("x1"),
        max(when(col("half") === 2L, col("qrev"))).as("x2"))
      .filter(col("x1").isNotNull && col("x2").isNotNull)
      .groupBy("event_type")
      .agg(sum(when(col("x2") > col("x1"), 1L).otherwise(0L)).as("s_plus"),
        sum(when(col("x2") < col("x1"), 1L).otherwise(0L)).as("s_minus"),
        sum(when(col("x2") === col("x1"), 1L).otherwise(0L)).as("n_ties"))
      .filter(col("s_plus") + col("s_minus") > 0L)
      .select(col("event_type"), col("s_plus"), col("s_minus"),
        col("n_ties"),
        TextF.round6HalfUp(
          (col("s_plus") - col("s_minus")).cast("double") /
            sqrt((col("s_plus") + col("s_minus")).cast("double"))).as("z"))
      .withColumn("trend",
        when(col("z") > 1.959964, lit("increasing"))
          .when(col("z") < -1.959964, lit("decreasing"))
          .otherwise(lit("none")))
      .orderBy("event_type")
  }

  /** Tukey median polish of the (event-type × weekday) revenue table
    * (Tukey '77 — the ROBUST twin of
    * [[EventAnalytics.seasonalDecomposeOf]]'s mean-based additive
    * decomposition: one whale Saturday drags a mean weekday effect,
    * the median sweep shrugs it off): two full sweeps of alternating
    * row/column lower-median extraction, with the effect-vector
    * median folded into the overall term at each step so the
    * identity value = overall + type_effect + weekday_effect +
    * residual holds EXACTLY after every step (spec-asserted). The
    * table is 5 types × 7 weekdays — both odd, so every median is a
    * grid ELEMENT: the whole polish is integer-exact on micro
    * revenue, no halves anywhere (lower-median convention documented
    * for even counts on other corpora).
    *
    * Shape: ONE map-combinable fact aggregate to the ≤|types|×7
    * frame; the sweeps are collect-sort medians over ≤7-element
    * groups on that bounded frame — cost is independent of fact
    * size by construction. */
  def medianPolishOf(events: DataFrame, sweeps: Int = 2): DataFrame = {
    require(sweeps >= 1 && sweeps <= 4, s"sweeps in [1,4], got $sweeps")
    def lowerMed(c: Column): Column =
      element_at(sort_array(collect_list(c)),
        ((size(collect_list(c)) + 1) / 2).cast("int"))
    var g = events
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .as("weekday"),
        Behavior.micro(col("value")).as("qv"))
      .groupBy("event_type", "weekday")
      .agg(sum("qv").as("v"))
      .select(col("event_type"), col("weekday").cast("long").as("weekday"),
        col("v"), col("v").as("res"), lit(0L).as("re"), lit(0L).as("ce"),
        lit(0L).as("ov"))
      // the grid is multi-referenced by every sweep step (median
      // extraction + join-back): checkpoint so the FACT scan runs
      // once and each step reads the 35-row RDD (PlanSpec pins one
      // scan; the uncheckpointed form planned six)
      .localCheckpoint(false)
    for (_ <- 1 to sweeps) {
      // row step: extract type medians from residuals; fold the
      // weekday-effect vector's median into the overall term
      val rm = g.groupBy("event_type").agg(lowerMed(col("res")).as("rm"))
      g = g.join(broadcast(rm), "event_type")
        .select(col("event_type"), col("weekday"), col("v"),
          (col("res") - col("rm")).as("res"),
          (col("re") + col("rm")).as("re"), col("ce"), col("ov"))
      val mc = g.groupBy("weekday").agg(max("ce").as("cev"))
        .agg(lowerMed(col("cev")).as("mc"))
      g = g.crossJoin(broadcast(mc))
        .select(col("event_type"), col("weekday"), col("v"), col("res"),
          col("re"), (col("ce") - col("mc")).as("ce"),
          (col("ov") + col("mc")).as("ov"))
      // column step: symmetric
      val cm = g.groupBy("weekday").agg(lowerMed(col("res")).as("cm"))
      g = g.join(broadcast(cm), "weekday")
        .select(col("event_type"), col("weekday"), col("v"),
          (col("res") - col("cm")).as("res"), col("re"),
          (col("ce") + col("cm")).as("ce"), col("ov"))
      val mr = g.groupBy("event_type").agg(max("re").as("rev"))
        .agg(lowerMed(col("rev")).as("mr"))
      g = g.crossJoin(broadcast(mr))
        .select(col("event_type"), col("weekday"), col("v"), col("res"),
          (col("re") - col("mr")).as("re"), col("ce"),
          (col("ov") + col("mr")).as("ov"))
        // per-sweep lineage cut: the next sweep re-references this
        // frame four times
        .localCheckpoint(false)
    }
    g.select(col("event_type"), col("weekday"),
        col("v").as("value_micro"), col("ov").as("overall_micro"),
        col("re").as("type_effect_micro"),
        col("ce").as("weekday_effect_micro"),
        col("res").as("residual_micro"))
      .orderBy("event_type", "weekday")
  }
}
