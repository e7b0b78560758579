package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextF.{round4HalfUp => r4, round6HalfUp => r6}
import graft.sources.Tables

/** User-behavior analytics over the event stream: ordered-step funnel
  * conversion, cohort retention, and a dimension-pivot report — the
  * product-analytics surface downstream of the reference's flat daily
  * reports (main.py:121-135 builds date×dimension reports; these
  * operators answer the follow-up questions those reports feed).
  *
  * Scale design (100 TB): every operator here aggregates FIRST on
  * user_id or day — the per-user/per-day frames that join afterwards
  * are orders of magnitude smaller than the fact scan, and every join
  * key matches the aggregation key, so AQE picks broadcast vs shuffle
  * from observed sizes. No window function spans more than one user's
  * events; no operator collects to the driver.
  */
object Behavior {

  /** Ordered three-step funnel (view → click → purchase): a user
    * converts step k only with an event STRICTLY after their step-k-1
    * time. Per-step reach is computed with chained min-aggregates —
    * each step's frame is keyed and shuffled on user_id and shrinks
    * monotonically, so the chain is three small hash aggregates, not a
    * per-user sort. Timestamps compare as exact integer microseconds.
    */
  def funnelStepsOf(events: DataFrame): DataFrame =
    funnelOf(events, t => col("us") > col(t))

  /** The ordered three-step funnel, where a step-k event counts when
    * `after(t)` holds against the previous step's time column `t`:
    * chained user-keyed min-aggregates, then per-step reach and the
    * conversion vs step 1. The conversion is floor-form rounded
    * (cf. TextF.round4HalfUp) so a halfway double rounds identically
    * in every engine; base = 0 (no step-1 events at all) is pinned to
    * 0.0 — unguarded, Spark's 0/0 is NaN while SQL engines yield
    * NULL, and floor(NaN) masks it as a bogus 0 anyway. base comes
    * from a window over the SAME 3-row frame — re-filtering `rows`
    * would embed the whole three-aggregate funnel DAG a second time
    * in the plan. */
  private def funnelOf(events: DataFrame, after: String => Column): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(after("t1"))
      .groupBy("user_id").agg(min("us").as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(after("t2"))
      .groupBy("user_id").agg(min("us").as("t3"))
    val counts = Seq(("view", 1, v), ("click", 2, c), ("purchase", 3, p))
    val rows = counts.map { case (name, ord, df) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(name).as("step"), lit(ord).as("ord"), col("users"))
    }.reduce(_.unionAll(_))
    val whole = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    rows
      .withColumn("base", max(when(col("ord") === 1, col("users"))).over(whole))
      .select(col("step"), col("ord"), col("users"),
        convPct(col("users"), col("base")).as("conv_pct"))
      .orderBy("ord")
  }

  /** A funnel step's conversion vs step 1: users / base in percent,
    * floor-form rounded to 2 dp, and 0.0 when base is 0 (see
    * [[funnelOf]]). */
  private[graft] def convPct(users: Column, base: Column): Column =
    when(base === 0, lit(0.0)).otherwise(
      floor(users.cast("double") / base.cast("double") * 100 * 100 + 0.5)
        / 100)

  /** Conversion-window funnel — [[funnelStepsOf]] with a deadline:
    * step k counts only when it lands strictly after step k−1 AND
    * within `windowMinutes` of it (the attribution-window semantics
    * every marketing funnel actually uses; the unbounded funnel
    * overstates conversion by crediting a purchase weeks later).
    * Greedy earliest-qualifying chain: t₁ = first view, t₂ = first
    * click in (t₁, t₁+W], t₃ = first purchase in (t₂, t₂+W] — the
    * same chained min-aggregate shape as the unbounded funnel (each
    * frame keyed and shuffled on user_id, shrinking monotonically),
    * with the deadline as one extra pushable predicate. Exact integer
    * microseconds; no windows, no sorts.
    *
    * Greedy is a CHOICE with consequences worth stating: a user whose
    * first click is quick but whose purchase follows the SECOND click
    * within ITS window counts at step 2, not step 3 (earliest-
    * qualifying ≠ any-qualifying-path). The alternative — existential
    * search over all step chains — is a per-user quadratic join; the
    * greedy chain is what product funnels ship. */
  def funnelWindowedOf(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    require(windowMinutes > 0, s"windowMinutes must be positive, got $windowMinutes")
    val w = windowMinutes.toLong * 60L * 1000000L
    funnelOf(events, t => col("us") > col(t) && col("us") <= col(t) + w)
  }

  /** Cohort retention: users are cohorted by their first active day;
    * for offsets 0..7 count how many of each cohort were active again
    * exactly `offset` days later. Activity is de-duplicated to
    * (user, day) BEFORE the join, so the joined frame is bounded by
    * users × active-days, not by raw events.
    */
  def cohortRetentionOf(events: DataFrame, maxOffset: Int = 7): DataFrame = {
    require(maxOffset >= 0, s"maxOffset must be >= 0, got $maxOffset")
    val act = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    // Cohort day as a window over the deduped activity, not an
    // aggregate joined back (which re-planned the distinct — no
    // cross-branch CSE in Catalyst).
    act
      .withColumn("cohort_day", min("day").over(Window.partitionBy("user_id")))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset").between(0, maxOffset))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Cohort LTV curve: cumulative revenue per cohort user by account
    * age — [[cohortRetentionOf]] asks "who comes back", this asks
    * "what are they worth by day N", the payback-period read that
    * prices acquisition spend. Cohort = first active day; revenue on
    * the exact micro grid per (cohort, age) cell; the running LTV is
    * an integer cumsum over the bounded (days × offsets) frame
    * divided once per row by the cohort's FIXED user count (day-0
    * size — the denominator must not shrink with churn, or the curve
    * reads retention twice).
    *
    * Shape: one user-keyed window finds cohorts (the deduped-activity
    * trick of [[cohortRetentionOf]] — no aggregate joined back); the
    * (cohort, age) aggregate is the only other fact-sized shuffle;
    * cumsum + size join run on bounded frames. */
  def cohortLtvOf(events: DataFrame, maxOffset: Int = 7): DataFrame = {
    require(maxOffset >= 0, s"maxOffset must be >= 0, got $maxOffset")
    val aged = events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        micro(col("value")).as("qv"))
      .withColumn("cohort_day", min("day").over(Window.partitionBy("user_id")))
      .withColumn("age", datediff(col("day"), col("cohort_day")))
      .filter(col("age").between(0, maxOffset))
    val cells = aged.groupBy("cohort_day", "age")
      .agg(sum("qv").as("rev_q"))
    val sizes = aged.filter(col("age") === 0)
      .groupBy("cohort_day")
      .agg(countDistinct("user_id").as("n_cohort"))
    cells
      .withColumn("cum_q", sum("rev_q").over(Window.partitionBy("cohort_day")
        .orderBy("age").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(sizes), "cohort_day") // bounded: one row per day
      .select(col("cohort_day"), col("age"), col("n_cohort"),
        graft.functions.TextF.microsTo4dp(col("rev_q")).as("revenue"),
        graft.functions.TextF.microsTo4dp(
          expr("cum_q div n_cohort")).as("cum_ltv_per_user"))
      .orderBy("cohort_day", "age")
  }

  /** Day × event-type pivot: one row per day, one value column per
    * event type (the AdMob-style wide report; save_CSV.py:104-189
    * emits the long form this pivots). Event types are an explicit
    * list, so the pivot is a single pass — no extra distinct-values
    * scan and a deterministic column set. Sums are quantized to
    * integer micro-units before aggregation (floor(x*1e6+0.5)) so the
    * result is independent of partitioning and addition order.
    */
  def pivotReportOf(events: DataFrame,
                    types: Seq[String] = Seq("click", "error", "purchase", "signup", "view")): DataFrame = {
    val q = events.select(to_date(col("ts")).as("day"), col("event_type"),
      micro(col("value")).as("qv"))
    val wide = q.groupBy("day").pivot("event_type", types).agg(sum(col("qv")))
    val filled = types.foldLeft(wide) { (df, t) =>
      df.withColumn(t,
        graft.functions.TextF.microsTo4dp(coalesce(col(t), lit(0L))))
    }
    filled.orderBy("day")
  }

  /** First-order event-transition matrix: counts and row-normalized
    * probabilities of (previous event type → event type) per user
    * stream, ordered by exact microseconds with event_id as the
    * unique tiebreak (lag over equal timestamps would otherwise be
    * nondeterministic). One user-keyed shuffle feeds the lag window;
    * the transition aggregate then shuffles only (5×5-bounded)
    * type-pair rows, and the row totals come from an unordered window
    * over that tiny frame. */
  def eventTransitionsOf(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val pairs = e.withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
    pairs
      .withColumn("row_total", sum("n").over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("event_type"), col("n"),
        graft.functions.TextF.round4HalfUp(
          col("n").cast("double") / col("row_total").cast("double")).as("p"))
      .orderBy("prev_type", "event_type")
  }

  /** Markov next-event prediction backtest — does yesterday's
    * transition matrix actually predict tomorrow's behavior, the
    * out-of-sample test [[eventTransitionsOf]] (row 85) never runs:
    * train the argmax next-type rule per current type on the
    * pre-split period (ties → lexicographically smallest, the
    * deterministic convention), score it on POST-split consecutive
    * pairs (both events after the split), against the
    * always-predict-the-global-top-type baseline — a Markov model
    * that can't beat the marginal isn't a model. Accuracy in exact
    * ppm; every test pair's source type is covered by construction
    * (the type vocabulary is closed).
    *
    * Shape: two user-keyed lag windows (train and test periods share
    * the partitioning), bounded |types|² matrices, 1-row broadcasts
    * for the baseline and the fold. */
  def markovAccuracyOf(events: DataFrame,
                       splitDay: String = "2024-01-16"): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      (col("ts") < lit(splitDay).cast("timestamp")).as("in_train"))
    def pairsOf(side: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      e.filter(side(col("in_train")))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
    val trainCounts = pairsOf(identity)
      .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // rule + baseline read it
    val rule = trainCounts
      .withColumn("rn", row_number().over(Window.partitionBy("prev_type")
        .orderBy(col("n").desc, col("event_type"))))
      .filter(col("rn") === 1)
      .select(col("prev_type"), col("event_type").as("predicted"))
    val top = trainCounts.groupBy("event_type").agg(sum("n").as("n"))
      .orderBy(col("n").desc, col("event_type")).limit(1)
      .select(col("event_type").as("global_top"))
    pairsOf(c => !c)
      .join(broadcast(rule), "prev_type") // |types| rows
      .crossJoin(broadcast(top))          // 1 row
      .agg(count(lit(1)).as("n_test_pairs"),
        sum(when(col("event_type") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(when(col("event_type") === col("global_top"), 1L).otherwise(0L))
          .as("n_baseline"))
      .select(col("n_test_pairs"), col("n_correct"),
        expr("(n_correct * 1000000) div n_test_pairs").as("accuracy_ppm"),
        expr("(n_baseline * 1000000) div n_test_pairs").as("baseline_ppm"),
        (col("n_correct") > col("n_baseline")).as("beats_marginal"))
  }

  /** Markov-chain (removal-effect) attribution (Anderl et al. '14 —
    * the data-driven alternative to rows 33/271's positional models:
    * last-touch crowns the closer, linear splits evenly; this asks
    * the counterfactual "how much conversion DISAPPEARS if the
    * channel vanishes?"): user journeys truncated at the FIRST
    * purchase become a first-order chain (START → touches →
    * purchase | NULL), absorption-into-purchase probability is
    * iterated `iterations` steps (the k-step contract of
    * [[Graph.pagerankOf]] — fixed, oracle-unrolled), then each
    * channel is knocked out (its inbound edges re-route to NULL, its
    * outbound rows drop) and re-absorbed; removal_effect =
    * (p − p_removed)/p, shares normalize effects to 1.
    *
    * Arithmetic is INTEGER end to end: absorption mass on the nano
    * grid with one `Σ n·pq div n_from` integral division per state
    * per step (decimal(38,0) products — nano mass × fact-scale
    * transition counts crosses int64), effects/shares in exact ppm.
    * Bit-equal in any engine and partitioning; no doubles anywhere.
    *
    * Shape: ONE user-keyed fact pass (cutoff min + lag/lead ride one
    * window spec) to the (from, to) count frame — bounded by
    * (types+1)², like row 85. Everything after — the ≤
    * (channels+1)-variant knockout expansion (a deliberate bounded
    * crossJoin), the k-step iteration, the 1-row base/total
    * broadcasts — runs on constant-size frames with per-step lazy
    * checkpoints. */
  def markovAttributionOf(events: DataFrame,
                          iterations: Int = 12): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val byU = Window.partitionBy("user_id")
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val kept = events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("pk", when(col("event_type") === "purchase",
        struct(col("us"), col("event_id"))))
      .withColumn("cut", min("pk").over(byU))
      .filter(col("cut").isNull ||
        struct(col("us"), col("event_id")) <= col("cut"))
    val stepped = kept
      .withColumn("prev", lag("event_type", 1).over(w))
      .withColumn("nxt", lead("event_type", 1).over(w))
    val trans = stepped
      .select(coalesce(col("prev"), lit("START")).as("from"),
        col("event_type").as("to"))
      .union(stepped
        .filter(col("nxt").isNull && col("event_type") =!= "purchase")
        .select(col("event_type").as("from"), lit("NULL").as("to")))
      .groupBy("from", "to").agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val channels = trans.select(col("from").as("removed"))
      .filter(col("removed") =!= "START").distinct()
    val variants = channels
      .union(events.sparkSession.range(1)
        .select(lit("__none").as("removed")))
      .localCheckpoint(false)
    val tv = trans.crossJoin(variants) // bounded: (types+1)² × (types+1)
      .filter(col("from") =!= col("removed"))
      .select(col("removed"), col("from"),
        when(col("to") === col("removed"), lit("NULL"))
          .otherwise(col("to")).as("to"),
        col("n"))
      .groupBy("removed", "from", "to").agg(sum("n").as("n"))
      // bounded-frame window: parallelism = variants × states, fine
      .withColumn("n_from",
        sum("n").over(Window.partitionBy("removed", "from")))
      .localCheckpoint(false)
    val absorbing = variants
      .select(col("removed"), lit("purchase").as("state"),
        lit(1000000000L).as("pq"))
      .union(variants.select(col("removed"), lit("NULL").as("state"),
        lit(0L).as("pq")))
      .localCheckpoint(false)
    var p = tv.select(col("removed"), col("from").as("state")).distinct()
      .select(col("removed"), col("state"), lit(0L).as("pq"))
      .union(absorbing)
      .localCheckpoint(false)
    for (_ <- 1 to iterations) {
      p = tv
        .join(p.select(col("removed"), col("state").as("to"), col("pq")),
          Seq("removed", "to"))
        .groupBy("removed", "from")
        .agg(expr(s"CAST(SUM(CAST(n AS $Dec) * pq)" +
          s" div MAX(CAST(n_from AS $Dec)) AS BIGINT)").as("pq"))
        .select(col("removed"), col("from").as("state"), col("pq"))
        .union(absorbing)
        .localCheckpoint(false)
    }
    val pStart = p.filter(col("state") === "START")
      .select(col("removed"), col("pq"))
    val base = pStart.filter(col("removed") === "__none")
      .select(col("pq").as("base_q"))
    val out = pStart.filter(col("removed") =!= "__none")
      .crossJoin(broadcast(base)) // 1 row by construction
      .select(col("removed").as("channel"),
        expr("base_q div 1000").as("conv_ppm_base"),
        expr("pq div 1000").as("conv_ppm_removed"),
        expr("CAST(((base_q - pq) * 1000000) div nullif(base_q, 0)" +
          " AS BIGINT)").as("removal_effect_ppm"))
    val tot = out.agg(sum("removal_effect_ppm").as("re_total"))
    out.crossJoin(broadcast(tot)) // 1 row by construction
      .select(col("channel"), col("conv_ppm_base"),
        col("conv_ppm_removed"), col("removal_effect_ppm"),
        expr("CAST((removal_effect_ppm * 1000000)" +
          " div nullif(re_total, 0) AS BIGINT)").as("share_ppm"))
      .orderBy("channel")
  }

  /** Exact Shapley-value attribution (Shapley '53 via the simplified
    * coalition game of Dalessandro '12 — the method behind Google's
    * data-driven attribution; the FOURTH model closing the family:
    * positional rows 33/271/312 assume a sharing rule, row 309 a
    * Markov walk, Shapley derives shares from the cooperative-game
    * axioms): the characteristic value v(S) = observed conversion
    * rate of users whose touched-channel set is EXACTLY S (unobserved
    * coalitions read 0 — the estimator's standard convention,
    * documented), and φ_c = Σ_{S ∌ c} |S|!(n−1−|S|)!/n! ·
    * (v(S∪c) − v(S)). The channel list is an EXPLICIT parameter (the
    * row-75 pivot explicit-value-list contract) — the 2ⁿ coalition
    * frame must be a compile-time-bounded constant, and n ≤ 8 is
    * enforced.
    *
    * Arithmetic is INTEGER end to end: v in exact ppm by integral
    * division, factorial weights pre-multiplied by n! (6/2/2/6 at
    * n = 4), φ·n! summed as integers and divided once — bit-equal
    * anywhere; φ can be negative (a channel whose presence predicts
    * WORSE conversion) and the signed value is published, not
    * clamped.
    *
    * Shape: [[markovAttributionOf]]'s one user-keyed journey pass
    * (truncate at first purchase, bit_or the channel mask, max the
    * conversion flag) → a 2ⁿ-row coalition frame; the Shapley sum is
    * a (2ⁿ × n) bounded crossJoin + two bounded self-joins. */
  def shapleyAttributionOf(events: DataFrame,
      channels: Seq[String] = Seq("click", "error", "signup", "view"))
      : DataFrame = {
    require(channels.nonEmpty && channels.size <= 8,
      s"channels must be 1..8 explicit values, got $channels")
    require(channels.distinct == channels, s"duplicate channel: $channels")
    val sp = events.sparkSession
    import sp.implicits._
    val n = channels.size
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    val byU = Window.partitionBy("user_id")
    val kept = events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("pk", when(col("event_type") === "purchase",
        struct(col("us"), col("event_id"))))
      .withColumn("cut", min("pk").over(byU))
      .filter(col("cut").isNull ||
        struct(col("us"), col("event_id")) <= col("cut"))
    val bit = channels.zipWithIndex.map { case (c, i) =>
      when(col("event_type") === c, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _) // one event carries exactly one channel bit
    val vTab = kept
      .select(col("user_id"), bit.as("bit"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
      .groupBy("user_id")
      .agg(expr("bit_or(bit)").as("mask"), max("conv").as("converted"))
      .groupBy("mask")
      .agg(count(lit(1)).as("n_users"), sum("converted").as("n_conv"))
    val v = sp.range(1L << n).select(col("id").as("mask"))
      .join(vTab, Seq("mask"), "left")
      .select(col("mask"),
        coalesce(expr("CAST((n_conv * 1000000) div n_users AS BIGINT)"),
          lit(0L)).as("v_ppm"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
      .localCheckpoint(false)
    val chDf = channels.zipWithIndex
      .map { case (c, i) => (c, 1L << i) }.toDF("channel", "bit")
    val wCase = channels.indices.map { s =>
      s"WHEN $s THEN ${fact(s) * fact(n - 1 - s)}"
    }.mkString("CASE bit_count(smask) ", " ", " END")
    val phi = v.select(col("mask").as("smask"), col("v_ppm").as("v_s"))
      .crossJoin(chDf) // 2ⁿ × n bounded
      .filter(expr("(smask & bit) = 0"))
      .join(v.select(col("mask").as("umask"), col("v_ppm").as("v_su")),
        expr("umask = (smask | bit)"))
      .groupBy("channel", "bit")
      .agg(sum(expr(s"($wCase) * (v_su - v_s)")).as("num"))
      // sign-split: Spark's `div` truncates toward zero, DuckDB's `//`
      // floors — negative φ would land one unit apart; divide the
      // magnitude and re-sign so both engines agree bit-for-bit.
      .select(col("channel"), col("bit"),
        expr(s"CAST(CASE WHEN num >= 0 THEN num div ${fact(n)}" +
          s" ELSE -((-num) div ${fact(n)}) END AS BIGINT)")
          .as("shapley_ppm"))
    val touched = v.crossJoin(chDf.select(col("channel").as("ch"),
        col("bit").as("cbit")))
      .filter(expr("(mask & cbit) != 0"))
      .groupBy(col("ch").as("channel"))
      .agg(sum("n_users").as("n_users_touched"))
    phi.join(touched, Seq("channel"), "left")
      .select(col("channel"),
        coalesce(col("n_users_touched"), lit(0L)).as("n_users_touched"),
        col("shapley_ppm"))
      .orderBy("channel")
  }

  /** Daily growth accounting (the Social Capital DAU decomposition —
    * the STRUCTURE behind a flat DAU line that rows 74/280/293 each
    * read one slice of): every active user-day is exactly one of
    * new (first day ever), retained (active yesterday too), or
    * resurrected (back after a gap), and churned(t) counts
    * yesterday's actives who didn't return — so
    * DAU(t) = new + retained + resurrected and the quick ratio
    * (new + resurrected)/churned says whether growth outruns leak.
    * Identities are structural, not rounded: the spec pins
    * DAU(t) = DAU(t−1) + new + resurrected − churned on consecutive
    * days.
    *
    * Shape: ONE (user, day) dedup shuffle; the lag/lead
    * classification rides the per-user window; day frames join
    * full-outer (a zero-DAU day can still owe churn) with the 1-row
    * max-day broadcast fencing the phantom churn row past the
    * corpus edge. quick_ratio nulls on churn-free days. */
  def growthAccountingOf(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val flagged = ud
      .withColumn("prev", lag("day", 1).over(w))
      .withColumn("nxt", lead("day", 1).over(w))
      .localCheckpoint(false) // two consumers: classes + churn
    val maxDay = ud.agg(max("day").as("max_day"))
    val classes = flagged
      .select(col("day"),
        when(col("prev").isNull, "new")
          .when(col("prev") === date_sub(col("day"), 1), "retained")
          .otherwise("resurrected").as("cls"))
      .groupBy("day")
      .agg(count(lit(1)).as("dau"),
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("new_users"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("resurrected"))
    val churn = flagged
      .filter(col("nxt").isNull || col("nxt") =!= date_add(col("day"), 1))
      .select(date_add(col("day"), 1).as("day"))
      .crossJoin(broadcast(maxDay)) // 1 row by construction
      .filter(col("day") <= col("max_day"))
      .groupBy("day").agg(count(lit(1)).as("churned"))
    classes.join(churn, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        coalesce(col("resurrected"), lit(0L)).as("resurrected"),
        coalesce(col("churned"), lit(0L)).as("churned"))
      .withColumn("quick_ratio",
        r4((col("new_users") + col("resurrected")).cast("double") /
          nullif(col("churned").cast("double"), lit(0.0))))
      .orderBy("day")
  }

  /** Dormancy-spell distribution — how long do users sleep before
    * [[growthAccountingOf]]'s `resurrected` brings them back? The
    * day-grain gap histogram (gap ≥ 2 days between consecutive
    * active days; 1 = consecutive = not dormancy) that SIZES a
    * win-back campaign's timing window — row 252 reads event-grain
    * return-time percentiles; this reads the user-day spell
    * distribution the growth decomposition implies. Exact ppm
    * shares by integral division against the 1-row spell total.
    *
    * Shape: one (user, day) dedup shuffle + the per-user lag; the
    * output frame is bounded by the calendar span. */
  def dormancySpellsOf(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val gaps = ud.withColumn("prev", lag("day", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(datediff(col("day"), col("prev")).cast("long").as("gap_days"))
      .filter(col("gap_days") >= 2)
    val tot = gaps.agg(count(lit(1)).as("n_total"))
    gaps.groupBy("gap_days").agg(count(lit(1)).as("n_spells"))
      .crossJoin(broadcast(tot)) // 1 row by construction
      .select(col("gap_days"), col("n_spells"),
        expr("CAST((n_spells * 1000000) div nullif(n_total, 0) AS BIGINT)")
          .as("share_ppm"))
      .orderBy("gap_days")
  }

  /** The event-type × time-of-week count cells `o`. The bucket is
    * PURE ARITHMETIC — `days-since-epoch % 7` (truncating %, the same
    * convention engine- and oracle-side) — not a calendar dayofweek()
    * whose week-start convention differs between engines; the bucket
    * is a category, so the phase is irrelevant. */
  private def towCells(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .as("tow"))
      .groupBy("event_type", "tow").agg(count(lit(1)).as("o"))

  /** The row (`rt`), column (`ct`) and grand (`n`) margins of the
    * cells as windows over the bounded |types × 7| frame — a separate
    * aggregate per margin would re-plan (and re-scan) the fact
    * aggregate once per consumer; Catalyst has no cross-branch CSE. */
  private def withMargins(cells: DataFrame): DataFrame =
    cells
      .withColumn("rt", sum("o").over(Window.partitionBy("event_type")))
      .withColumn("ct", sum("o").over(Window.partitionBy("tow")))
      .withColumn("n", sum("o").over(Window.partitionBy()))

  /** χ² contingency table for event-type × time-of-week association
    * (the EDA pass behind "does behavior depend on the day"), over
    * the arithmetic time-of-week buckets of `towCells`. Expected
    * counts and per-cell contributions `(O−E)²/E` are plain IEEE
    * arithmetic on exact integer totals (row·col products stay far
    * under 2^53), rounded floor-form at the edge. ONE count aggregate
    * scans the facts; the row/col/grand margins are windows over the
    * resulting |types × 7| cell frame (`withMargins`).
    */
  def chi2ContingencyOf(events: DataFrame): DataFrame = {
    val e = col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double")
    withMargins(towCells(events))
      .select(col("event_type"), col("tow"), col("o"),
        graft.functions.TextF.round4HalfUp(e).as("e"),
        graft.functions.TextF.round4HalfUp(
          (col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
          .as("contrib"))
      .orderBy("event_type", "tow")
  }

  /** Standardized (adjusted, Haberman '73) residuals of the
    * event-type × time-of-week table — [[chi2ContingencyOf]] reports
    * per-cell χ² contributions; the ADJUSTED residual
    * (O−E)/√(E·(1−rt/n)·(1−ct/n)) is the cell-level z-score that says
    * which cells DRIVE the association and in which direction (a
    * contribution is unsigned and uncalibrated; |resid| > 2 ≈ a 5%
    * cell alarm). Same one-aggregate + bounded-frame-margins shape as
    * the parent; the sqrt is one correctly-rounded IEEE op and the
    * multiply chain is left-associated identically in the oracle, so
    * the flag compares the SAME double on both engines. Degenerate
    * single-row/column tables null out via the nullif'd denominator
    * rather than dividing by zero. */
  def chi2ResidualsOf(events: DataFrame): DataFrame = {
    val n = col("n").cast("double")
    val e = col("rt").cast("double") * col("ct").cast("double") / n
    val resid = (col("o").cast("double") - e) /
      nullif(sqrt(e * (lit(1.0) - col("rt").cast("double") / n) *
        (lit(1.0) - col("ct").cast("double") / n)), lit(0.0))
    withMargins(towCells(events))
      .select(col("event_type"), col("tow"), col("o"),
        graft.functions.TextF.round4HalfUp(e).as("e"),
        graft.functions.TextF.round4HalfUp(resid).as("adj_residual"),
        (abs(resid) > 2).as("driving"))
      .orderBy("event_type", "tow")
  }

  /** The one experiment-arm assignment: the first 32 bits of
    * md5("ab:" ‖ user id), mod `arms` — engine-portable (both engines
    * implement md5 bit-identically), so every arm-split read here and
    * its oracle agree on each user's arm. */
  private def armOf(userId: Column, arms: Long): Column =
    pmod(conv(substring(md5(concat(lit("ab:"),
      userId.cast("string"))), 1, 8), 16, 10).cast("long"), lit(arms))

  /** The three-arm assignment [[anovaFOf]] uses — exposed so specs can
    * plant per-arm effects without reproducing the hash expression. */
  def arm3(userId: Column): Column = armOf(userId, 3L)

  /** The two-arm assignment ([[abTestOf]] / [[didReadoutOf]] /
    * [[qiniCurveOf]]'s), exposed for the same reason. */
  def arm2(userId: Column): Column = armOf(userId, 2L)

  /** A value on the exact micro grid: round-half-up to 1e-6, as a long. */
  private[graft] def micro(v: Column): Column =
    floor(v * 1e6 + lit(0.5)).cast("long")

  /** [[micro]]'s scalar twin, for JVM-side kernels and state machines:
    * the same long for every double whose micro multiple fits one. */
  private[graft] def micro(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong

  /** A value on the exact cent grid: round-half-up to 0.01, as a long. */
  private[graft] def cents(v: Column): Column =
    floor(v * 100 + lit(0.5)).cast("long")

  /** A value rounded down (floor, not half-up) onto the micro grid, as
    * a long — the grid of [[Report.earningsMicros]] and the TPC-H
    * moment reads, whose oracles floor the same way. */
  private[graft] def microDown(v: Column): Column =
    floor(v * 1e6).cast("long")

  /** A value rounded down (floor, not half-up) onto the cent grid, as
    * a long. */
  private[graft] def centsDown(v: Column): Column =
    floor(v * 100).cast("long")

  /** The event's item id: `props.$.k` as a long, rounded half away
    * from zero when fractional (`1.5` → 2, `1e3` → 1000), NULL when
    * absent, not a number or out of range. This is how the oracles'
    * `TRY_CAST(… AS BIGINT)` reads it; a bare cast to long would read
    * `1.5` and `1e3` as NULL. `try_cast`, because outside input can
    * carry any JSON there and an ANSI cast would fail the whole query
    * on one `{"k":"abc"}`. */
  private[graft] def itemOrNull: Column =
    round(get_json_object(col("props"), "$.k").try_cast("decimal(38,18)"))
      .try_cast("long")

  /** The event's item id, 0 when absent or not a number. */
  private[graft] def itemKey: Column = coalesce(itemOrNull, lit(0L))

  /** The per-(event_type, day) series: each event's `measure` columns
    * beside its type and calendar day, folded by `agg`/`aggs` per
    * (event_type, day). One map-combinable aggregate; the frame is
    * bounded by types × calendar days. The caller picks the grid
    * (a count, `cents` or `micro`) through its measure and aggregate. */
  private[graft] def daily(events: DataFrame, measure: Column*)(
      agg: Column, aggs: Column*): DataFrame =
    events
      .select(Seq(col("event_type"), to_date(col("ts")).as("day")) ++
        measure: _*)
      .groupBy("event_type", "day").agg(agg, aggs: _*)

  /** A `(key, day, value)` daily series on the dense calendar: every
    * key gets every day from the first to the last day of any key, an
    * absent day reading `value` 0 (a quiet day is an observation of 0).
    * Bounded by keys × day span. */
  private[graft] def calendarFilled(daily: DataFrame, key: String,
                                    value: String): DataFrame = {
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
    daily.select(key).distinct().crossJoin(broadcast(bounds))
      .select(col(key), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq(key, "day"), "left")
      .select(col(key), col("day"), coalesce(col(value), lit(0L)).as(value))
  }

  /** The report day (the last event day) as a 1-row broadcastable
    * frame, so no driver collect is needed. */
  private[operators] def reportDate(events: DataFrame): DataFrame =
    events.agg(max(to_date(col("ts"))).as("report_date"))

  /** (event_type, vq, arm): each event's micro-grid value beside its
    * user's arm under the `arms`-way `armOf` split. */
  private[operators] def armValues(events: DataFrame, arms: Long): DataFrame =
    events.select(col("event_type"), micro(col("value")).as("vq"),
      armOf(col("user_id"), arms).as("arm"))

  /** The exact-sum type: sums that can cross int64 widen to it (DuckDB
    * widens the same sums to HUGEINT). */
  private[graft] val Dec = "decimal(38,0)"

  /** n, Σv and Σv² of column `v` per `keys` group. The sums ride
    * decimal(38,0): v² on the micro grid crosses int64 the way
    * [[Robust.corrMatrixOf]] documents. */
  private def moments(frame: DataFrame, keys: Seq[String],
                      v: String): DataFrame =
    frame.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(v).cast(Dec)).as("s"),
        sum(expr(s"CAST($v AS $Dec) * $v")).as("ss"))

  /** The cells of a pivot on column `by`: level i, suffix "i". */
  private[operators] def levels(by: String, k: Int): Seq[(String, Column)] =
    (0 until k).map(i => i.toString -> (col(by) === i))

  /** Column `c` of the row in one pivot cell — the conditional
    * aggregate that pivots to a FIXED cell order, so a later double
    * combination runs in one deterministic sequence on both engines. */
  private[operators] def cellMax(c: String, cell: Column): Column =
    max(when(cell, col(c)))

  /** One row per `keys`: for each of `values` (outer) and each cell
    * (inner), the column `value ‖ suffix`. */
  private[operators] def pivot(frame: DataFrame, keys: Seq[String],
                               cells: Seq[(String, Column)],
                               values: String*): DataFrame = {
    val picks = for (v <- values; (sfx, cell) <- cells)
      yield cellMax(v, cell).as(v + sfx)
    frame.groupBy(keys.map(col): _*).agg(picks.head, picks.tail: _*)
  }

  /** One-way F per event type across three arms, from per-(type, arm)
    * n/s/ss: pivoted to fixed arm order, F = (SSB/2) / (SSW/(N−3)) as
    * one double sequence (three s²/n terms, two subtractions, one
    * division), published as `stat` beside the F(2, ∞) = 2.9957
    * α = 0.05 verdict. Types missing an arm, or with N ≤ 3, drop; zero
    * within-arm variance nulls the statistic via the nullif'd
    * denominator. */
  private def threeArmF(perArm: DataFrame, stat: String): DataFrame = {
    val wide = pivot(perArm, Seq("event_type"), levels("arm", 3), "n", "s", "ss")
      .filter(col("n0").isNotNull && col("n1").isNotNull && col("n2").isNotNull)
    def d(c: Column) = c.cast("double")
    val bigN = col("n0") + col("n1") + col("n2")
    val sb = d(col("s0")) * d(col("s0")) / d(col("n0")) +
      d(col("s1")) * d(col("s1")) / d(col("n1")) +
      d(col("s2")) * d(col("s2")) / d(col("n2"))
    val sTot = d(col("s0") + col("s1") + col("s2"))
    val ssb = sb - sTot * sTot / d(bigN)
    val ssw = d(col("ss0") + col("ss1") + col("ss2")) - sb
    val f = (ssb / lit(2.0)) / nullif(ssw / d(bigN - 3), lit(0.0))
    wide
      .filter(bigN > 3)
      .select(col("event_type"), col("n0"), col("n1"), col("n2"),
        graft.functions.TextF.round6HalfUp(f).as(stat),
        (f > lit(2.9957)).as("significant"))
      .orderBy("event_type")
  }

  /** One-way ANOVA F per event type across a THREE-arm deterministic
    * assignment (md5 mod 3 — [[abTestOf]]'s two-arm split generalized;
    * the read an experimenter runs when a test has more than one
    * treatment and pairwise z-tests would inflate α): F = (SSB/(k−1))
    * / (SSW/(N−k)) over per-event values on the exact micro grid.
    * All moments integer-exact — per-(type, arm) n/Σv/Σv² with
    * decimal(38,0) sums (v² crosses int64 the way [[Robust.corrMatrixOf]]
    * documents) — pivoted to FIXED arm order so the final double
    * combination (three s²/n terms, two subtractions, one division)
    * is computed in one deterministic sequence on both engines.
    * `significant` compares F against 2.9957, the asymptotic
    * F(2, ∞) = χ²₂/2 critical at α = 0.05 — exact for the fact-scale
    * N this targets (the literal-constant rule of
    * [[Robust.ksTestOf]]'s 1.358). Types missing an arm entirely are
    * dropped (the md5 split populates all three at any real scale);
    * zero within-arm variance nulls F via the nullif'd denominator.
    *
    * Shape: ONE map-combinable fact aggregate keyed by
    * (type, arm) — k·|types| rows; everything after is arithmetic on
    * that bounded frame. */
  def anovaFOf(events: DataFrame): DataFrame =
    threeArmF(moments(armValues(events, 3L), Seq("event_type", "arm"), "vq"),
      "f_stat")

  /** Brown–Forsythe variance-homogeneity test per event type across
    * the [[arm3]] assignment — the pre-check [[anovaFOf]] silently
    * assumes (ANOVA compares MEANS under equal variances; when one
    * arm's spread balloons — a treatment that destabilizes revenue
    * without moving its mean — F stays quiet and this fires):
    * Levene's W computed on |v − median_arm| with the MEDIAN center
    * (Brown-Forsythe '74's heavy-tail-robust choice), which is the
    * one-way ANOVA F over the transformed values — the same exact
    * moment machinery, the same F(2, ∞) = 2.9957 α = 0.05 literal.
    *
    * Exactness: medians are LOWER medians off the (type, arm, value)
    * micro-grid cumsum (rank (n+1) div 2 — both engines truncate
    * nonneg identically; no interpolation, so z = |v − m| stays an
    * exact integer); z-moments per arm ride decimal(38,0); the F
    * chain is [[anovaFOf]]'s own (the shared `threeArmF`).
    *
    * Shape: one (type, arm, value) map-combinable grid count — the
    * only fact-sized shuffle ([[Robust.ksTestOf]]'s vocabulary
    * argument); median, z-moments, pivot and F all ride the bounded
    * grid. */
  def brownForsytheOf(events: DataFrame): DataFrame = {
    val grid = armValues(events, 3L)
      .groupBy("event_type", "arm", "vq")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // the median pass and the z-moments both read it
    val cumW = Window.partitionBy("event_type", "arm").orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byArm = Window.partitionBy("event_type", "arm")
    val med = grid
      .withColumn("cum", sum("c").over(cumW))
      .withColumn("n", sum("c").over(byArm))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("event_type", "arm").agg(min("vq").as("m"))
    val perArm = grid.join(med, Seq("event_type", "arm"))
      .select(col("event_type"), col("arm"),
        abs(col("vq") - col("m")).as("z"), col("c"))
      .groupBy("event_type", "arm")
      .agg(sum("c").as("n"),
        sum(expr(s"CAST(z AS $Dec) * c")).as("s"),
        sum(expr(s"CAST(z AS $Dec) * z * c")).as("ss"))
    threeArmF(perArm, "w_stat")
  }

  /** Conversion-latency distribution: for each user's FIRST view and
    * first purchase STRICTLY after it (the funnel pairing of
    * [[funnelStepsOf]], two chained min-aggregates — never a per-user
    * sort), the view→purchase delay in seconds, summarized per
    * first-view day as p50/p90. Delays are exact integer microsecond
    * differences; percentile interpolation over exact integers is a
    * single `(a+b)·0.5` both engines compute identically
    * (cf. [[Robust.rollingMedianOf]]), and the µs→seconds division +
    * floor-form rounding happens once at the edge.
    */
  def conversionLatencyOf(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val p = e.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"), min("t1").as("t1"))
    p.select(col("user_id"),
      timestamp_micros(col("t1")).cast("date").as("view_day"),
      (col("t2") - col("t1")).as("delay_us"))
      .groupBy("view_day")
      .agg(count(lit(1)).as("n_conversions"),
        graft.functions.TextF.round4HalfUp(
          expr("percentile(delay_us, 0.5)") / lit(1e6)).as("p50_sec"),
        graft.functions.TextF.round4HalfUp(
          expr("percentile(delay_us, 0.9)") / lit(1e6)).as("p90_sec"))
      .orderBy("view_day")
  }

  /** Distinct (user, item) baskets, item = props.k (0 when absent). */
  private def baskets(events: DataFrame): DataFrame =
    events.select(col("user_id"),
      itemKey.as("item"))
      .distinct()

  /** Unordered item pairs (item_a < item_b) co-occurring in at least
    * `minSupport` baskets — `c12` users, counted by one user-keyed
    * basket self-join (quadratic in basket size, never in users) —
    * beside each item's own basket count `c1a` / `c1b` (the per-item
    * frame feeds both joins, so it is materialized once). */
  private def pairSupport(items: DataFrame, minSupport: Long): DataFrame = {
    val pairs = items.select(col("user_id"), col("item").as("item_a"))
      .join(items.select(col("user_id"), col("item").as("item_b")), Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minSupport)
    val c1 = items.groupBy("item").agg(count(lit(1)).as("c1"))
      .localCheckpoint(false)
    pairs
      .join(c1.select(col("item").as("item_a"), col("c1").as("c1a")), "item_a")
      .join(c1.select(col("item").as("item_b"), col("c1").as("c1b")), "item_b")
  }

  /** Item co-occurrence affinity ("users who touched A also touched
    * B"): 2-itemset support over per-user distinct item baskets, with
    * lift against the independent-items baseline — the market-basket
    * pass over the variant payload (the item id rides in `props.$.k`,
    * extracted with the report family's fallback chain). The
    * user-keyed self-join is quadratic in BASKET SIZE, not in users —
    * the standard Apriori cost. Baskets are distinct-deduped before
    * pairing and the support floor prunes the pair table; a corpus
    * with pathological baskets caps them upstream (the distinct +
    * bounded item vocabulary bound it here). The basket frame and the
    * per-item counts each feed two consumers → materialized once.
    * Lift parenthesization mirrors the oracle SQL exactly
    * (cf. [[CorpusStats.collocationsOf]]).
    */
  def itemAffinityOf(events: DataFrame, minSupport: Long = 5,
                     k: Int = 50): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val items = baskets(events).localCheckpoint(false)
    val users = items.agg(countDistinct("user_id").as("n_users")) // 1 row
    val lift = round(
      (col("c12").cast("double") / col("n_users").cast("double")) /
        ((col("c1a").cast("double") / col("n_users").cast("double")) *
          (col("c1b").cast("double") / col("n_users").cast("double"))),
      4)
    pairSupport(items, minSupport)
      .crossJoin(broadcast(users)) // 1 row by construction
      .select(col("item_a"), col("item_b"), col("c12"), lift.as("lift"))
      .orderBy(col("c12").desc, col("lift").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Frequent 3-itemsets with Apriori candidate pruning (Agrawal-
    * Srikant '94 level 3 — [[itemAffinityOf]] mines the pairs; the
    * triple level is where naive enumeration explodes and the Apriori
    * property starts paying): a triple can only be frequent if ALL
    * THREE of its pairs are, so the basket self-join chain is
    * semi-joined against the frequent-pair frame BEFORE the third
    * expansion and again after — candidates never materialize beyond
    * what level 2 already admitted. Identical output to the unpruned
    * count (the downward-closure property makes the prune
    * transparent, which is why the oracle can skip it), top `kTop`
    * by support with lexicographic ties.
    *
    * Shape: the user-keyed self-joins are quadratic/cubic in BASKET
    * size (distinct-deduped first), never in users — the standard
    * Apriori cost; the frequent-pair prune frame is support-bounded
    * and AQE-decided. Measured Θ(Σ C(basket,3)) exactly (×100
    * rehearsal: 114× for 100× users at unchanged basket size, §6) —
    * on the synthetic corpus baskets cover ~73 of a 100-item
    * catalog, so every pair is frequent and the prune cannot bite
    * (the dense-basket worst case that motivated FP-Growth). At
    * scale: set `minSupport` as a USER SHARE (e.g. 1% of distinct
    * users), not an absolute, and switch genuinely dense verticals
    * to an FP-Growth conditional-tree pass — the prune here is the
    * right shape for the sparse catalogs (10⁶+ items) that dominate
    * in practice. */
  def aprioriTriplesOf(events: DataFrame, minSupport: Long = 5,
                       kTop: Int = 30): DataFrame = {
    require(kTop > 0, s"kTop must be positive, got $kTop")
    // minSupport <= 0 would make every pair "frequent" and turn the
    // pruned self-join chain into the full cubic basket expansion.
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    // r17 optimization round: AQE right-sizes the distinct's output by
    // BYTES (a few MB → 1 partition), but every downstream row fans
    // out ×basket twice — the cubic expansion then ran as ONE task
    // (thread-dump verified: 1 RUNNABLE worker, 31 idle). Re-spread
    // the small frame to the session's parallelism before it becomes
    // the expansion's probe side; the round-robin shuffle is 36 k rows.
    val items = baskets(events)
      .repartition(events.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(false) // four consumers (three legs + pairs)
    val freqPairs = items.select(col("user_id"), col("item").as("pa"))
      .join(items.select(col("user_id"), col("item").as("pb")), Seq("user_id"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport)
      .select(col("pa"), col("pb"))
      // support-bounded; ONE semi-join consumer (the (a,b) gate below)
      // plus the eager count() sizing the broadcast decision — note
      // that count makes CONSTRUCTING this query run real jobs (a
      // plan-only context, e.g. ExplainAudit, executes the checkpoint
      // + count; accepted and documented, the alternative is a stats
      // hint the planner can't verify).
      .localCheckpoint(false)
    // r17 optimization round: the checkpointed freqPairs frame carries
    // no stats (ExistingRDD → defaultSizeInBytes), so the planner
    // sort-merge-joined the CUBIC candidate stream against it — three
    // full shuffles+sorts of the Θ(Σ C(basket,3)) expansion to probe a
    // support-bounded pair list. Count it (one cheap job on the
    // already-materialized checkpoint) and broadcast the semi-join
    // probe when it fits comfortably (≤2M pairs ≈ 32 MB hashed);
    // beyond that the shuffle path stands — the guard, not a
    // local-mode constant, is what ships to the cluster.
    val fpSmall = freqPairs.count() <= 2000000L
    def frequent(a: String, b: String)(df: DataFrame): DataFrame =
      df.join(if (fpSmall) broadcast(freqPairs) else freqPairs,
        col(a) === col("pa") && col(b) === col("pb"), "left_semi")
    val ab = items.select(col("user_id"), col("item").as("item_a"))
      .join(items.select(col("user_id"), col("item").as("item_b")), Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .transform(frequent("item_a", "item_b"))
    // r17 optimization round: the (a,c)/(b,c) prunes are NOT applied —
    // they probed every row of the Θ(Σ C(basket,3)) stream (2 × 31M
    // hash probes ≈ half the query at sf0.1) and only pre-filtered the
    // aggregate's input: any triple reaching `support >= minSupport`
    // has all three pairs frequent (downward closure), so the post-agg
    // support filter subsumes them row-for-row. The LOAD-BEARING prune
    // — (a,b) frequency gating the third expansion, the one that keeps
    // sparse-catalog candidate mass bounded — stays.
    val abc = ab
      .join(items.select(col("user_id"), col("item").as("item_c")), Seq("user_id"))
      .filter(col("item_b") < col("item_c"))
      .groupBy("item_a", "item_b", "item_c").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    abc.orderBy(col("support").desc, col("item_a"), col("item_b"),
        col("item_c"))
      .limit(kTop)
  }

  /** Frequent 3-itemsets via Spark ML's FP-Growth (Han '00; the
    * PFP-parallelized conditional-tree miner MLlib ships) — the
    * DENSE-basket scale path [[aprioriTriplesOf]]'s scaladoc points
    * at: FP-Growth never materializes the candidate space, so the
    * corpus where every pair is frequent (the Apriori worst case,
    * §6's ×100 measurement) costs a conditional-tree walk instead of
    * a Θ(Σ C(b,3)) join. Output contract IDENTICAL to the SQL
    * Apriori's size-3 slice — same columns, same support counts,
    * same top-k order — so the DuckDB oracle is shared verbatim and
    * the hash equality certifies engine-vs-ML agreement. minSupport
    * converts to FP-Growth's fractional form via (s − 0.5)/n so the
    * internal ceil lands on exactly the absolute floor `s`.
    *
    * Spark-first note: this is the deliberate "use the ML primitive
    * where Spark already ships one" counterpoint to the declarative
    * join chain — one basket aggregate feeds `ml.fpm.FPGrowth`, and
    * everything after its freqItemsets frame is plain DataFrame
    * algebra.
    *
    * MEASURED LIMIT: MLlib's FPGrowth has no itemset-SIZE cap — it
    * enumerates every frequent itemset and only then can the size-3
    * slice be taken. On ALL-event baskets (~49 of a 100-item
    * catalog) the frequent lattice reaches depth ~7 at sf0.1's
    * support share, ≈10¹⁰ itemsets — measured as a bench timeout,
    * where the Apriori chain (which enumerates ONLY level 3)
    * finishes in 8 s. The conditional-tree path wins on SPARSE
    * baskets (shallow lattices — the production shape), so the
    * REGISTERED query `fpgrowth_triples` mines the natural
    * market-basket slice — purchase events only (avg ~12.5 items/
    * basket, lattice depth ~3-4: item share ~12.5% ⇒ expected triple
    * support n·0.125³ ≈ s at the default floor, 4-sets mostly
    * infrequent) — and its DuckDB Apriori-join oracle certifies the
    * ML path's counts by hash. On dense verticals cap the lattice
    * via the support share before reaching for FP-Growth.
    * BehaviorSpec additionally certifies agreement with the Apriori
    * chain on a sparse fixture. */
  def fpgrowthTriplesOf(events: DataFrame, minSupport: Long = 5,
                        kTop: Int = 30): DataFrame = {
    require(kTop > 0, s"kTop must be positive, got $kTop")
    // minSupport <= 0 collapses the support prune AND sends the
    // fractional (s - 0.5) / n FPGrowth support negative.
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val baskets = events.select(col("user_id"),
      itemKey.as("item"))
      .groupBy("user_id")
      .agg(collect_set(col("item")).as("basket"))
      .localCheckpoint(false) // count + fit read it once
    val n = baskets.count().max(1L)
    val model = new org.apache.spark.ml.fpm.FPGrowth()
      .setItemsCol("basket")
      .setMinSupport((minSupport.toDouble - 0.5) / n.toDouble)
      .fit(baskets)
    val sorted = array_sort(col("items"))
    model.freqItemsets
      .filter(size(col("items")) === 3)
      .select(element_at(sorted, 1).cast("long").as("item_a"),
        element_at(sorted, 2).cast("long").as("item_b"),
        element_at(sorted, 3).cast("long").as("item_c"),
        col("freq").as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(col("support").desc, col("item_a"), col("item_b"),
        col("item_c"))
      .limit(kTop)
  }

  /** Item-to-item cosine neighbors from co-occurrence — the classic
    * "customers also touch" scorer (cos = c₁₂/√(c₁·c₂) over binary
    * user-item vectors; [[itemAffinityOf]]'s lift flags SURPRISING
    * pairs, cosine ranks USABLE neighbors — lift loves rare
    * coincidences, cosine normalizes both margins). Top `topN` per
    * item over the symmetric pair frame, ranked (cosine DESC,
    * neighbor) after 6-dp rounding so the order is grid-stable;
    * cosine's two sqrts are correctly-rounded IEEE on exact int64
    * counts.
    *
    * Shape: [[itemAffinityOf]]'s — distinct (user, item) checkpoint,
    * per-user pair join bounded by Σ|basket|², vocab-bounded count
    * frames, WindowGroupLimit ranker. */
  def itemCosineOf(events: DataFrame, minSupport: Long = 5,
                   topN: Int = 3): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val scored = pairSupport(baskets(events).localCheckpoint(false), minSupport)
      .select(col("item_a"), col("item_b"), col("c12"),
        graft.functions.TextF.round6HalfUp(col("c12").cast("double")
          / (sqrt(col("c1a").cast("double")) * sqrt(col("c1b").cast("double"))))
          .as("cosine"))
    scored.select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("c12"), col("cosine"))
      .union(scored.select(col("item_b"), col("item_a"),
        col("c12"), col("cosine")))
      .withColumn("rank", row_number().over(Window.partitionBy("item")
        .orderBy(col("cosine").desc, col("neighbor"))))
      .filter(col("rank") <= topN)
      .orderBy("item", "rank")
  }

  /** Lorenz concentration curve of revenue over users: per user-decile
    * (poorest→richest by total revenue, (revenue, user_id) tiebreak),
    * the decile's revenue share and the running cumulative share —
    * the curve behind [[EventAnalytics.giniConcentrationOf]]'s scalar
    * (Gini says HOW concentrated; the curve says WHERE — "the top
    * decile carries 40%" is an actionable shape, a Gini of 0.3
    * isn't). Shares in exact ppm by integer division on micro-grid
    * revenue; decile assignment via ntile on the per-user frame.
    *
    * Shape: one user-keyed aggregate at fact scale; the decile
    * assignment runs the two-phase global-rank decomposition
    * ([[graft.Scale.twoPhaseRank]] on the per-user frame + the
    * arithmetic ntile of [[graft.Scale.ntileFromRank]]) so no
    * user-scale window is single-partition; the only remaining
    * global windows (grand total + cumulative share) ride the
    * 10-row decile frame. */
  def lorenzCurveOf(events: DataFrame): DataFrame = {
    val perUser = events
      .select(col("user_id"),
        micro(col("value")).as("qv"))
      .groupBy("user_id").agg(sum("qv").as("rev"))
    val (ranked, total) = graft.Scale.twoPhaseRank(perUser,
      Seq(col("rev"), col("user_id")))
    ranked
      .withColumn("decile", graft.Scale.ntileFromRank("__rank", 10, total))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("rev").as("rev_q"))
      .withColumn("total", sum("rev_q").over(Window.partitionBy()))
      .withColumn("cum_q", sum("rev_q").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_users"),
        // decimal(38,0), not int64: decile micro-revenue × 1e6
        // overflows 2⁶³ at the ×100 rehearsal scale (caught there as
        // a SparkArithmeticException; DuckDB side rides HUGEINT)
        expr(s"CAST((CAST(rev_q AS $Dec) * 1000000) div total AS BIGINT)")
          .as("share_ppm"),
        expr(s"CAST((CAST(cum_q AS $Dec) * 1000000) div total AS BIGINT)")
          .as("cum_share_ppm"))
      .orderBy("decile")
  }

  /** Deterministic negative sampling for recommendation training: per
    * user, `k` items the user NEVER interacted with, pseudo-randomly
    * ranked by md5(user:item) — the contrastive counterpart every
    * implicit-feedback trainer (BPR, sampled softmax) pairs with the
    * positive stream. Content-keyed, so re-runs and repartitioning
    * draw the SAME negatives (the reproducible-batch property), and
    * per-user draws are independent (the hash mixes user and item).
    *
    * Shape: the distinct item catalog is CATALOG-bounded and
    * broadcasts; user × catalog expands only ‖users‖·‖catalog‖ before
    * the per-user top-k window prunes to k. Above
    * `prefilterCatalogMin` items the expansion hash-samples
    * candidates FIRST: filter md5(user:item) below a threshold sized
    * to `oversample`·k expected survivors per user — the SAME key
    * that ranks, so for any user with ≥ k surviving candidates the
    * sample provably CONTAINS the exact top-k (everything kept is
    * below the threshold, everything dropped above it); the rare
    * user left short re-draws on the exact path, so the two paths
    * return IDENTICAL rows (draw-equivalence,
    * BehaviorSpec-pinned). The filter rides the broadcast
    * nested-loop's join condition (nothing materializes), and the
    * downstream anti-join + rank window shuffle ~oversample·k rows
    * per user instead of ‖catalog‖. The bounded test catalog keeps
    * the exact path. */
  def negativeSamplesOf(events: DataFrame, k: Int = 5,
                        prefilterCatalogMin: Long = 200000L,
                        oversample: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(oversample > 0, s"oversample must be positive, got $oversample")
    val interactions = events.select(col("user_id"),
      itemKey.as("item"))
      .distinct()
      .localCheckpoint(false) // consumers: catalog + anti-join (×2 paths)
    val catalog = interactions.select(col("item")).distinct()
    val users = interactions.select(col("user_id")).distinct()
    val hCol = md5(concat(col("user_id").cast("string"), lit(":"),
      col("item").cast("string")))
    val byUser = Window.partitionBy("user_id").orderBy(col("h"), col("item"))
    def topK(cand: DataFrame): DataFrame = cand
      .withColumn("rank", row_number().over(byUser))
      .filter(col("rank") <= k)
      .select(col("user_id"), col("item"), col("rank"))
    def exactCandidates(us: DataFrame): DataFrame = us
      .crossJoin(broadcast(catalog))
      .withColumn("h", hCol)
      .join(interactions, Seq("user_id", "item"), "left_anti")
    val catalogSize = catalog.count() // 1-row action, catalog-bounded
    val out =
      if (catalogSize <= prefilterCatalogMin) topK(exactCandidates(users))
      else {
        // Threshold on the first 8 hex chars of the ranking hash:
        // keep h/2³² < oversample·k/‖catalog‖ (expected survivors per
        // user = oversample·k).
        val t = math.round(math.min(1.0,
          oversample.toDouble * k / catalogSize) * 4294967296.0)
        val cand = users.crossJoin(broadcast(catalog))
          .withColumn("h", hCol)
          .filter(conv(substring(col("h"), 1, 8), 16, 10).cast("long") < t)
          .join(interactions, Seq("user_id", "item"), "left_anti")
          .localCheckpoint(false) // counted (fallback gate) + ranked
        val enough = cand.groupBy("user_id").agg(count(lit(1)).as("__n"))
          .filter(col("__n") >= k).select("user_id")
        // Users with < k sampled survivors (incl. zero) re-draw exact:
        // the union is therefore bit-identical to the exact path.
        val short = users.join(enough, Seq("user_id"), "left_anti")
        topK(cand.join(enough, Seq("user_id")))
          .unionByName(topK(exactCandidates(short)))
      }
    out.orderBy("user_id", "rank")
  }

  /** The A/B conversion fold [[abTestOf]] and [[powerMdeOf]] read: a
    * user converts when they purchase ON THE REPORT DAY (the corpus
    * max date, a 1-row broadcast), then ONE 1-row conditional
    * aggregate gives n0, n1, conv0, conv1 over the [[arm2]] split. */
  private def reportDayArms(events: DataFrame): DataFrame = {
    val maxDay = reportDate(events)
    events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .crossJoin(broadcast(maxDay)) // 1 row by construction
      .select(col("user_id"),
        when(col("event_type") === "purchase" &&
          col("day") === col("report_date"), 1L).otherwise(0L).as("p"))
      .groupBy("user_id")
      .agg(max("p").as("converted"))
      .select(col("converted"), arm2(col("user_id")).as("arm"))
      .agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0L, col("converted")).otherwise(0L)).as("conv0"),
        sum(when(col("arm") === 1L, col("converted")).otherwise(0L)).as("conv1"))
  }

  /** Two-proportion z-test A/B readout: users hash into two arms
    * (md5-prefix parity — the engine-portable assignment every other
    * hash draw here uses), conversion = at least one purchase ON THE
    * REPORT DAY (the corpus max date — lifetime "ever purchased"
    * saturates to 100% on a long history and degenerates the test),
    * and the pooled-variance z-score decides whether the arms differ.
    * The one test every experimentation platform runs before the
    * CUPED machinery ([[cupedAdjustOf]]) is worth its complexity.
    * sqrt is IEEE-correctly-rounded (like the cosine path) so the
    * score is engine-exact; proportions and z round 4 dp half-up. A
    * degenerate slice (pooled p of exactly 0 or 1, or an empty arm)
    * reports z = NULL, never a division error.
    *
    * Shape: 1-row report-date broadcast, ONE user aggregate (max-flag
    * conversion), ONE conditional 1-row aggregate over both arms —
    * no other join anywhere. */
  def abTestOf(events: DataFrame): DataFrame = {
    val pPool = (col("conv0") + col("conv1")).cast("double") /
      (col("n0") + col("n1")).cast("double")
    reportDayArms(events)
      .select(col("n0"), col("n1"), col("conv0"), col("conv1"),
        r4(col("conv0").cast("double")
          / nullif(col("n0").cast("double"), lit(0.0))).as("p0"),
        r4(col("conv1").cast("double")
          / nullif(col("n1").cast("double"), lit(0.0))).as("p1"),
        r4((col("conv1").cast("double")
            / nullif(col("n1").cast("double"), lit(0.0)) -
            col("conv0").cast("double")
            / nullif(col("n0").cast("double"), lit(0.0))) /
          nullif(sqrt(pPool * (lit(1.0) - pPool) *
            (lit(1.0) / nullif(col("n0").cast("double"), lit(0.0)) +
             lit(1.0) / nullif(col("n1").cast("double"), lit(0.0)))),
            lit(0.0))).as("z"))
  }

  /** Minimum-detectable-effect design readout for the running A/B
    * (the experiment-DESIGN number every "the test read flat" debrief
    * needs before concluding anything: at these arm sizes and this
    * pooled conversion rate, what lift COULD the two-proportion test
    * even see at α = 0.05 / power 0.8? [[abTestOf]] reports the
    * verdict; this reports the instrument's resolution — a flat read
    * under an MDE of 4 points says nothing about a 2-point lift):
    * MDE = (z_{α/2} + z_β)·√(p̄(1−p̄)·(1/n₀ + 1/n₁)) with the fixed
    * literals 1.959964 / 0.841621 (the literal-constant rule — no
    * quantile function), published beside the observed |Δp| and the
    * `adequately_powered` flag |Δp| > MDE. Normal-approximation
    * caveat: valid when n·p̄ ≥ ~5 both arms, which any real scale
    * satisfies; p̄ ∈ {0, 1} (no variance) nulls via try_divide-style
    * guards.
    *
    * Shape: [[abTestOf]]'s own fold (the shared `reportDayArms`) —
    * 1-row report-date broadcast, ONE user aggregate, ONE 1-row
    * conditional aggregate; the MDE chain is map-side arithmetic on
    * that single row. */
  def powerMdeOf(events: DataFrame): DataFrame = {
    reportDayArms(events)
      .filter(col("n0") > 0 && col("n1") > 0)
      .select(col("n0"), col("n1"), col("conv0"), col("conv1"),
        r6(expr(
          """(1.959964D + 0.841621D)
            |* sqrt(CAST(conv0 + conv1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
            |  * (1.0D - CAST(conv0 + conv1 AS DOUBLE)
            |            / CAST(n0 + n1 AS DOUBLE))
            |  * (1.0D / CAST(n0 AS DOUBLE) + 1.0D / CAST(n1 AS DOUBLE)))"""
            .stripMargin)).as("mde"),
        r6(expr(
          """abs(CAST(conv1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            |  - CAST(conv0 AS DOUBLE) / CAST(n0 AS DOUBLE))""".stripMargin))
          .as("observed_diff"))
      // p̄ ∈ {0,1} → mde = 0.0 exactly: no detectable-effect claim
      .withColumn("mde", when(col("mde") === 0.0,
        lit(null).cast("double")).otherwise(col("mde")))
      .withColumn("adequately_powered",
        when(col("mde").isNull, lit(false))
          .otherwise(col("observed_diff") > col("mde")))
  }


  /** Cochran–Mantel–Haenszel stratified 2×2 test + MH common odds
    * ratio — the Simpson's-paradox-proof A/B readout the experiment
    * family lacked: [[abTestOf]] pools every user into one 2×2 (a
    * lurking activity↔assignment imbalance can fake or mask a lift);
    * this stratifies by activity band (fixed event-count cuts — the
    * synthetic stream holds events/user ≈ 66 across SFs, so the cuts
    * are scale-stable AND map-side: no global rank shuffle to build
    * terciles), tests the arm effect WITHIN bands, and pools evidence
    * across them. χ²_MH = (|Σaᵢ−ΣEᵢ|−½)²/ΣVᵢ (continuity-corrected,
    * clamped at 0), OR_MH = Σ(aᵢdᵢ/Tᵢ)/Σ(bᵢcᵢ/Tᵢ).
    *
    * Determinism: every per-stratum rational lands on the 1e-9
    * integer grid by DECIMAL(38,0) floor-division before summing
    * (E_nano, the V product chained through three divisions to stay
    * ≤10²⁷ at any stratum size, the two OR legs); the published χ²/OR
    * are ONE fixed double chain each off exact integers (the
    * [[cochranArmitageOf]] contract). Strata with T<2 drop (V
    * undefined). E/V nano sums publish as BIGINT — ≤3·10¹⁸ up to
    * ~10⁹ users/stratum, the documented headroom.
    *
    * Shape: ONE user aggregate (count + max-flag — map-combinable),
    * one 3-key cell aggregate, arithmetic on a ≤3-row frame. */
  def mantelHaenszelOf(events: DataFrame, cut1: Long = 62,
                       cut2: Long = 70): DataFrame = {
    require(cut1 < cut2, s"need cut1 < cut2, got $cut1/$cut2")
    val maxDay = reportDate(events)
    val users = events
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      .crossJoin(broadcast(maxDay)) // 1 row by construction
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        // lifetime MAX(purchase) is vacuous on this stream (every user
        // buys eventually — measured all-1s at sf0.01); report-day
        // conversion is [[abTestOf]]'s outcome and actually varies
        max(when(col("event_type") === "purchase" &&
          col("day") === col("report_date"), 1L).otherwise(0L)).as("conv"))
      .select(
        when(col("n_ev") <= cut1, 0L).when(col("n_ev") <= cut2, 1L)
          .otherwise(2L).as("stratum"),
        arm2(col("user_id")).as("arm"), col("conv"))
    val cells = users.groupBy("stratum").agg(
      sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("a"),
      sum(when(col("arm") === 1L, lit(1L) - col("conv")).otherwise(0L)).as("b"),
      sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("c"),
      sum(when(col("arm") === 0L, lit(1L) - col("conv")).otherwise(0L)).as("d"))
    val terms = cells
      .withColumn("t", col("a") + col("b") + col("c") + col("d"))
      .filter(col("t") >= 2)
      // each div stage re-casts to DECIMAL(38,0): Spark's IntegralDivide
      // narrows to BIGINT and the next ×n would overflow at extreme
      // stratum sizes; the staged form stays exact to ~10⁹ users/stratum
      .withColumn("e_nano",
        expr(s"(CAST(a + b AS $Dec) * (a + c) * 1000000000) div t"))
      .withColumn("v1",
        expr(s"(CAST(e_nano AS $Dec) * (c + d)) div t"))
      .withColumn("v_nano",
        expr(s"(CAST(v1 AS $Dec) * (b + d)) div (t - 1)"))
      .withColumn("ad_nano",
        expr(s"(CAST(a AS $Dec) * d * 1000000000) div t"))
      .withColumn("bc_nano",
        expr(s"(CAST(b AS $Dec) * c * 1000000000) div t"))
    terms.agg(count(lit(1)).as("n_strata"), sum("a").as("sum_a"),
        sum(col("e_nano").cast(Dec)).as("es"),
        sum(col("v_nano").cast(Dec)).as("vs"),
        sum(col("ad_nano").cast(Dec)).as("ads"),
        sum(col("bc_nano").cast(Dec)).as("bcs"))
      .select(col("n_strata"), col("sum_a"),
        col("es").cast("long").as("e_nano"),
        col("vs").cast("long").as("v_nano"),
        r6(col("ads").cast("double") /
          nullif(col("bcs").cast("double"), lit(0.0))).as("or_mh"),
        r6(expr(s"""CAST(greatest(abs(CAST(sum_a AS $Dec)
               |  * 1000000000 - es) - 500000000, 0) AS DOUBLE)""".stripMargin)
          * expr(s"""CAST(greatest(abs(CAST(sum_a AS $Dec)
               |  * 1000000000 - es) - 500000000, 0) AS DOUBLE)""".stripMargin)
          / nullif(col("vs").cast("double") * lit(1e9), lit(0.0)))
          .as("chi2_mh"))
      .withColumn("significant",
        when(col("chi2_mh").isNull, lit(false))
          .otherwise(col("chi2_mh") > 3.841459))
  }

  /** The two-arm mean/variance chain [[welchTestOf]] and
    * [[tostEquivalenceOf]] share: per-(type, arm) micro-grid
    * n/Σv/Σv² pivoted to fixed arm order, arms with n ≤ 1 dropped,
    * then per arm the mean m and the sample variance v as ONE
    * deterministic double sequence, textually identical in the
    * oracles. */
  private def twoArmMeanVar(events: DataFrame): DataFrame =
    pivot(moments(armValues(events, 2L), Seq("event_type", "arm"), "vq"),
        Seq("event_type"), levels("arm", 2), "n", "s", "ss")
      .filter(col("n0") > 1 && col("n1") > 1)
      .selectExpr("event_type", "n0", "n1",
        "CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0",
        "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1",
        """(CAST(ss0 AS DOUBLE)
          | - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
          |/ CAST(n0 - 1 AS DOUBLE)""".stripMargin + " AS v0",
        """(CAST(ss1 AS DOUBLE)
          | - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          |/ CAST(n1 - 1 AS DOUBLE)""".stripMargin + " AS v1")

  /** Welch's unequal-variance t-test + Cohen's d per event type over
    * the two-arm md5 assignment — the CONTINUOUS-value A/B readout
    * beside [[abTestOf]] (proportions) and
    * [[graft.operators.Robust.mannWhitneyOf]] (ranks): does the
    * treatment move mean REVENUE, with arms allowed different
    * variances (Welch — the default any stats reviewer demands over
    * Student's pooled t), and by how many pooled standard deviations
    * (Cohen's d, the effect size that survives unit changes)?
    * Direction is treatment − control (arm 1 − arm 0), matching
    * [[abTestOf]]'s lift sign.
    * Welch–Satterthwaite df is published so the reader sees the
    * effective sample the test ran on.
    *
    * All moments integer-exact — per-(type, arm) n/Σv/Σv² on the
    * micro grid with decimal(38,0) sums, pivoted to FIXED arm order
    * ([[anovaFOf]]'s template) — so the double combination (means,
    * variances, se², t, df, d) is ONE deterministic sequence,
    * textually identical in the oracle. Arms need n ≥ 2 for a
    * variance; zero-variance pairs null t via NULLIF. `significant`
    * compares |t| against 1.96 — exact asymptotically, and the
    * fact-scale df this targets is ≫ 30 (the
    * [[graft.operators.Robust.ksTestOf]] literal-constant rule).
    *
    * Shape: ONE map-combinable fact aggregate keyed by (type, arm);
    * everything after is arithmetic on the 2·|types| frame. */
  def welchTestOf(events: DataFrame): DataFrame = {
    val calc = twoArmMeanVar(events)
      .withColumn("se2", expr(
        "v0 / CAST(n0 AS DOUBLE) + v1 / CAST(n1 AS DOUBLE)"))
    calc.select(col("event_type"), col("n0"), col("n1"),
        graft.functions.TextF.round6HalfUp(expr("(m1 - m0) / 1e6")).as("mean_diff"),
        graft.functions.TextF.round6HalfUp(expr(
          "(m1 - m0) / NULLIF(sqrt(se2), 0.0)")).as("t_stat"),
        graft.functions.TextF.round4HalfUp(expr(
          """se2 * se2
            |/ NULLIF((v0 / CAST(n0 AS DOUBLE)) * (v0 / CAST(n0 AS DOUBLE))
            |           / CAST(n0 - 1 AS DOUBLE)
            |       + (v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
            |           / CAST(n1 - 1 AS DOUBLE), 0.0)""".stripMargin))
          .as("df"),
        graft.functions.TextF.round6HalfUp(expr(
          """(m1 - m0)
            |/ NULLIF(sqrt((CAST(n0 - 1 AS DOUBLE) * v0
            |             + CAST(n1 - 1 AS DOUBLE) * v1)
            |            / CAST(n0 + n1 - 2 AS DOUBLE)), 0.0)""".stripMargin))
          .as("cohens_d"))
      .withColumn("significant",
        when(col("t_stat").isNull, lit(false))
          .otherwise(abs(col("t_stat")) > 1.96))
      .orderBy("event_type")
  }

  /** TOST equivalence test per event type (Schuirmann '87 two
    * one-sided tests — the question every OTHER test in the shelf
    * cannot answer: not "did the treatment move the metric?" but
    * "are the arms the SAME within a margin?" — the read a
    * no-regression deploy, a holdback audit, or a cheaper-variant
    * swap actually needs, where a flat [[welchTestOf]] p-value is
    * NOT evidence of equivalence, only absence of evidence): margin
    * δ = 10% of |control mean|, z_lower = (Δ̄ + δ)/SE and z_upper =
    * (δ − Δ̄)/SE on [[welchTestOf]]'s exact moment machinery
    * (the shared `twoArmMeanVar`: integer micro-grid n/Σv/Σv² per
    * arm, fixed arm order, ONE double chain), equivalent iff BOTH
    * exceed 1.644854 (one-sided 5% — the fixed-literal rule).
    *
    * Degenerate contract: arms need n ≥ 2; a zero control mean
    * makes δ = 0 (equivalence then demands Δ̄ exactly inside ±0) and
    * zero-variance pairs null the z's via NULLIF — never a
    * fabricated verdict.
    *
    * Shape: the welch fold — ONE map-combinable (type, arm) fact
    * aggregate, arithmetic on the ≤|types| frame after. */
  def tostEquivalenceOf(events: DataFrame): DataFrame = {
    val calc = twoArmMeanVar(events)
      .withColumn("se", expr(
        "sqrt(v0 / CAST(n0 AS DOUBLE) + v1 / CAST(n1 AS DOUBLE))"))
      .withColumn("delta", expr("abs(m0) * 0.1"))
    calc.select(col("event_type"), col("n0"), col("n1"),
        r6(expr("(m1 - m0) / 1e6")).as("mean_diff"),
        r6(expr("delta / 1e6")).as("margin"),
        r6(expr("((m1 - m0) + delta) / NULLIF(se, 0.0)")).as("z_lower"),
        r6(expr("(delta - (m1 - m0)) / NULLIF(se, 0.0)")).as("z_upper"))
      .withColumn("equivalent",
        when(col("z_lower").isNull || col("z_upper").isNull, lit(false))
          .otherwise(col("z_lower") > 1.644854 &&
            col("z_upper") > 1.644854))
      .orderBy("event_type")
  }

  /** Two-sample Poisson rate test per event type — the COUNT-metric
    * A/B readout ([[abTestOf]] tests a per-user proportion,
    * [[welchTestOf]] a per-event value; "did the treatment change how
    * OFTEN users do X" is neither): events-per-exposed-user rates
    * under the two-arm md5 assignment, z = (r₁−r₀)/√(c₀/n₀² + c₁/n₁²)
    * — the unconditional normal approximation on Poisson counts,
    * exact enough at the fact-scale counts this targets (the
    * [[anovaFOf]] literal-constant rule for the 1.96 bar).
    *
    * Exposure is DISTINCT USERS PER ARM, a global 2-row frame from
    * one user dedup (not per type — a user exposed to the experiment
    * is at risk for every event type, which is what makes the rates
    * comparable across types). One conditional fact aggregate per
    * type + the 1-row exposure broadcast; the double chain is
    * textually mirrored in the oracle; zero counts in both arms null
    * z via NULLIF.
    *
    * Shape: one (type, arm) fact aggregate + one user-dedup
    * aggregate; everything after is arithmetic on 2·|types| rows. */
  def poissonRateTestOf(events: DataFrame): DataFrame = {
    val users = events.select(col("user_id")).distinct()
      .select(arm2(col("user_id")).as("arm"))
      .groupBy()
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"))
    val perType = events.select(col("event_type"),
        arm2(col("user_id")).as("arm"))
      .groupBy("event_type")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("c1"))
    perType.crossJoin(broadcast(users))
      .filter(col("n0") > 0 && col("n1") > 0)
      .select(col("event_type"), col("c0"), col("c1"), col("n0"), col("n1"),
        graft.functions.TextF.round6HalfUp(expr(
          "CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)")).as("rate0"),
        graft.functions.TextF.round6HalfUp(expr(
          "CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)")).as("rate1"),
        graft.functions.TextF.round6HalfUp(expr(
          """(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            | - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
            |/ NULLIF(sqrt(
            |    CAST(c0 AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE))
            |  + CAST(c1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))),
            |  0.0)""".stripMargin)).as("z"))
      .withColumn("significant",
        when(col("z").isNull, lit(false)).otherwise(abs(col("z")) > 1.96))
      .orderBy("event_type")
  }

  /** Cochran-Armitage trend test across the THREE ordered arms — the
    * dose-response read ([[anovaFOf]] asks "do the arms differ";
    * this asks "does conversion move MONOTONICALLY with treatment
    * intensity", one df instead of two, which is the whole power
    * argument for ordered arms): arm scores x = 0, 1, 2 over
    * per-user conversion (≥ 1 purchase).
    *
    * The statistic is EXACT integer algebra until one final double
    * chain: with per-arm (nᵢ, rᵢ), N = Σn, R = Σr, A = Σnᵢxᵢ²,
    * B = Σnᵢxᵢ, the numerator N·T = Σxᵢ(rᵢN − nᵢR) and
    * z = N·T / √(R(N−R)(N·A − B²)/N) — denominators cleared so every
    * product rides decimal(38,0) (r·N crosses int64 at ~3·10⁹
    * users); NULLIF nulls z when conversion is 0% or 100% (no
    * variance). |z| > 1.96 at α = 0.05.
    *
    * Shape: ONE user-dedup fact aggregate (user, arm, converted) →
    * a 3-row frame; everything after is constant-size arithmetic. */
  def cochranArmitageOf(events: DataFrame): DataFrame = {
    val perArm = events.select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy("user_id").agg(max("p").as("conv"))
      .select(arm3(col("user_id")).as("arm"), col("conv"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("conv").as("r"))
    val wide = pivot(perArm, Nil, levels("arm", 3), "n", "r")
      .filter(col("n0").isNotNull && col("n1").isNotNull && col("n2").isNotNull)
      .withColumn("nn", col("n0") + col("n1") + col("n2"))
      .withColumn("rr", col("r0") + col("r1") + col("r2"))
    wide.select(col("n0"), col("n1"), col("n2"),
        col("r0"), col("r1"), col("r2"),
        graft.functions.TextF.round6HalfUp(expr(
          s"""CAST(CAST(r1 AS $Dec) * nn - CAST(n1 AS $Dec) * rr
             |  + 2 * (CAST(r2 AS $Dec) * nn - CAST(n2 AS $Dec) * rr)
             |  AS DOUBLE)
             |/ NULLIF(sqrt(CAST(
             |    CAST(rr AS $Dec) * (nn - rr)
             |      * (CAST(nn AS $Dec) * (n1 + 4 * n2)
             |         - CAST(n1 + 2 * n2 AS $Dec) * (n1 + 2 * n2))
             |    AS DOUBLE) / CAST(nn AS DOUBLE)), 0.0)""".stripMargin))
          .as("z"))
      .withColumn("significant",
        when(col("z").isNull, lit(false)).otherwise(abs(col("z")) > 1.96))
  }

  /** Repeat-purchase latency per first-purchase month — the
    * retention-economics gap [[conversionLatencyOf]] (view→first
    * purchase) doesn't cover: how long until a NEW customer buys
    * AGAIN (first→second purchase), the number that sets payback
    * windows and win-back timer defaults, cohorted by the month the
    * relationship started. Same two-chained-min pairing — never a
    * per-user sort: t₁ = min purchase time, t₂ = min strictly-later
    * purchase; users who never repeat simply don't appear (the
    * repeat RATE is [[cohortRetentionOf]]'s job; this prices the
    * latency of those who do).
    *
    * Exact integer µs gaps; percentile interpolation over exact
    * integers is the one `(a+b)·q` form both engines compute
    * identically ([[conversionLatencyOf]]'s contract), published as
    * 4-dp days.
    *
    * Shape: two user-keyed min-aggregates + one user equijoin; the
    * month rollup is bounded by the calendar. */
  def repeatPurchaseLatencyOf(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .localCheckpoint(false) // both mins read the same slice
    val first = p.groupBy("user_id").agg(min("us").as("t1"))
    val second = p.join(first, "user_id").filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"), min("t1").as("t1"))
    second.select(
        date_format(timestamp_micros(col("t1")), "yyyy-MM").as("month"),
        (col("t2") - col("t1")).as("gap_us"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_repeaters"),
        graft.functions.TextF.round4HalfUp(
          expr("percentile(gap_us, 0.5)") / lit(86400e6)).as("p50_days"),
        graft.functions.TextF.round4HalfUp(
          expr("percentile(gap_us, 0.9)") / lit(86400e6)).as("p90_days"))
      .orderBy("month")
  }

  /** Funnel STAGE latency decomposition — [[conversionLatencyOf]]
    * prices the whole view→purchase span; this splits it at the
    * click ([[funnelStepsOf]]'s strictly-after step chain, timed):
    * first view → first later click → first still-later purchase,
    * p50/p90 per stage. The read that tells a funnel owner WHICH
    * handoff is slow — consideration (view→click) or checkout
    * (click→purchase) — before anyone redesigns the wrong page.
    *
    * Same machinery end-to-end: chained min-aggregates (never a
    * per-user sort), exact integer µs gaps, percentile ≡
    * quantile_cont on exact integers, 4-dp seconds; one row per
    * stage so the report reads as the funnel. Users counted at a
    * stage completed it — the DROP between stage n_users is
    * [[funnelStepsOf]]'s conversion read, carried here so the
    * latencies come with their denominators. */
  def funnelStageLatencyOf(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .localCheckpoint(false) // three stage slices read it
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"), min("t1").as("t1"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min("us").as("t3"), min("t2").as("t2"))
    def stage(df: DataFrame, name: String, gap: Column): DataFrame =
      df.select(gap.as("gap_us"))
        .agg(count(lit(1)).as("n_users"),
          graft.functions.TextF.round4HalfUp(
            expr("percentile(gap_us, 0.5)") / lit(1e6)).as("p50_sec"),
          graft.functions.TextF.round4HalfUp(
            expr("percentile(gap_us, 0.9)") / lit(1e6)).as("p90_sec"))
        .select(lit(name).as("stage"), col("n_users"), col("p50_sec"),
          col("p90_sec"))
    stage(c, "view_to_click", col("t2") - col("t1"))
      .unionByName(stage(p, "click_to_purchase", col("t3") - col("t2")))
      .orderBy("stage")
  }

  /** Gateway items — which item a user touches FIRST, and how often
    * that first touch becomes a customer ([[entryConversionOf]] asks
    * this of the entry event TYPE; merchandising needs it per ITEM:
    * the acquisition surface worth front-paging). First touch =
    * the user's earliest event carrying an item, total
    * (us, event_id) order so equal timestamps can't flip the
    * attribution; converted = the user EVER purchases strictly
    * after that first touch.
    *
    * Shape: one user-keyed min-struct aggregate (never a sort), one
    * purchase-slice min, one item rollup with exact-ppm conversion
    * — item vocabulary bounded. */
  def gatewayItemsOf(events: DataFrame): DataFrame = {
    val touches = events
      .select(col("user_id"),
        itemKey.as("item"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val first = touches
      .groupBy("user_id")
      .agg(min(struct(col("us"), col("event_id"), col("item"))).as("f"))
      .select(col("user_id"), col("f.us").as("t1"), col("f.item").as("item"))
    val purchased = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"))
      .groupBy("user_id").agg(max("pus").as("last_purchase"))
    first.join(purchased, Seq("user_id"), "left")
      .select(col("item"),
        when(col("last_purchase") > col("t1"), 1L).otherwise(0L)
          .as("converted"))
      .groupBy("item")
      .agg(count(lit(1)).as("n_first_users"),
        sum("converted").as("n_converted"))
      .select(col("item"), col("n_first_users"), col("n_converted"),
        expr("CAST((n_converted * 1000000) div n_first_users AS BIGINT)")
          .as("conv_ppm"))
      .orderBy("item")
  }

  /** Association RULES with directional confidence — the actionable
    * form of [[itemAffinityOf]]'s symmetric pairs (lift says the
    * pair co-occurs beyond chance; a merchandiser places the
    * recommendation in ONE direction, and conf(a→b) = c12/c1(a) vs
    * conf(b→a) tells them which: the classic Agrawal-Srikant rule
    * read with the asymmetry [[containmentPairsOf]] exploits for
    * documents applied to baskets). Both directions publish per
    * unordered pair in one row — emitting the pair twice would make
    * the report's top-k double-count.
    *
    * Confidences are exact-ppm integer divisions ((c12·10⁶) div c1 —
    * no float ratio to round); the same minSupport floor, top-k by
    * support with the [[itemAffinityOf]] tiebreak.
    *
    * Shape: identical to [[itemAffinityOf]] — distinct baskets, one
    * user-keyed pair self-join bounded by basket size, two c1
    * equijoins, bounded top-k. */
  def associationRulesOf(events: DataFrame, minSupport: Long = 5,
                         k: Int = 50): DataFrame = {
    require(k > 0 && minSupport >= 1,
      s"need k > 0 and minSupport >= 1, got $k/$minSupport")
    pairSupport(baskets(events).localCheckpoint(false), minSupport)
      .select(col("item_a"), col("item_b"), col("c12"),
        col("c1a"), col("c1b"),
        expr("CAST((c12 * 1000000) div c1a AS BIGINT)").as("conf_ab_ppm"),
        expr("CAST((c12 * 1000000) div c1b AS BIGINT)").as("conf_ba_ppm"))
      .orderBy(col("c12").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Difference-in-differences readout (the panel-data causal read
    * [[abTestOf]] and [[cupedAdjustOf]] sit beside: when treatment
    * started at `splitDay`, the treated arm's pre→post change MINUS
    * the control arm's pre→post change nets out both the arm-level
    * baseline difference and the common time trend). Unit of
    * analysis = per-user PERIOD MEAN value on [[cupedAdjustOf]]'s
    * milli grid (a user active in both periods contributes one
    * observation to each cell — the repeated-cross-section form);
    * arm = the md5-parity assignment (one contract with every other
    * experiment read).
    *
    * Exact integer moments per (arm, period) cell — n, Σq, Σq² on
    * decimal(38,0) — pivoted to FIXED cell order so the estimate,
    * the four Welch variance terms, and z ride one deterministic
    * double sequence (the [[anovaFOf]] convention). Degenerate cells
    * (n ≤ 1 or zero variance) null z via nullif, never divide by
    * zero.
    *
    * Shape: ONE map-combinable fact aggregate to the user×period
    * grain, one 4-cell aggregate after — nothing else touches
    * facts. */
  def didReadoutOf(events: DataFrame, splitDay: String): DataFrame = {
    val perUserPeriod = events
      .select(col("user_id"),
        micro(col("value")).as("qv"),
        when(col("ts") < lit(splitDay).cast("timestamp"), 0).otherwise(1)
          .as("period"),
        arm2(col("user_id")).as("arm"))
      .groupBy("user_id", "arm", "period")
      .agg(floor(sum("qv").cast("double") / count(lit(1)).cast("double")
        / 1000.0 + 0.5).cast("long").as("q")) // per-user period mean, milli grid
    val armPeriod = for (a <- 0 to 1; p <- 0 to 1)
      yield s"$a$p" -> (col("arm") === a && col("period") === p)
    val wide = pivot(moments(perUserPeriod, Seq("arm", "period"), "q"), Nil,
        armPeriod, "n", "s", "ss")
      .filter(col("n00").isNotNull && col("n01").isNotNull &&
        col("n10").isNotNull && col("n11").isNotNull)
    def d(c: Column) = c.cast("double")
    def mean(s: String, n: String) = d(col(s)) / d(col(n)) / 1000.0
    def varOverN(ss: String, s: String, n: String) =
      (d(col(ss)) - d(col(s)) * d(col(s)) / d(col(n))) /
        (d(col(n)) - 1.0) / d(col(n)) / 1e6
    val did = (mean("s11", "n11") - mean("s10", "n10")) -
      (mean("s01", "n01") - mean("s00", "n00"))
    val se = sqrt(varOverN("ss11", "s11", "n11") +
      varOverN("ss10", "s10", "n10") +
      varOverN("ss01", "s01", "n01") + varOverN("ss00", "s00", "n00"))
    wide
      .filter(col("n00") > 1 && col("n01") > 1 &&
        col("n10") > 1 && col("n11") > 1)
      .select(col("n00"), col("n01"), col("n10"), col("n11"),
        r4(mean("s00", "n00")).as("mean_ctrl_pre"),
        r4(mean("s01", "n01")).as("mean_ctrl_post"),
        r4(mean("s10", "n10")).as("mean_treat_pre"),
        r4(mean("s11", "n11")).as("mean_treat_post"),
        r4(did).as("did"),
        r4(did / nullif(se, lit(0.0))).as("z"))
  }

  /** Per user, the micro-grid value sum and event count before
    * (`pre_*`) and from (`post_*`) `splitDay` on — only users active
    * in BOTH periods, since a pre/post read needs a covariate and an
    * outcome. [[stratifiedAteOf]] and [[cupedAdjustOf]] start here. */
  private def prePostUsers(events: DataFrame, splitDay: String): DataFrame =
    events
      .select(col("user_id"), micro(col("value")).as("qv"),
        (col("ts") < lit(splitDay).cast("timestamp")).as("pre"))
      .groupBy("user_id")
      .agg(sum(when(col("pre"), col("qv"))).as("pre_sum"),
        count(when(col("pre"), lit(1))).as("pre_n"),
        sum(when(!col("pre"), col("qv"))).as("post_sum"),
        count(when(!col("pre"), lit(1))).as("post_n"))
      .filter(col("pre_n") > 0 && col("post_n") > 0)

  /** A per-user mean of micro-grid values `s` over `n` events, on the
    * milli grid (one division, floor-form half-up). */
  private def milliMean(s: String, n: String): Column =
    floor(col(s).cast("double") / col(n).cast("double") / 1000.0 + 0.5)
      .cast("long")

  /** Qini uplift curve (Radcliffe '07 — the targeting read behind
    * every uplift model: if we treated only the top-scored users,
    * how many INCREMENTAL conversions would treatment buy?): users
    * rank by their PRE-period mean value ([[cupedAdjustOf]]'s
    * covariate — the stand-in for a model score), cut into deciles
    * by the two-phase rank ([[graft.Scale.twoPhaseRank]] +
    * [[graft.Scale.ntileFromRank]] — no single-task window at 10⁹
    * users), and per decile the treated-vs-control POST-period
    * conversion gap plus the cumulative Qini value
    * CT − CC·(NT/NC) — incremental conversions at each targeting
    * depth, the curve whose area ranks uplift models.
    *
    * Shape: one user-keyed fact aggregate, the two-phase decile cut,
    * one decile aggregate; the cumulative windows ride the 10-row
    * decile frame. */
  def qiniCurveOf(events: DataFrame, splitDay: String): DataFrame = {
    val perUser = events
      .select(col("user_id"),
        micro(col("value")).as("qv"),
        (col("ts") < lit(splitDay).cast("timestamp")).as("pre"),
        (col("event_type") === "purchase" &&
          col("ts") >= lit(splitDay).cast("timestamp")).as("conv"))
      .groupBy("user_id")
      .agg(sum(when(col("pre"), col("qv"))).as("pre_sum"),
        count(when(col("pre"), lit(1))).as("pre_n"),
        max(when(col("conv"), 1L).otherwise(0L)).as("converted"))
      .filter(col("pre_n") > 0) // score needs a pre-period
      .select(col("user_id"),
        milliMean("pre_sum", "pre_n").as("score"),
        col("converted"), arm2(col("user_id")).as("arm"))
    val (ranked, total) = graft.Scale.twoPhaseRank(perUser,
      Seq(col("score").desc, col("user_id")))
    val deciles = ranked
      .withColumn("decile", graft.Scale.ntileFromRank("__rank", 10, total))
      .groupBy("decile")
      .agg(sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 1L, col("converted")).otherwise(0L)).as("conv_treat"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("arm") === 0L, col("converted")).otherwise(0L)).as("conv_ctrl"))
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles
      .withColumn("ct", sum("conv_treat").over(cum))
      .withColumn("cc", sum("conv_ctrl").over(cum))
      .withColumn("nt", sum("n_treat").over(cum))
      .withColumn("nc", sum("n_ctrl").over(cum))
      .select(col("decile"), col("n_treat"), col("n_ctrl"),
        r4(col("conv_treat").cast("double")
            / nullif(col("n_treat").cast("double"), lit(0.0)) -
          col("conv_ctrl").cast("double")
            / nullif(col("n_ctrl").cast("double"), lit(0.0))).as("uplift"),
        r4(col("ct").cast("double") - col("cc").cast("double") *
          (col("nt").cast("double")
            / nullif(col("nc").cast("double"), lit(0.0)))).as("qini"))
      .orderBy("decile")
  }

  /** Propensity-stratified ATE (subclassification, Cochran'68 /
    * Rosenbaum-Rubin'83): the causal point estimate on a CONTINUOUS
    * outcome where [[didReadoutOf]] needs a pre/post panel and
    * [[qiniCurveOf]] ranks a binary conversion — stratify users into
    * covariate deciles (pre-period mean value, [[qiniCurveOf]]'s
    * score), compare treated vs control POST-period outcome within
    * each stratum (like compares with like), weight each stratum's
    * gap by its population share: ATE = Σ (nₛ/n)·(ȳ₁ₛ − ȳ₀ₛ).
    *
    * Output is the per-stratum table — n/means/gap per stratum plus
    * the exact-integer weight_ppm and the micro-quantized contrib —
    * so ATE = Σ contrib reads off the printed column (the
    * [[CorpusStats.brierDecompositionOf]] audits-itself convention)
    * and a reviewer sees WHERE the effect lives (uniform across
    * strata = believable; one-stratum = investigate). A stratum
    * missing an arm drops with its weight (conservative; cannot
    * happen under md5-parity assignment at any real scale).
    *
    * Shape: one user-keyed fact aggregate (score + outcome + arm per
    * user), the decile assignment on [[graft.Scale.twoPhaseRank]]
    * (no single-task window at 10⁹ users), then a 10-row frame with
    * a 1-row total broadcast. Outcome sums ride decimal(38,0) (milli
    * grid × 10⁹ users/stratum crosses int64). */
  def stratifiedAteOf(events: DataFrame, splitDay: String,
                      strata: Int = 10): DataFrame = {
    require(strata >= 2, s"strata must be >= 2, got $strata")
    val perUser = prePostUsers(events, splitDay)
      .select(col("user_id"), milliMean("pre_sum", "pre_n").as("score"),
        milliMean("post_sum", "post_n").as("y"), arm2(col("user_id")).as("arm"))
    val (ranked, total) = graft.Scale.twoPhaseRank(perUser,
      Seq(col("score").desc, col("user_id")))
    val cells = ranked
      .withColumn("stratum",
        graft.Scale.ntileFromRank("__rank", strata, total))
      .groupBy("stratum")
      .agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 0L, col("y").cast(Dec))
          .otherwise(lit(0).cast(Dec))).as("s_ctrl"),
        sum(when(col("arm") === 1L, col("y").cast(Dec))
          .otherwise(lit(0).cast(Dec))).as("s_treat"))
    val tot = cells.agg(
      sum(col("n_ctrl") + col("n_treat")).as("n_all"))
    def d(c: Column) = c.cast("double")
    val diff = d(col("s_treat")) / d(col("n_treat")) / lit(1000.0) -
      d(col("s_ctrl")) / d(col("n_ctrl")) / lit(1000.0)
    cells.crossJoin(broadcast(tot)) // 1 row by construction
      .filter(col("n_ctrl") > 0 && col("n_treat") > 0)
      .select(col("stratum"), col("n_ctrl"), col("n_treat"),
        r4(d(col("s_ctrl")) / d(col("n_ctrl")) / lit(1000.0)).as("mean_ctrl"),
        r4(d(col("s_treat")) / d(col("n_treat")) / lit(1000.0)).as("mean_treat"),
        r4(diff).as("diff"),
        expr(s"CAST((CAST(n_ctrl + n_treat AS $Dec) * 1000000)" +
          s" div CAST(n_all AS $Dec) AS BIGINT)").as("weight_ppm"),
        graft.functions.TextF.round6HalfUp(
          diff * (d(col("n_ctrl") + col("n_treat")) / d(col("n_all"))))
          .as("contrib"))
      .orderBy("stratum")
  }

  /** RFM segmentation — the classic CRM feature triple: per user,
    * recency (days since last event, vs the corpus report date),
    * frequency (event count), monetary (micro-exact value sum), each
    * cut into quintiles, segment code = R·100 + F·10 + M with 5 =
    * best on every axis (most recent / most frequent / highest
    * spend). ntile orders carry a user-id tiebreak so bucket edges
    * are deterministic and engine-identical.
    *
    * Shape: 1-row report-date broadcast, ONE user aggregate, then ONE
    * melted two-phase global rank over (axis, key, user_id)
    * ([[graft.Scale.twoPhaseRank]] + the arithmetic ntile of
    * [[graft.Scale.ntileFromRank]] — bit-identical to NTILE(5) under
    * the unique (axis, user_id) order). The three axis cuts used to
    * run as three CHAINED ranks (3 range exchanges, 3 bucket collects
    * — ~22 driver jobs at the bench SF, job-floor bound per the r18
    * JobLog profile); melting each user into one row per axis with a
    * uniform ascending long key folds them onto ONE range exchange
    * and ONE bucket collect. Per-axis equivalence: recency DESC
    * NULLS LAST ≡ ascending −recency with NULL→Long.MaxValue (recency
    * ∈ [0, ~10⁴] days, so MaxValue is unreachable); axis blocks are
    * contiguous and each holds exactly n rows, so the within-axis
    * rank is __rank − axis·n with no extra count. The pivot back to
    * one row per user is a plain user aggregate (each axis
    * contributes exactly one non-null tile). No single-partition
    * window anywhere, so the cut runs `buckets`-way parallel at 10⁹
    * users instead of funnelling the user frame through one task
    * three times. */
  def rfmSegmentsOf(events: DataFrame): DataFrame = {
    val maxDay = reportDate(events)
    val per = events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        micro(col("value")).as("qv"))
      .crossJoin(broadcast(maxDay)) // 1 row by construction
      .groupBy("user_id")
      .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
        sum("qv").as("qm"), first("report_date").as("report_date"))
      .select(col("user_id"),
        datediff(col("report_date"), col("last_day")).cast("long")
          .as("recency_days"),
        col("frequency"), col("qm"))
      .localCheckpoint(false) // sampler + exchange share the user agg
    // Quintile 5 = most recent / most frequent / highest spend: R
    // rides the negated key, F and M are naturally ascending.
    val melted = per.select(col("user_id"), col("recency_days"),
      col("frequency"), col("qm"),
      explode(array(
        struct(lit(0).as("axis"),
          coalesce(-col("recency_days"), lit(Long.MaxValue)).as("k")),
        struct(lit(1).as("axis"), col("frequency").as("k")),
        struct(lit(2).as("axis"), col("qm").as("k")))).as("p"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("qm"), col("p.axis").as("axis"), col("p.k").as("k"))
    val (ranked, total3) = graft.Scale.twoPhaseRank(melted,
      Seq(col("axis"), col("k"), col("user_id")), snapshotInput = false)
    val total = total3 / 3
    ranked
      .withColumn("__arank", col("__rank") - col("axis") * lit(total))
      .withColumn("__tile", graft.Scale.ntileFromRank("__arank", 5, total))
      .groupBy("user_id")
      .agg(max("recency_days").as("recency_days"),
        max("frequency").as("frequency"), max("qm").as("qm"),
        max(when(col("axis") === 0, col("__tile"))).as("r"),
        max(when(col("axis") === 1, col("__tile"))).as("f"),
        max(when(col("axis") === 2, col("__tile"))).as("m"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        graft.functions.TextF.microsTo4dp(col("qm")).as("monetary"),
        col("r"), col("f"), col("m"),
        (col("r") * 100 + col("f") * 10 + col("m")).as("segment"))
      .orderBy("user_id")
  }

  /** Exponential-decay engagement score per user — the recency-weighted
    * activity feature every ranking/churn model starts from: each
    * event contributes value · 2^(−age_days), ages beyond `horizon`
    * days contribute zero (the truncated tail, cf. the EWMA smoother's
    * 14-day horizon). EXACT integer path end to end: value quantizes
    * to micros, the weight is a LEFT SHIFT by (horizon − age) — powers
    * of two, no libm, no float accumulation — and one final division
    * by 2^horizon recovers the score, so the sum is partition-order
    * independent and engine-exact.
    *
    * Shape: the 1-row max-day frame broadcasts (no driver collect);
    * ONE map-side-combinable user aggregate; age clamp = pushable
    * filter.
    *
    * Overflow headroom (the int64 switchover bound CUPED and Gini
    * state): the per-user sum holds while
    * Σ value_micros · 2^(horizon−age) < 2⁶³, i.e. roughly
    * 9.2e18 / (max_value_micros · 2^horizon) same-day events per user
    * — at the default horizon 20 and $1000 events (1e9 micros), ~8.8k
    * max-weight events per user per day. Corpora beyond that bound
    * need a smaller horizon or the sum switched to decimal(38,0);
    * the events table's value range keeps sf-scale runs ~10⁶× inside
    * the bound. */
  def decayedEngagementOf(events: DataFrame, horizon: Int = 20): DataFrame = {
    require(horizon > 0 && horizon < 60, s"horizon in (0,60), got $horizon")
    val maxDay = reportDate(events)
    events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        micro(col("value")).as("qv"))
      .crossJoin(broadcast(maxDay)) // 1 row by construction
      .withColumn("age", datediff(col("report_date"), col("day")))
      .filter(col("age") <= horizon)
      .select(col("user_id"),
        (col("qv") * expr(s"shiftleft(1L, $horizon - age)")).as("wq"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("wq").as("wsum"))
      .select(col("user_id"), col("n_events"),
        graft.functions.TextF.round4HalfUp(
          col("wsum").cast("double") / lit((1L << horizon).toDouble) / 1e6)
          .as("score"))
      .orderBy("user_id")
  }

  /** CUPED variance reduction (Deng et al. '13) for an A/B readout:
    * each user's PRE-period mean value is the covariate; the
    * experiment metric is the POST-period mean; θ = cov(x,y)/var(x)
    * over all users, and the per-arm adjusted mean is
    * ȳ_arm − θ·(x̄_arm − x̄) — the standard trick that cancels the
    * between-user variance an assignment inherits. The arm is the
    * deterministic `user_id % 2` (the stand-in for an assignment
    * column; swap the expression when one exists).
    *
    * Numerics: per-user means quantize to integer MILLI-units (one
    * division + floor each), so Σx, Σy, Σx², Σxy are exact int64 sums
    * (order-independent; x ≤ 5·10⁵ milli keeps Σx² under 2⁶³ to ~10⁸
    * users — past that, swap the sums to decimal(38) buffers). θ is
    * one double division of exactly-computed operands, rounded to 6 dp
    * BEFORE use; the two report divisions round half-up at 4 dp.
    *
    * Shape: ONE fact-scale shuffle (the per-user conditional
    * aggregate); arm moments are a 2-row frame whose pooled totals
    * ride a window (no second pass); users active in only one period
    * drop (no covariate ⇒ nothing to adjust).
    */
  def cupedAdjustOf(events: DataFrame, splitDay: String): DataFrame = {
    val users = prePostUsers(events, splitDay)
      .select(col("user_id"), milliMean("pre_sum", "pre_n").as("qx"),
        milliMean("post_sum", "post_n").as("qy"))
    val all = Window.partitionBy(lit(1))
    val arms = users
      .groupBy((col("user_id") % 2).as("arm"))
      .agg(count(lit(1)).as("n"), sum("qx").as("sx"), sum("qy").as("sy"),
        sum(col("qx") * col("qx")).as("sxx"),
        sum(col("qx") * col("qy")).as("sxy"))
      .withColumn("tn", sum("n").over(all))
      .withColumn("tsx", sum("sx").over(all))
      .withColumn("tsy", sum("sy").over(all))
      .withColumn("tsxx", sum("sxx").over(all))
      .withColumn("tsxy", sum("sxy").over(all))
    val d = (c: String) => col(c).cast("double")
    val theta = graft.functions.TextF.round6HalfUp(
      (d("tn") * d("tsxy") - d("tsx") * d("tsy")) /
        (d("tn") * d("tsxx") - d("tsx") * d("tsx")))
    val meanY = d("sy") / d("n") / 1000.0
    val meanXArm = d("sx") / d("n") / 1000.0
    val meanXAll = d("tsx") / d("tn") / 1000.0
    arms
      .withColumn("theta", theta)
      .select(col("arm"), col("n").as("n_users"),
        graft.functions.TextF.round4HalfUp(meanY).as("mean_post"),
        graft.functions.TextF.round4HalfUp(
          meanY - col("theta") * (meanXArm - meanXAll)).as("mean_post_adj"),
        col("theta"))
      .orderBy("arm")
  }

  /** Per user, the lifetime in days between first and last event
    * (`duration`) and the right-censoring flag: a user still active
    * within `censorDays` of the corpus report date (a 1-row broadcast)
    * is `censored` = 1. One map-combinable user aggregate — the
    * survival reads' only fact-sized shuffle. */
  private def lifetimes(events: DataFrame, censorDays: Int): DataFrame = {
    require(censorDays > 0, s"censorDays must be positive, got $censorDays")
    val maxDay = reportDate(events)
    events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .crossJoin(broadcast(maxDay)) // 1 row by construction
      .groupBy("user_id")
      .agg(min("day").as("first_day"), max("day").as("last_day"),
        first("report_date").as("report_date"))
      .select(col("user_id"),
        datediff(col("last_day"), col("first_day")).cast("long")
          .as("duration"),
        when(datediff(col("report_date"), col("last_day")) < censorDays, 1L)
          .otherwise(0L).as("censored"))
  }

  /** Kaplan-Meier life table for user churn — the survival-analysis
    * view of retention (cf. [[cohortRetentionOf]], which reports
    * per-cohort return RATES; this reports the hazard structure of
    * LEAVING). Per user, lifetime = days between first and last
    * event; a user still active within `censorDays` of the corpus
    * report date is right-CENSORED (we only know their lifetime
    * exceeds what we observed — counting them as churned is the
    * classic retention-curve bias this estimator exists to avoid,
    * Kaplan & Meier '58). Output is the discrete life table: per
    * duration t, the risk set n(t) = users whose lifetime ≥ t, churn
    * events d(t), censorings c(t), and the hazard d(t)/n(t) at 4 dp.
    * The K-M survival curve S(t) = Π_{s≤t}(1 − d(s)/n(s)) is a
    * trivial client-side fold over these rows; it is deliberately NOT
    * a column because a cumulative float product has no
    * engine-portable exact form (house determinism policy — cf.
    * tfidf's ratio-idf), while every column here is exact integers
    * plus one rational rounded 4 dp.
    *
    * Shape: one map-combinable per-user aggregate (the only fact-sized
    * shuffle); everything after runs on the ≤ day-span duration frame,
    * so the unpartitioned reverse-cumulative window is bounded by the
    * calendar, not the data. */
  def churnLifetableOf(events: DataFrame, censorDays: Int = 7): DataFrame = {
    val durations = lifetimes(events, censorDays)
    val byDur = durations.groupBy("duration")
      .agg(sum(lit(1L) - col("censored")).as("n_churned"),
        sum(col("censored")).as("n_censored"))
    // Risk set = reverse cumulative total over the duration frame
    // (≤ day-span rows — the single-partition window is bounded).
    val riskW = Window.orderBy(col("duration"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    byDur
      .withColumn("n_risk",
        sum(col("n_churned") + col("n_censored")).over(riskW))
      .select(col("duration"), col("n_risk"), col("n_churned"),
        col("n_censored"),
        // n_risk ≥ 1 whenever the row exists (it counts itself)
        graft.functions.TextF.round4HalfUp(
          col("n_churned").cast("double") / col("n_risk").cast("double"))
          .as("hazard"))
      .orderBy("duration")
  }

  /** Nelson–Aalen cumulative hazard over [[churnLifetableOf]]'s risk
    * sets: H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ — the survival curve's additive
    * dual (KM multiplies survival factors; NA sums hazard mass, the
    * estimator that stays well-behaved in small risk sets and feeds
    * hazard-ratio eyeballing directly). The per-duration increment is
    * quantized to an int64 NANO grid (one division each — the
    * [[cramersVOf]] quantize-before-sum move), so the running sum is
    * integer, order-blind, and bit-equal cross-engine; the 6-dp
    * rendering divides once at the edge.
    *
    * Shape: identical to the life table — one user-keyed aggregate is
    * the only fact-sized shuffle; the duration frame (≤ day-span
    * rows) carries the bounded reverse-cumulative risk window and the
    * forward hazard cumsum. */
  def nelsonAalenOf(events: DataFrame, censorDays: Int = 7): DataFrame = {
    val cumW = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    churnLifetableOf(events, censorDays)
      .withColumn("hq", floor(col("n_churned").cast("double")
        / col("n_risk").cast("double") * lit(1e9) + lit(0.5)).cast("long"))
      .withColumn("cum_q", sum("hq").over(cumW))
      .select(col("duration"), col("n_risk"), col("n_churned"),
        (floor(col("cum_q").cast("double") / lit(1e3) + lit(0.5)) / lit(1e6))
          .as("cum_hazard"))
      .orderBy("duration")
  }

  /** Log-rank (Mantel-Cox) test of churn-survival equality between the
    * two md5-parity experiment arms — the survival A/B readout beside
    * [[abTestOf]] (one conversion day) and [[churnLifetableOf]] (one
    * descriptive curve): does the treatment change how LONG users
    * stay, not just whether they convert?  At each duration t the test
    * compares arm-1's observed churn d1(t) with its expectation
    * e1(t) = d(t)·n1(t)/n(t) under a shared hazard, normalized by the
    * hypergeometric variance v(t) = d(t)·(n0/n)·(n1/n)·(n−d)/(n−1);
    * z = Σ(d1−e1)/√Σv (χ² = z² against 3.8415 at 5%).
    *
    * Determinism: per-duration (d1−e1) and v are each quantized to an
    * int64 NANO grid (one division each — [[nelsonAalenOf]]'s
    * quantize-before-sum move), so both sums are integer and
    * order-blind; z is one fixed-order double chain over the two exact
    * sums, rendered 4 dp. A one-user risk set (nt = 1) nulls its
    * variance term via nullif and contributes d1−e1 = 0 exactly.
    *
    * Shape: ONE user-keyed fact aggregate (duration, censor flag, arm
    * per user — [[churnLifetableOf]]'s shuffle with the arm hash
    * riding along), then everything lives on the duration frame
    * (≤ day-span rows): per-arm reverse-cumulative risk sets on the
    * bounded duration window, one global sum. No fact-scale window,
    * nothing driver-side. */
  def logrankTestOf(events: DataFrame, censorDays: Int = 7): DataFrame = {
    val durations = lifetimes(events, censorDays)
      .withColumn("arm", arm2(col("user_id")))
    val byDur = durations.groupBy("duration")
      .agg(
        sum(when(col("arm") === 0L, lit(1L) - col("censored"))
          .otherwise(0L)).as("d0"),
        sum(when(col("arm") === 1L, lit(1L) - col("censored"))
          .otherwise(0L)).as("d1"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("t0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("t1"))
    // Risk sets = reverse cumulative per-arm totals over the duration
    // frame (≤ day-span rows — the single-partition window is bounded).
    val riskW = Window.orderBy(col("duration"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def dd(c: Column) = c.cast("double")
    val perDur = byDur
      .withColumn("n0", sum("t0").over(riskW))
      .withColumn("n1", sum("t1").over(riskW))
      .withColumn("dt", col("d0") + col("d1"))
      .withColumn("nt", col("n0") + col("n1"))
      .select(col("d1"),
        floor((dd(col("d1")) - dd(col("dt")) * dd(col("n1")) / dd(col("nt")))
          * lit(1e9) + lit(0.5)).cast("long").as("ome_q"),
        floor(dd(col("dt")) * (dd(col("n0")) / dd(col("nt")))
          * (dd(col("n1")) / dd(col("nt")))
          * (dd(col("nt")) - dd(col("dt")))
          / nullif(dd(col("nt")) - lit(1.0), lit(0.0))
          * lit(1e9) + lit(0.5)).cast("long").as("v_q"))
    perDur.agg(
        count(lit(1)).as("n_durations"),
        sum("d1").as("obs_treat"),
        sum("ome_q").as("sq"),
        sum(coalesce(col("v_q"), lit(0L))).as("vq"))
      .select(col("n_durations"), col("obs_treat"),
        (floor(dd(col("sq")) / lit(1e3) + lit(0.5)) / lit(1e6))
          .as("o_minus_e"),
        r4(dd(col("sq")) / lit(1e9) /
          nullif(sqrt(dd(col("vq")) / lit(1e9)), lit(0.0))).as("z"))
  }

  /** Restricted mean survival time (RMST) per md5-parity arm — the
    * EFFECT SIZE the survival A/B family was missing ([[logrankTestOf]]
    * says "the curves differ", hazard ratios assume proportionality;
    * RMST(τ) = ∫₀^τ S(t)dt is "mean days retained within the first τ
    * days", a number in DAYS whose arm difference is directly a
    * retention gain — Royston-Parmar's recommended readout exactly
    * because it stays valid when hazards cross). S is Kaplan-Meier on
    * [[churnLifetableOf]]'s day-grained risk sets; the integral is the
    * exact step-function area Σ S(tᵢ₋₁)·(min(tᵢ,τ) − tᵢ₋₁) plus the
    * tail S(t_last)·(τ − t_last).
    *
    * Determinism (the cross-engine product problem): each KM factor is
    * 1 − (d·10⁹ div n)/10⁹ — an integer division, then ONE exact-int
    * cast and one IEEE division, so both engines hold bit-equal
    * factors; the running product folds those doubles in ascending
    * duration order on BOTH engines (here a `functions.aggregate`
    * left-fold over the per-arm sorted step array; the oracle a
    * recursive CTE walking the same order — multiplication order
    * fixed, hence bit-equal), and each step's area quantizes S to the
    * 1e-9 grid so the accumulating sum is decimal-integer. The HOF
    * fold is interpreted (no codegen) but runs on the BOUNDED per-arm
    * step array (≤ day-span rows), never the fact stream.
    *
    * Shape: ONE user-keyed fact aggregate (the [[logrankTestOf]]
    * shuffle); the life table, fold, and integral all live on the
    * bounded (arm × durations) frame. */
  def rmstArmsOf(events: DataFrame, censorDays: Int = 7,
                 horizonDays: Int = 28): DataFrame = {
    require(censorDays > 0 && horizonDays > 0,
      s"need positive censorDays/horizonDays, got $censorDays/$horizonDays")
    val durations = lifetimes(events, censorDays)
      .withColumn("arm", arm2(col("user_id")))
    val byDur = durations.groupBy("arm", "duration")
      .agg(sum(lit(1L) - col("censored")).as("d"), count(lit(1)).as("t"))
    val riskW = Window.partitionBy("arm").orderBy(col("duration"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val steps = byDur
      .withColumn("n", sum("t").over(riskW))
      .filter(col("d") > 0)
      .select(col("arm"), col("duration"),
        ((lit(1000000000L) - expr("(d * 1000000000L) div n"))
          .cast("double") / 1e9).as("f"))
    val users = durations.groupBy("arm").agg(count(lit(1)).as("n_users"))
    val packed = steps.groupBy("arm")
      .agg(array_sort(collect_list(struct(col("duration"), col("f"))))
        .as("arr"))
    users.join(packed, Seq("arm"), "left")
      .withColumn("arr2", coalesce(col("arr"),
        expr("CAST(array() AS ARRAY<STRUCT<duration: BIGINT, f: DOUBLE>>)")))
      .withColumn("rmst_q", expr(
        s"""aggregate(arr2,
           |  named_struct('s', CAST(1.0 AS DOUBLE), 'tp', 0L,
           |    'tot', CAST(0 AS $Dec)),
           |  (acc, x) -> named_struct(
           |    's', acc.s * x.f,
           |    'tp', x.duration,
           |    'tot', acc.tot
           |      + CAST(CAST(floor(acc.s * 1e9 + 0.5) AS BIGINT)
           |          AS $Dec)
           |      * CAST(least(x.duration, ${horizonDays}L)
           |          - least(acc.tp, ${horizonDays}L) AS $Dec)),
           |  acc -> acc.tot
           |    + CAST(CAST(floor(acc.s * 1e9 + 0.5) AS BIGINT)
           |        AS $Dec)
           |    * CAST(${horizonDays}L - least(acc.tp, ${horizonDays}L)
           |        AS $Dec))""".stripMargin))
      .select(col("arm"), col("n_users"),
        coalesce(size(col("arr")), lit(0)).cast("long").as("n_steps"),
        graft.functions.TextF.round6HalfUp(
          col("rmst_q").cast("double") / 1e9).as("rmst_days"))
      .orderBy("arm")
  }

  /** Early-spend → lifetime-value signal strength: the Pearson r
    * between each user's revenue in their own first `earlyDays` days
    * and their revenue AFTER it — the one number that says whether
    * [[cohortLtvOf]]'s payback curve can be forecast from week one
    * (r near 0 means early spend tells you nothing and any
    * "predicted LTV" dashboard built on it is fiction). Both sums in
    * exact micro cents; moments in decimal(38,0); r through one fixed
    * double chain (num / (√dx·√dy), each √ one correctly-rounded IEEE
    * op), 4 dp; the early share of total revenue rides along as an
    * exact integer ppm.
    *
    * Shape: the two-pass per-user split ([[EventAnalytics
    * .zscoreOutliersOf]]'s shape): one user-keyed min-day aggregate,
    * ONE user-keyed equijoin back, one user aggregate, one 1-row
    * moment fold. */
  def ltvEarlySignalOf(events: DataFrame, earlyDays: Int = 7): DataFrame = {
    require(earlyDays > 0, s"earlyDays must be positive, got $earlyDays")
    val e = events.select(col("user_id"), to_date(col("ts")).as("day"),
      micro(col("value")).as("vq"))
    val firstDay = e.groupBy("user_id").agg(min("day").as("first_day"))
    val per = e.join(firstDay, Seq("user_id"))
      .groupBy("user_id")
      .agg(
        sum(when(datediff(col("day"), col("first_day")) < earlyDays,
          col("vq")).otherwise(0L)).as("x"),
        sum(when(datediff(col("day"), col("first_day")) >= earlyDays,
          col("vq")).otherwise(0L)).as("y"))
    val m = per.agg(count(lit(1)).as("n"),
      sum(col("x").cast(Dec)).as("sx"), sum(col("y").cast(Dec)).as("sy"),
      sum(col("x").cast(Dec) * col("y").cast(Dec)).as("sxy"),
      sum(col("x").cast(Dec) * col("x").cast(Dec)).as("sxx"),
      sum(col("y").cast(Dec) * col("y").cast(Dec)).as("syy"))
    def d(c: Column) = c.cast("double")
    val num = col("n").cast(Dec) * col("sxy") - col("sx") * col("sy")
    val dx = col("n").cast(Dec) * col("sxx") - col("sx") * col("sx")
    val dy = col("n").cast(Dec) * col("syy") - col("sy") * col("sy")
    m.select(col("n").as("n_users"),
      expr("CAST((sx * 1000000) div (sx + sy) AS BIGINT)")
        .as("early_share_ppm"),
      graft.functions.TextF.round4HalfUp(
        d(num) / nullif(sqrt(d(dx)) * sqrt(d(dy)), lit(0.0))).as("r"))
  }

  /** Cramér's V over the event-type × time-of-week contingency table —
    * [[chi2ContingencyOf]]'s one-number summary (that query reports
    * per-cell χ² contributions; V = √(χ²/(n·(min(r,c)−1))) normalizes
    * the total into [0,1] association strength, comparable across
    * tables of any shape — the "is this worth a seasonality model"
    * gate before [[EventAnalytics.seasonalProfileOf]] fits one).
    *
    * Determinism: each cell's χ² contribution is computed from exact
    * int64 operands (o·n − rt·ct never exceeds n² ≈ 3.6·10¹⁷ at the
    * ×1000 scale — inside 2⁶³), squared and divided in IEEE double
    * (one multiply, one divide — correctly rounded, engine-identical),
    * then quantized to an int64 micro grid so the cross-cell SUM is
    * integer and order-blind — the same quantize-before-sum move as
    * [[graft.operators.Cluster.silhouetteOf]]. The denominator n·rt·ct
    * is computed in double (each factor exact < 2^53; two IEEE
    * multiplies, same association order both engines). One final √.
    *
    * Shape: one map-side-combinable (type, tow) count (bounded cells),
    * two bounded window passes for margins, one 1-row fold. */
  def cramersVOf(events: DataFrame): DataFrame = {
    val cells = towCells(events)
    val rt = cells.groupBy("event_type").agg(sum("o").as("rt"))
    val ct = cells.groupBy("tow").agg(sum("o").as("ct"))
    // The COMPLETE margin grid, not just observed cells: a zero cell
    // (a type that never fires on some weekday) contributes
    // (rt·ct)²/(n²·e) to χ² — exactly the signal a perfectly
    // concentrated type carries; summing only observed cells
    // understates χ² (caught by BehaviorSpec's perfect-association
    // case, which read √½ instead of 1). Both margin frames are
    // bounded (types × 7), so the cross is a few dozen rows.
    rt.crossJoin(ct)
      .join(cells, Seq("event_type", "tow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(cells.agg(sum("o").as("n")))) // 1 row
      .withColumn("contrib_q", micro(
        (col("o") * col("n") - col("rt") * col("ct")).cast("double") *
          (col("o") * col("n") - col("rt") * col("ct")).cast("double") /
          (col("n").cast("double") * col("rt").cast("double") *
            col("ct").cast("double"))))
      .agg(max("n").as("n"),
        countDistinct("event_type").as("n_types"),
        countDistinct("tow").as("n_tows"),
        sum("contrib_q").as("chi2_q"))
      .select(col("n"), col("n_types"), col("n_tows"),
        graft.functions.TextF.round4HalfUp(col("chi2_q").cast("double") / lit(1e6))
          .as("chi2"),
        graft.functions.TextF.round6HalfUp(sqrt(
          col("chi2_q").cast("double") / lit(1e6) /
            (col("n").cast("double") *
              (least(col("n_types"), col("n_tows")) - 1).cast("double"))))
          .as("cramers_v"))
  }

  /** The touch window the positional attribution models share:
    * purchases (pid, tp, micro-grid qv) and the purchase ⋈ click pairs
    * on user_id whose click lands STRICTLY before the purchase and
    * within `windowDays` of it (the funnel convention). */
  private def touchWindow(events: DataFrame,
                          windowDays: Int): (DataFrame, DataFrame) = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val wUs = windowDays.toLong * 86400L * 1000000L
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("tc"),
        col("event_id").as("click_id"),
        itemKey.as("item"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tp"),
        col("event_id").as("pid"), micro(col("value")).as("qv"))
    (purchases, purchases.join(clicks, Seq("user_id"))
      .filter(col("tc") < col("tp") && col("tc") >= col("tp") - wUs))
  }

  /** The per-item attribution report over touches carrying an integer
    * micro `share`: touches, purchases and attributed dollars per item,
    * plus the explicit item −1 (UNATTRIBUTED) row for purchases with no
    * in-window touch — a silent drop would make the report lie about
    * totals. */
  private def attributionReport(purchases: DataFrame,
                                touches: DataFrame): DataFrame = {
    val attributed = touches
      .groupBy("item")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("pid")).as("n_purchases"),
        sum("share").as("micros"))
    val unattributed = purchases
      .join(touches.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .agg(count(lit(1)).as("n_purchases"), sum("qv").as("micros"))
      .select(lit(-1L).as("item"), lit(0L).as("n_touches"),
        col("n_purchases"), coalesce(col("micros"), lit(0L)).as("micros"))
    attributed.select(col("item"), col("n_touches"), col("n_purchases"),
        col("micros"))
      .unionByName(unattributed.filter(col("n_purchases") > 0))
      .select(col("item"), col("n_touches"), col("n_purchases"),
        graft.functions.TextF.microsTo4dp(col("micros")).as("attributed_usd"))
      .orderBy("item")
  }

  /** Linear multi-touch revenue attribution — the ads-measurement
    * counterpart of [[AsofJoin]]'s last-touch: each purchase's value
    * splits EQUALLY over the user's clicks in the preceding
    * `windowDays` (strictly-before, the funnel convention), and the
    * per-item rollup is the "which placement earns the money" report
    * every mediation pipeline ships next to its CTR table. Purchases
    * with no in-window click land on the explicit item −1
    * (UNATTRIBUTED) row — silent drops would make the report lie
    * about totals. Integer-exact to the micro: each touch takes
    * |qv| div n, the |qv| mod n remainder goes one micro each to the
    * EARLIEST touches (time, id order), and the share re-signs by
    * sign(qv) — magnitude division sidesteps toward-zero truncation
    * on negatives, so Σ attributed ≡ Σ purchase value holds for
    * refunds too (the [[shapleyAttributionOf]] sign-split),
    * BehaviorSpec-pinned, no float splitting.
    *
    * Shape: purchases ⋈ clicks is a user-keyed equijoin (AQE sizes
    * it) whose expansion is bounded by per-user purchases × in-window
    * clicks; the share window partitions by PURCHASE id (high
    * cardinality — no skew ceiling); the item rollup is
    * map-combinable. */
  def linearAttributionOf(events: DataFrame, windowDays: Int = 3): DataFrame = {
    val (purchases, inWindow) = touchWindow(events, windowDays)
    val byPurchase = Window.partitionBy("pid")
    val touches = inWindow
      .withColumn("n", count(lit(1)).over(byPurchase))
      .withColumn("rk", row_number().over(
        byPurchase.orderBy(col("tc"), col("click_id"))))
      .withColumn("share",
        (expr("abs(qv) div n") +
          when(col("rk") <= expr("abs(qv) % n"), 1L).otherwise(0L)) *
          when(col("qv") < 0, -1L).otherwise(1L))
    attributionReport(purchases, touches)
  }

  /** Time-decay multi-touch attribution — the third positional model
    * completing the triple (row 33 last-touch crowns the closer, row
    * 271 linear splits evenly, this one says RECENCY EARNS SHARE:
    * each click in the window weighs 2^(windowDays − age_days), so a
    * same-day touch outweighs a 2-day-old one 4:1 at the default
    * 3-day window; [[markovAttributionOf]] is the counterfactual
    * alternative). Same touch-window contract as
    * [[linearAttributionOf]] — clicks strictly before the purchase,
    * within windowDays; purchases with no touch land on item −1.
    *
    * Conservation is EXACT: integer micro shares |qv|·w div Σw with
    * the remainder (< n_touches micros) distributed +1 by RECENCY
    * rank — the decay model's tiebreak, where linear gives it to the
    * earliest — and the share re-signed by sign(qv) (the
    * [[shapleyAttributionOf]] sign-split: dividing the MAGNITUDE
    * keeps the remainder non-negative, so the rk ≤ rem top-up fires
    * for refunds too and shares sum to qv bit-exactly per purchase
    * for either sign, spec-pinned). Weights are powers of two by
    * shiftleft (no doubles).
    *
    * Shape: identical to row 271 — purchases ⋈ clicks on user_id
    * (both sides pre-filtered map-side), per-purchase windows over
    * the ≤ window-sized touch frame, one item aggregate. */
  def decayAttributionOf(events: DataFrame, windowDays: Int = 3): DataFrame = {
    val (purchases, inWindow) = touchWindow(events, windowDays)
    val byPurchase = Window.partitionBy("pid")
    val touches = inWindow
      .withColumn("age", expr("(tp - tc) div 86400000000"))
      .withColumn("w", expr(
        s"shiftleft(CAST(1 AS BIGINT), CAST($windowDays - age AS INT))"))
      .withColumn("tw", sum("w").over(byPurchase))
      .withColumn("base", expr("(abs(qv) * w) div tw"))
      .withColumn("rk", row_number().over(
        byPurchase.orderBy(col("tc").desc, col("click_id"))))
      .withColumn("rem", abs(col("qv")) - sum("base").over(byPurchase))
      .withColumn("share",
        (col("base") + when(col("rk") <= col("rem"), 1L).otherwise(0L)) *
          when(col("qv") < 0, -1L).otherwise(1L))
    attributionReport(purchases, touches)
  }

  /** Day-over-day audience overlap: Jaccard between consecutive days'
    * active-user SETS plus the retained share — the daily-churn read
    * behind [[cohortRetentionOf]]'s cohort triangles (cohorts answer
    * "do January users come back"; this answers "how much of
    * YESTERDAY's audience is here today", the number a DAU dashboard
    * pairs with its totals). Exact set arithmetic: (user, day)
    * dedup first (activity volume never inflates overlap), common =
    * one user-keyed self-equijoin on (user, day+1), sizes from the
    * same deduped frame; Jaccard and retained share by one division
    * each, 4 dp / exact ppm. Days without a successor emit nothing
    * (no pair exists).
    *
    * Shape: the dedup is the only fact-scale shuffle; the overlap
    * join is user-keyed (AQE-sized), the day frames are bounded. */
  def audienceOverlapOf(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .localCheckpoint(false) // sizes + both join sides read it
    val sizes = ud.groupBy("day").agg(count(lit(1)).as("n"))
    val common = ud
      .join(ud.select(col("user_id"), date_sub(col("day"), 1).as("day")),
        Seq("user_id", "day"))
      .groupBy("day").agg(count(lit(1)).as("n_common"))
    sizes
      .join(sizes.select(date_sub(col("day"), 1).as("day"),
        col("n").as("n_next")), Seq("day"))
      .join(common, Seq("day"), "left")
      .select(col("day"), col("n").as("n_users"), col("n_next"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .select(col("day"), col("n_users"), col("n_next"), col("n_common"),
        graft.functions.TextF.round4HalfUp(col("n_common").cast("double")
          / (col("n_users") + col("n_next") - col("n_common")).cast("double"))
          .as("jaccard"),
        expr("(n_common * 1000000) div n_users").as("retained_ppm"))
      .orderBy("day")
  }

  /** Audience growth curve — cumulative distinct users by FIRST-seen
    * day (the "total users ever" line every dashboard draws;
    * [[audienceOverlapOf]] reads day-over-day churn, this reads
    * lifetime acquisition): each user counts exactly once, on the day
    * of their first event, and the running sum of those daily cohort
    * sizes IS the cumulative distinct-user count — a cumulative
    * COUNT(DISTINCT) window over facts would hold per-day user sets
    * in window state; first-seen attribution gets the same number
    * from one user-keyed min and a calendar-bounded running sum.
    * Also reports each day's active users, so the new/active ratio
    * (the acquisition-vs-retention mix) reads off the row.
    *
    * Shape: one user-keyed min aggregate + one (user, day) dedup at
    * fact scale; both daily frames and the running-sum window are
    * calendar-bounded. */
  def userGrowthOf(events: DataFrame): DataFrame = {
    val byDay = events.select(col("user_id"), to_date(col("ts")).as("day"))
    val firstSeen = byDay.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new_users"))
    val active = byDay.distinct()
      .groupBy("day").agg(count(lit(1)).as("n_active_users"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(firstSeen, Seq("day"), "left")
      .select(col("day"), col("n_active_users"),
        coalesce(col("n_new_users"), lit(0L)).as("n_new_users"))
      .withColumn("cum_users", sum("n_new_users").over(cum))
      .orderBy("day")
  }

  /** Trending items (exponentially decayed interaction counts, top-k):
    * [[decayedEngagementOf]]'s integer-exact λ=½ machinery keyed by
    * ITEM — each interaction weighs 2^(−age) and the top-k by decayed
    * score is the "what's hot NOW" rail, where a raw count would
    * crown last week's spike forever. Weights ride the 2^(horizon−age)
    * integer grid (order-independent sums, int64 headroom bound
    * documented at [[decayedEngagementOf]]); the top-k is a global
    * TakeOrdered (never a full sort), rank assigned on the k-row
    * result frame; ties break to the smaller item id. */
  def trendingItemsOf(events: DataFrame, horizon: Int = 20,
                      k: Int = 20): DataFrame = {
    require(horizon > 0 && horizon < 60, s"horizon in (0,60), got $horizon")
    require(k > 0, s"k must be positive, got $k")
    val maxDay = reportDate(events)
    val top = events
      .select(to_date(col("ts")).as("day"),
        itemKey.as("item"))
      .crossJoin(broadcast(maxDay)) // 1 row by construction
      .withColumn("age", datediff(col("report_date"), col("day")))
      .filter(col("age") <= horizon)
      .select(col("item"), expr(s"shiftleft(1L, $horizon - age)").as("w"))
      .groupBy("item")
      .agg(count(lit(1)).as("n_events"), sum("w").as("wsum"))
      .orderBy(col("wsum").desc, col("item"))
      .limit(k)
    top // k rows: the rank window is bounded by construction
      .withColumn("rank", row_number().over(
        Window.orderBy(col("wsum").desc, col("item"))))
      .select(col("rank"), col("item"), col("n_events"),
        graft.functions.TextF.round4HalfUp(
          col("wsum").cast("double") / lit((1L << horizon).toDouble))
          .as("score"))
      .orderBy("rank")
  }

  /** Funnel split by experiment arm — the A/B read on the FUNNEL
    * ([[abTestOf]] tests one conversion event; treatments usually
    * move a STEP, and this shows which): [[funnelStepsOf]]'s chained
    * strictly-after min-aggregates computed per md5-parity arm (the
    * [[abTestOf]] assignment, one contract), per-step reach and
    * conversion vs the arm's OWN step-1 base, and the
    * treatment-minus-control gap in percentage points. Same exact
    * integer-µs ordering; the floor-form rounding on each published
    * number; arms ride the group keys so the chain is still three
    * shrinking user-keyed aggregates — no window touches facts.
    */
  def funnelByArmOf(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), arm2(col("user_id")).as("arm"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("arm", "user_id").agg(min("us").as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("arm", "user_id")).filter(col("us") > col("t1"))
      .groupBy("arm", "user_id").agg(min("us").as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("arm", "user_id")).filter(col("us") > col("t2"))
      .groupBy("arm", "user_id").agg(min("us").as("t3"))
    val rows = Seq(("view", 1, v), ("click", 2, c), ("purchase", 3, p))
      .map { case (name, ord, df) =>
        df.agg(
          sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("users_0"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("users_1"))
          .select(lit(name).as("step"), lit(ord).as("ord"),
            coalesce(col("users_0"), lit(0L)).as("users_0"),
            coalesce(col("users_1"), lit(0L)).as("users_1"))
      }.reduce(_.unionAll(_))
    val whole = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    rows
      .withColumn("base_0",
        max(when(col("ord") === 1, col("users_0"))).over(whole))
      .withColumn("base_1",
        max(when(col("ord") === 1, col("users_1"))).over(whole))
      .select(col("step"), col("ord"), col("users_0"), col("users_1"),
        convPct(col("users_0"), col("base_0")).as("conv_pct_0"),
        convPct(col("users_1"), col("base_1")).as("conv_pct_1"))
      .withColumn("lift_pp",
        floor((col("conv_pct_1") - col("conv_pct_0")) * 100 + 0.5) / 100)
      .orderBy("ord")
  }

  /** Sample-ratio-mismatch (SRM) guardrail — the FIRST check every
    * experiment readout runs before anyone looks at a metric: under
    * the 50/50 [[arm2]] assignment the per-arm user counts should be
    * binomially close; a skewed split means the assignment or logging
    * is broken and every downstream readout ([[abTestOf]],
    * [[cupedAdjustOf]], [[didReadoutOf]], …) is invalid. Per event
    * type (the experiment proxy): distinct EXPOSED users per arm, the
    * observed arm-0 share in exact ppm (integer div), the 1-df
    * chi-square (n0−n1)²/(n0+n1) — integer numerator and denominator,
    * ONE double division, 4 dp half-up — and `srm` = χ² > 3.8415
    * (the χ²₁ 95% critical value, a literal constant like
    * [[anovaFOf]]'s 2.9957: exact at the N this targets).
    *
    * Shape: one (type, user) dedup shuffle (the [[abTestOf]]
    * exposure-dedup move), then a map-combinable per-type aggregate
    * over the deduped frame with the arm derived map-side from the
    * user id — the bounded |types| frame carries everything after. */
  def srmCheckOf(events: DataFrame): DataFrame = {
    val exposed = events.select(col("event_type"), col("user_id")).distinct()
      .withColumn("arm", arm2(col("user_id")))
    val d = col("n0") - col("n1")
    val chi2 = (d * d).cast("double") / (col("n0") + col("n1")).cast("double")
    exposed.groupBy("event_type")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"))
      .select(col("event_type"), col("n0"), col("n1"),
        expr("(n0 * 1000000) div (n0 + n1)").as("arm0_ppm"),
        graft.functions.TextF.round4HalfUp(chi2).as("chi2"),
        (chi2 > 3.8415).as("srm"))
      .orderBy("event_type")
  }

  /** Minimum detectable effect / power sizing — the question asked
    * BEFORE the experiment ships ([[abTestOf]] answers after): with
    * the users and per-user value variance this event type actually
    * has, what's the smallest lift a two-sided α=0.05 test detects
    * with 80% power? MDE = (z₀.₉₇₅ + z₀.₈) · √(s₀²/n₀ + s₁²/n₁) with
    * the Φ⁻¹ literals 1.959964 + 0.841621 = 2.801585 (the literal-
    * constant rule of [[Robust.ksTestOf]]'s 1.358). Unit of analysis
    * is the USER (the randomization unit — per-event moments
    * understate user-level variance): per-user micro-exact value
    * sums, then per-(type, arm) moments n/Σv/Σv² in decimal(38,0)
    * (Σv² crosses int64 the way [[anovaFOf]] documents), pivoted to
    * fixed arm order so the double combination — two sample
    * variances, one sqrt, the literal multiply — runs in ONE
    * deterministic sequence on both engines. Zero-variance arms
    * clamp at 0 via greatest (exact-integer cancellation can land
    * −ε); types with an arm of ≤1 user are dropped (no variance
    * estimate). `mde_rel` is the lift relative to the CONTROL mean.
    *
    * Shape: one (type, user) shuffle for the per-user sums, one
    * map-combinable moment aggregate, then arithmetic on the bounded
    * |types| frame. */
  def mdePowerOf(events: DataFrame): DataFrame = {
    val per = events
      .select(col("event_type"), col("user_id"),
        micro(col("value")).as("vq"))
      .groupBy("event_type", "user_id")
      .agg(sum("vq").as("uv"))
      .withColumn("arm", arm2(col("user_id")))
    val wide = pivot(moments(per, Seq("event_type", "arm"), "uv"),
        Seq("event_type"), levels("arm", 2), "n", "s", "ss")
      .filter(col("n0") > 1 && col("n1") > 1)
    def d(c: Column) = c.cast("double")
    def variance(s: Column, ss: Column, n: Column): Column =
      greatest((d(ss) - d(s) * d(s) / d(n)) / (d(n) - lit(1.0)), lit(0.0))
    val se = sqrt(variance(col("s0"), col("ss0"), col("n0")) / d(col("n0")) +
      variance(col("s1"), col("ss1"), col("n1")) / d(col("n1")))
    wide.select(col("event_type"), col("n0"), col("n1"),
        r4(d(col("s0")) / d(col("n0")) / 1e6).as("mean0"),
        r4(lit(2.801585) * se / 1e6).as("mde_abs"),
        r4(lit(2.801585) * se /
          nullif(d(col("s0")) / d(col("n0")), lit(0.0))).as("mde_rel"))
      .orderBy("event_type")
  }

  /** Simpson's-paradox audit per event type (Simpson '51 / the
    * Bickel-Berkeley read): does the AGGREGATE arm difference point
    * the same way as the per-stratum differences, stratified by
    * weekday — the confounder a time-imbalanced rollout most often
    * hides behind (one arm over-exposed on high-value days reads as
    * a treatment effect in the aggregate while losing inside every
    * weekday)? The audit every flat A/B readout ([[abTestOf]],
    * [[welchTestOf]]) silently assumes away.
    *
    * Determinism: every SIGN is integer-exact — a stratum's mean
    * difference sign is sign(s1·n0 − s0·n1) on the decimal(38,0)
    * micro-grid cross-products, never a double subtraction; only the
    * published overall_diff is a (rounded) double. A stratum is
    * comparable iff both arms observed it; `strict_reversal` fires
    * when the aggregate sign is contradicted by EVERY comparable
    * stratum (zero-sign strata block strictness), `reversed_share`
    * publishes the weak version.
    *
    * Scale: ONE map-side-combinable (type, weekday, arm) aggregate
    * over the facts — ≤ types×7×2 rows; everything after folds on
    * that bounded frame. Weekday is plain truncating % (the repo-wide
    * convention both engines share). */
  def simpsonReversalOf(events: DataFrame): DataFrame = {
    val cell = events
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .as("dow"),
        arm2(col("user_id")).as("arm"),
        micro(col("value")).as("vq"))
      .groupBy("event_type", "dow", "arm")
      .agg(count(lit(1)).as("n"), sum(col("vq").cast(Dec)).as("s"))
    val Seq(a0, a1) = levels("arm", 2).map(_._2)
    val strata = cell.groupBy("event_type", "dow")
      .agg(coalesce(cellMax("n", a0), lit(0L)).as("n0"),
        coalesce(cellMax("n", a1), lit(0L)).as("n1"),
        coalesce(cellMax("s", a0), lit(0L).cast(Dec)).as("s0"),
        coalesce(cellMax("s", a1), lit(0L).cast(Dec)).as("s1"))
      .withColumn("cmp", col("n0") > 0 && col("n1") > 0)
      // integer-exact mean-difference sign: m1 > m0 ⇔ s1·n0 > s0·n1
      .withColumn("sgn", expr(
        """CASE WHEN s1 * n0 > s0 * n1 THEN 1
          |     WHEN s1 * n0 < s0 * n1 THEN -1 ELSE 0 END""".stripMargin))
    val perType = strata.groupBy("event_type").agg(
      sum("n0").as("n0"), sum("n1").as("n1"),
      sum("s0").as("s0"), sum("s1").as("s1"),
      sum(when(col("cmp"), 1L).otherwise(0L)).as("n_strata"),
      sum(when(col("cmp") && col("sgn") === 1, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("cmp") && col("sgn") === -1, 1L).otherwise(0L)).as("n_neg"))
    perType.filter(col("n0") > 0 && col("n1") > 0)
      .withColumn("overall_sign", expr(
        """CASE WHEN s1 * n0 > s0 * n1 THEN 1
          |     WHEN s1 * n0 < s0 * n1 THEN -1 ELSE 0 END"""
          .stripMargin).cast("int"))
      .select(col("event_type"), col("n_strata"), col("n_pos"), col("n_neg"),
        graft.functions.TextF.round6HalfUp(expr(
          """(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            | - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 1e6"""
            .stripMargin)).as("overall_diff"),
        col("overall_sign"),
        (col("n_strata") > 0 &&
          ((col("overall_sign") === 1 && col("n_neg") === col("n_strata")) ||
           (col("overall_sign") === -1 && col("n_pos") === col("n_strata"))))
          .as("strict_reversal"),
        when(col("n_strata") === 0 || col("overall_sign") === 0,
          lit(null).cast("double")).otherwise(
          graft.functions.TextF.round4HalfUp(
            when(col("overall_sign") === 1, col("n_neg")).otherwise(col("n_pos"))
              .cast("double") / col("n_strata").cast("double")))
          .as("reversed_share"))
      .orderBy("event_type")
  }

  /** Delete-one-group jackknife SE for the ratio metric "mean value
    * per active user" per event type (Quenouille/Tukey; the
    * cluster-robust experiment readout): user-level metrics are
    * ratios of sums, so the i.i.d.-row SE every naive readout
    * computes is WRONG whenever users contribute multiple events —
    * the jackknife over user-hash buckets is how production
    * experiment platforms publish honest CIs for ratio metrics
    * without a per-user resample.
    *
    * θ = Σv / |users|; buckets partition USERS (md5 "jk:" salt, mod
    * `buckets`), so leave-one-bucket-out totals are exact decimal
    * subtractions of the bucket row from the type row. Each θ_(b) is
    * one double division quantized to the 1e-6 value grid (a LONG —
    * the SE moments then fold integer-exact in decimal(38,0); the
    * grid's ±5e-7 per-replicate bias is second-order against the
    * replicate spread and documented here). SE = √((B−1)(B·Σt² −
    * (Σt)²))/B on nonempty buckets B; B < 2 refuses with NULL se/ci
    * (jackknife needs replicates). CI is θ ± 1.96·se.
    *
    * Scale: ONE (type, bucket) aggregate with a distinct-user count
    * inside (map-side partial into ≤ types×B groups), then folds on
    * the ≤ B-row frame. */
  def jackknifeRatioSeOf(events: DataFrame, buckets: Int = 32): DataFrame = {
    require(buckets >= 2 && buckets <= 1024,
      s"buckets in [2,1024], got $buckets")
    val per = events
      .select(col("event_type"), col("user_id"),
        (conv(substring(md5(concat(lit("jk:"),
          col("user_id").cast("string"))), 1, 8), 16, 10).cast("long")
          % buckets).as("b"),
        micro(col("value")).as("vq"))
      .groupBy("event_type", "b")
      .agg(countDistinct("user_id").as("u"), sum(col("vq").cast(Dec)).as("s"))
    // NO checkpoint although three consumers reference this frame:
    // it ends at an exchange, so AQE's ReuseExchange dedupes the
    // heavy aggregate at runtime (the pre-AQE plan's 3 scans are
    // cosmetic) — paired ×100 runs read checkpoint-NEUTRAL here
    // (within the ±10% ambient band; §6 r17), so the simpler
    // uncheckpointed form stands
    val tot = per.groupBy("event_type")
      .agg(sum("u").as("uu"), sum("s").as("stot"),
        count(lit(1)).as("nb"))
    val reps = per.join(tot, "event_type")
      .select(col("event_type"),
        // θ_(b) on the 1e-6 value grid, as a long (micro units/user)
        floor(expr("CAST(stot - s AS DOUBLE)")
          / nullif(expr("CAST(uu - u AS DOUBLE)"), lit(0.0)) + lit(0.5))
          .cast("long").as("t"))
    val fold = reps.groupBy("event_type")
      .agg(sum(col("t").cast(Dec)).as("st"),
        sum(expr(s"CAST(t AS $Dec) * t")).as("stt"))
    tot.join(fold, "event_type")
      .select(col("event_type"), col("uu").as("n_users"),
        col("nb").as("n_buckets"),
        graft.functions.TextF.round6HalfUp(
          expr("CAST(stot AS DOUBLE) / CAST(uu AS DOUBLE) / 1e6"))
          .as("theta"),
        when(col("nb") < 2, lit(null).cast("double")).otherwise(
          graft.functions.TextF.round6HalfUp(expr(
            """sqrt(CAST((nb - 1) * (nb * stt - st * st) AS DOUBLE))
              | / CAST(nb AS DOUBLE) / 1e6""".stripMargin)))
          .as("jk_se"))
      .withColumn("ci_lo",
        graft.functions.TextF.round6HalfUp(
          col("theta") - lit(1.96) * col("jk_se")))
      .withColumn("ci_hi",
        graft.functions.TextF.round6HalfUp(
          col("theta") + lit(1.96) * col("jk_se")))
      .orderBy("event_type")
  }

  /** A/A calibration battery per event type (the experiment-platform
    * hygiene run BEFORE trusting any A/B readout: split users into
    * `cells` md5 cells, pair them into cells/2 disjoint NULL
    * pseudo-experiments, run the [[welchTestOf]] z on each — a
    * healthy platform flags ~5% at |z| > 1.96; a fat flag share means
    * the i.i.d. assumptions are broken for THIS metric and every real
    * readout's false-positive rate is understated): per type the test
    * count, flagged count, flag share, and the battery's max |z|
    * (quantized to the 1e-6 grid before the max — engine-exact).
    *
    * Determinism: per-cell moments exact (micro-grid decimal(38,0)),
    * each z one fixed double chain pivoted to FIXED parity order
    * ([[welchTestOf]]'s convention); pairs with either side n ≤ 1
    * drop from the battery (no z exists).
    *
    * Scale: ONE (type, cell) map-combinable fact aggregate — ≤
    * types×cells rows; the pairing, z chain and rollup fold on that
    * bounded frame. */
  def aaCalibrationOf(events: DataFrame, cells: Int = 32): DataFrame = {
    require(cells >= 4 && cells <= 256 && cells % 2 == 0,
      s"cells even in [4,256], got $cells")
    val byCell = events
      .select(col("event_type"),
        (conv(substring(md5(concat(lit("aa:"),
          col("user_id").cast("string"))), 1, 8), 16, 10).cast("long")
          % cells).as("cell"),
        micro(col("value")).as("vq"))
    val per = moments(byCell, Seq("event_type", "cell"), "vq")
      .withColumn("pair", expr("cell div 2"))
      .withColumn("par", expr("cell % 2"))
    val z = pivot(per, Seq("event_type", "pair"), levels("par", 2), "n", "s", "ss")
      .filter(col("n0") > 1 && col("n1") > 1)
      .withColumn("zq", micro(abs(expr(
        """(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          | - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
          |/ NULLIF(sqrt(
          |   (CAST(ss0 AS DOUBLE)
          |    - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
          |   / CAST(n0 - 1 AS DOUBLE) / CAST(n0 AS DOUBLE)
          | + (CAST(ss1 AS DOUBLE)
          |    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          |   / CAST(n1 - 1 AS DOUBLE) / CAST(n1 AS DOUBLE)), 0.0)"""
          .stripMargin))))
      .filter(col("zq").isNotNull)
    z.groupBy("event_type")
      .agg(count(lit(1)).as("n_tests"),
        sum(when(col("zq") > 1960000L, 1L).otherwise(0L)).as("n_flagged"),
        max("zq").as("mzq"))
      .select(col("event_type"), col("n_tests"), col("n_flagged"),
        graft.functions.TextF.round4HalfUp(
          col("n_flagged").cast("double") / col("n_tests").cast("double"))
          .as("flag_share"),
        (col("mzq").cast("double") / lit(1e6)).as("max_abs_z"))
      .orderBy("event_type")
  }

  /** Trigger-dilution readout (Deng/Microsoft's triggered-analysis
    * discipline): an ITT effect measured over EVERYONE is diluted by
    * the users who never hit the feature's trigger — the honest pair
    * of numbers is the intent-to-treat ATE over the full population
    * AND the ATE restricted to triggered users (here: users with ≥ 1
    * `triggerType` event), with the dilution ratio between them. A
    * ratio ≈ the trigger rate says the effect lives entirely inside
    * the triggered slice (the standard sanity identity); a ratio
    * above it says the metric moved on users who never saw the
    * feature — a red flag for the bucketing or the metric.
    *
    * Per event type: population/triggered user counts per arm
    * (users absent from a type contribute an exact 0 — the ITT
    * denominator is the POPULATION, not the type's actives), exact
    * micro-grid sums, both ATEs as fixed double chains, dilution =
    * ate_all / ate_triggered (NULL when the triggered ATE is zero
    * or a triggered arm is empty — a refusal, never ±Infinity).
    *
    * Scale: one distinct-user pass (the population frame), one
    * trigger semi-join frame, two (type, arm) sum aggregates — all
    * map-combinable; the pivots fold on ≤ types×2 rows. The base
    * projection is re-scanned per aggregate (map-only, column-pruned
    * — the profile_columns posture, cheaper than materializing a
    * fact-wide checkpoint). */
  def triggerDilutionOf(events: DataFrame,
                        triggerType: String = "view"): DataFrame = {
    val base = events.select(col("event_type"), col("user_id"),
      arm2(col("user_id")).as("arm"),
      micro(col("value")).as("vq"))
    val pop = base.select("user_id", "arm").distinct()
    val arms = levels("arm", 2)
    val popW = pivot(pop.groupBy("arm").agg(count(lit(1)).as("np")),
      Nil, arms, "np") // 1 row
    val trig = base.filter(col("event_type") === triggerType)
      .select("user_id").distinct()
    val trigW = pivot(pop.join(trig, "user_id").groupBy("arm")
      .agg(count(lit(1)).as("nt")), Nil, arms, "nt") // 1 row
    val Seq(a0, a1) = arms.map(_._2)
    val sums = base.groupBy("event_type", "arm")
      .agg(sum(col("vq").cast(Dec)).as("s"))
      .groupBy("event_type")
      .agg(coalesce(cellMax("s", a0), lit(0L).cast(Dec)).as("s0"),
        coalesce(cellMax("s", a1), lit(0L).cast(Dec)).as("s1"))
    val trigSums = base.join(trig, "user_id")
      .groupBy("event_type", "arm")
      .agg(sum(col("vq").cast(Dec)).as("s"))
      .groupBy("event_type")
      .agg(coalesce(cellMax("s", a0), lit(0L).cast(Dec)).as("st0"),
        coalesce(cellMax("s", a1), lit(0L).cast(Dec)).as("st1"))
    sums.join(trigSums, Seq("event_type"), "left")
      .crossJoin(broadcast(popW)).crossJoin(broadcast(trigW))
      .filter(col("np0") > 0 && col("np1") > 0)
      .withColumn("ate_all_raw", expr(
        """(CAST(s1 AS DOUBLE) / CAST(np1 AS DOUBLE)
          | - CAST(s0 AS DOUBLE) / CAST(np0 AS DOUBLE)) / 1e6"""
          .stripMargin))
      .withColumn("ate_trig_raw",
        when(col("nt0").isNull || col("nt1").isNull ||
             col("nt0") === 0 || col("nt1") === 0 ||
             col("st0").isNull || col("st1").isNull,
          lit(null).cast("double")).otherwise(expr(
          """(CAST(st1 AS DOUBLE) / CAST(nt1 AS DOUBLE)
            | - CAST(st0 AS DOUBLE) / CAST(nt0 AS DOUBLE)) / 1e6"""
            .stripMargin)))
      .select(col("event_type"),
        (col("np0") + col("np1")).as("n_users"),
        (coalesce(col("nt0"), lit(0L)) + coalesce(col("nt1"), lit(0L)))
          .as("n_triggered"),
        expr("""CAST((COALESCE(nt0, 0) + COALESCE(nt1, 0)) * 1000000
               |  div (np0 + np1) AS BIGINT)""".stripMargin)
          .as("trigger_rate_ppm"),
        r6(col("ate_all_raw")).as("ate_all"),
        r6(col("ate_trig_raw")).as("ate_triggered"),
        r6(col("ate_all_raw") /
          nullif(col("ate_trig_raw"), lit(0.0))).as("dilution_ratio"))
      .orderBy("event_type")
  }
}
