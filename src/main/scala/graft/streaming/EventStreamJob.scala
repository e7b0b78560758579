package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.Sinks

/** Structured-Streaming form of the CTR pipeline: the reference runs
  * its detector as a daily cron (native_CTR_alerts.py); here the same
  * clicks/impressions ratio is maintained continuously over event-time
  * windows with a watermark bounding state.
  *
  * The transform is source-agnostic: feed it a streaming DataFrame
  * (Kafka, files, MemoryStream in tests) with (ts, user_id,
  * event_type) and write the result with `writeStream`.
  */
object EventStreamJob {

  /** The watermark delay of every windowed operator here: events later
    * than this are dropped, and window and join state is reclaimed. */
  private val Lateness = "2 hours"

  /** Windowed distinct-user reach per event type: 1-hour tumbling
    * windows, approx_count_distinct so the per-window state is a
    * fixed-size HLL sketch (merged incrementally across micro-batches)
    * instead of an unbounded seen-set — the only distinct-count shape
    * that survives a 100 TB stream. rsd 2%, same as the batch twin
    * (CtrAlerts.approxDistinctUsers). */
  def windowedReach(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct("user_id", 0.02).as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("approx_users"))

  /** Gap sessionization on Spark's NATIVE `session_window` aggregate —
    * the declarative twin of [[StreamingSessionize]]'s
    * flatMapGroupsWithState form: the engine merges overlapping
    * per-event gap windows into sessions and watermark-closes them,
    * so the whole operator is one groupBy — no hand-rolled state,
    * Catalyst owns the merge (the form to prefer when per-session
    * logic is pure aggregation; drop to the stateful form only for
    * custom emission/state semantics, per the library's Spark-first
    * rule). Same session contract as the batch/stateful forms:
    * event-time gap close, counts + span per (user, session). */
  def sessionWindowCounts(events: DataFrame,
                          gapMinutes: Int = 30): DataFrame = {
    require(gapMinutes > 0, s"gapMinutes must be positive, got $gapMinutes")
    events
      .withWatermark("ts", Lateness)
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
  }

  /** Windowed value percentiles per event type — the latency/revenue
    * distribution monitor, streamed: 1-hour tumbling windows, p50/p90/
    * p99 via `approx_percentile`, whose per-window state is the SAME
    * fixed-size mergeable sketch the batch twin uses
    * (Report.earningsPercentilesApprox, SURVEY row 67) — merged
    * incrementally across micro-batches, never a buffered value list,
    * the only percentile shape that survives a 100 TB stream. The
    * watermark bounds window state exactly like [[windowedReach]]. */
  def windowedPercentiles(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        expr("approx_percentile(value, array(0.5D, 0.9D, 0.99D), 10000)")
          .as("ps"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        round(element_at(col("ps"), 1), 4).as("p50"),
        round(element_at(col("ps"), 2), 4).as("p90"),
        round(element_at(col("ps"), 3), 4).as("p99"),
        col("n_events"))

  /** Stream-stream click attribution, last-touch: each click joins the
    * same user's views from the preceding `windowHours` and keeps the
    * MOST RECENT one (the streaming twin of the batch as-of join,
    * AsofJoin.clickAttribution — the raw join alone would fan out one
    * row per (click, view) pair and double-count clicks). Both inputs
    * carry watermarks AND the join predicate bounds the event-time
    * distance — the two facts Spark needs to derive state-eviction
    * bounds for both join buffers; the chained max-aggregate keys on
    * the watermarked click time, so its state also evicts. Clicks are
    * identified by (user, click_ts): exact same-microsecond duplicate
    * clicks collapse to one attribution row.
    */
  def clickViewJoin(views: DataFrame, clicks: DataFrame,
                    windowHours: Int = 1): DataFrame = {
    require(windowHours > 0, s"windowHours must be positive, got $windowHours")
    require(windowHours <= 2,
      s"windowHours ($windowHours) must fit inside the 2-hour watermarks " +
        "or matches near the horizon are silently dropped")
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", Lateness)
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", Lateness)
    c.join(v,
      expr(s"""c_user = v_user AND
               click_ts >= view_ts AND
               click_ts <= view_ts + INTERVAL $windowHours HOUR"""))
      .groupBy(col("c_user").as("user_id"), col("click_ts"))
      .agg(max("view_ts").as("view_ts"))
      .select(col("user_id"), col("view_ts"), col("click_ts"))
  }

  /** Streaming → warehouse bridge: lands every micro-batch through the
    * batch sink's idempotent daily partition overwrite
    * ([[Sinks.idempotentDailyAppend]]), so a REPLAYED micro-batch
    * (restart from checkpoint) rewrites its days instead of
    * duplicating them — effectively-once into a plain parquet
    * warehouse, no transactional table format needed.
    *
    * Contract: batches must be day-grained (a daily trigger, or
    * backfill replay of whole days). Dynamic partition overwrite
    * replaces each date present in the batch, so a day SPLIT across
    * micro-batches would clobber its earlier half — for continuous
    * intra-day streaming use the windowed aggregates above instead.
    */
  def dailyWarehouseSink(events: DataFrame, path: String): DataStreamWriter[Row] =
    events.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Sinks.idempotentDailyAppend(
          batch.withColumn("date", to_date(col("ts")).cast("string")),
          path, "date")
      }

  /** Stream-static dimension enrichment: join the event stream to a
    * batch dimension table (the standard Kafka-facts ⋈ warehouse-dim
    * shape). Stream-static joins keep NO join state — each micro-batch
    * joins against the static side as a plain batch join, so there is
    * no watermark requirement and nothing to evict; Spark re-plans the
    * static side per batch, and AQE/size thresholds decide broadcast
    * vs shuffle exactly as in the batch engine. Left join: facts with
    * no dimension row survive with NULL attributes (an inner join
    * would silently drop late-created dimension keys — the FK-orphan
    * problem Warehouse.fkCoverageOf audits in batch).
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
      dim.select(col("key").as("user_id"), col("segment")),
      Seq("user_id"), "left")
      .select(col("ts"), col("user_id"), col("event_type"),
        col("segment"))

  /** Streaming corpus-quality monitor — the continuous twin of the
    * batch quality/mojibake screens ([[graft.operators.TextAnalysis]]):
    * a crawl feeds documents as a stream of (ts, source, text) and the
    * monitor maintains per-(window, source) intake health — doc count,
    * mean quality (exact integer sum of the 4dp-quantized per-doc
    * score — partial-aggregate mergeable across micro-batches, unlike
    * a float mean), low-quality count, and encoding-artifact hits —
    * the dashboard that catches a source going bad within an hour
    * instead of at the next nightly batch.
    *
    * State: one row per (window, source) — bounded by the source
    * vocabulary × watermark horizon; the per-doc scoring is stateless
    * map-side work, so the 100 TB stream shape is the aggregate's,
    * not the scorer's. */
  def qualityMonitor(docs: DataFrame,
                     lowBar: Double = 0.5): DataFrame =
    docs
      .withWatermark("ts", Lateness)
      .select(col("ts"), col("source"),
        graft.functions.TextF.grid4(graft.functions.TextF.qualityScore(
          col("text"), graft.operators.TextAnalysis.Stopwords)).as("q4"),
        size(regexp_extract_all(col("text"),
          lit(graft.operators.TextAnalysis.MojibakeRe), lit(0)))
          .cast("long").as("moji"))
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum("q4").as("q4_sum"),
        sum(when(col("q4") < (lowBar * 1e4).toLong, 1L).otherwise(0L))
          .as("low_quality"),
        sum("moji").as("artifact_hits"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_docs"), col("low_quality"), col("artifact_hits"),
        graft.functions.TextF.round4HalfUp(
          col("q4_sum").cast("double") / col("n_docs").cast("double") / 1e4)
          .as("mean_quality"))

  /** Streaming distribution-drift monitor — the continuous twin of the
    * batch TVD report ([[graft.operators.Robust.distributionDriftOf]],
    * SURVEY row 108): live traffic vs a FROZEN reference distribution,
    * which is how production drift monitoring actually runs (the batch
    * form's shared two-period bin edges need both periods complete; a
    * stream has no "complete"). The static side precomputes, per
    * event_type, the reference bounds and a `bins`-bucket histogram;
    * each event stream-static-joins to its type's frame (no join
    * state), buckets on the REFERENCE edges — out-of-range values
    * clamp into the edge bins, so a range shift registers as edge-bin
    * drift rather than vanishing — and a windowed aggregate maintains
    * the per-(window, type) histogram as `bins` conditional sums:
    * fixed-size, partial-aggregate-mergeable state across
    * micro-batches (the HLL-sketch argument, row 68). TVD folds the
    * two histograms per GROUP (not per event), |p−q| quantized to the
    * batch twin's integer 1e-9 grid so the sum is order-independent.
    *
    * Types absent from the reference are dropped (inner join): drift
    * against nothing is undefined — the batch twin's empty-period
    * exclusion. A degenerate reference (mn == mx) puts all mass in
    * bucket 0 on both sides → tvd 0, same as batch.
    */
  def driftMonitor(events: DataFrame, reference: DataFrame,
                   bins: Int = 20): DataFrame = {
    require(bins > 0 && bins <= 1000, s"bins in (0,1000], got $bins")
    val bounds = reference.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"),
        count(lit(1)).as("n_ref"))
    val width = (col("mx") - col("mn")) / bins
    def bucket(clamp: Boolean) = {
      val raw = floor((col("value") - col("mn")) / width)
      val b = if (clamp) least(greatest(raw, lit(0L)), lit(bins - 1L))
        else least(raw, lit(bins - 1L))
      when(col("mx") > col("mn"), b).otherwise(lit(0L)).cast("int")
    }
    def hist = array((0 until bins).map(i =>
      sum(when(col("b") === i, 1L).otherwise(0L))): _*)
    val ref = reference.join(bounds, "event_type")
      .select(col("event_type"), bucket(clamp = false).as("b"))
      .groupBy("event_type").agg(hist.as("ref_cnts"))
      .join(bounds, "event_type") // tiny: one row per type
    val qdiff = zip_with(col("ref_cnts"), col("cnts"), (r, c) =>
      floor(abs(r.cast("double") / col("n_ref").cast("double")
        - c.cast("double") / col("n_events").cast("double")) * 1e9 + 0.5)
        .cast("long"))
    events
      .withWatermark("ts", Lateness)
      .join(ref, Seq("event_type")) // stream-static: stateless per batch
      .select(col("ts"), col("event_type"), bucket(clamp = true).as("b"),
        col("n_ref"), col("ref_cnts"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"),
        col("n_ref"), col("ref_cnts"))
      .agg(count(lit(1)).as("n_events"), hist.as("cnts"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("n_ref"),
        graft.functions.TextF.round4HalfUp(
          aggregate(qdiff, lit(0L), (acc, x) => acc + x).cast("double")
            / lit(2e9)).as("tvd"))
  }

  /** Windowed CTR per user: 1-hour tumbling event-time windows, 2-hour
    * watermark (late events beyond that are dropped and state is
    * reclaimed — unbounded state would OOM a 100 TB stream). */
  def windowedCtr(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("impressions"))
      .select(
        col("window.start").as("window_start"),
        col("user_id"), col("clicks"), col("impressions"),
        (col("clicks").cast("double") /
          nullif(col("impressions").cast("double"), lit(0.0))).as("ctr"))
}
