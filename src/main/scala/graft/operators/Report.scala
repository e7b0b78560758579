package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.functions.VariantF._
import graft.sources.Tables

/** The reference's daily-report ETL surface, Spark-first.
  *
  * The AdMob report stream (nested `dimensionValues`/`metricValues`
  * rows — main.py:58-87) is modeled by the `events` table whose `props`
  * column carries the variant-typed JSON payload; the earnings facts
  * (README.md §Sample SQL Queries) by `lineitem`.
  *
  * All money math goes through integer micros
  * (`FLOOR(price*(1-disc)*1e6)`) so sums are exact and engine-order
  * independent — at 100 TB a double SUM is not reproducible across
  * partitionings; an int64 SUM is.
  */
object Report {

  /** Earnings expression in exact integer micros. */
  def earningsMicros = // FLOOR then cast: deterministic across engines
    Behavior.microDown(col("l_extendedprice") * (lit(1.0) - col("l_discount")))

  /** Report-row ingest + flatten (main.py:58-87): nested variant payload
    * -> typed flat columns, date dim -> ISO string. */
  def reportFlatten(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("date"),
      col("event_type"),
      col("user_id"),
      Behavior.itemKey.as("k"),
      col("value")
    )

  /** Variant-typed extraction fallback chains (save_CSV.py:73-101)
    * exercised over a payload synthesized per event_type so every
    * branch of get_int/get_float is hit. */
  def variantExtract(spark: SparkSession, dir: String): DataFrame = {
    val ev = reportFlatten(spark, dir)
    val k = col("k").cast("string")
    val mv = when(col("event_type") === "click",
        concat(lit("{\"integerValue\":\""), k, lit("\"}")))
      .when(col("event_type") === "view",
        concat(lit("{\"microsValue\":\""), k, lit("000000\"}")))
      .when(col("event_type") === "purchase",
        concat(lit("{\"decimalValue\":\""), k, lit(".75\"}")))
      .when(col("event_type") === "signup",
        concat(lit("{\"value\":\""), k, lit(".25\"}")))
      .otherwise(lit("{}"))
    // Parse once per row (from_json struct), not once per extracted
    // key: the get_json_object chains cost 7 JSON parses per row.
    ev.select(col("event_id"), parseVariant(mv).as("v"))
      .select(col("event_id"),
        getIntFromStruct(col("v")).as("vi"),
        getFloatFromStruct(col("v")).as("vf"))
  }

  /** displayLabel-else-value-else-"" coalesce (save_CSV.py:165-167)
    * over a label column with planted empties/nulls. */
  def displayCoalesceQ(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val label = when(col("c_custkey") % 3 === 0, lit(""))
      .when(col("c_custkey") % 3 === 1, lit(null).cast("string"))
      .otherwise(col("c_name"))
    c.select(col("c_custkey"),
      displayCoalesce(label, col("c_mktsegment")).as("display"))
  }

  /** YYYYMMDD -> ISO date transform (save_CSV.py:160-162) over the
    * distinct ship dates. */
  def dateIso(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(date_format(col("l_shipdate"), "yyyyMMdd").as("raw_date"))
      .distinct()
      .select(col("raw_date"), yyyymmddToIso(col("raw_date")).as("iso_date"))
      .orderBy("raw_date")

  /** Dimension filter `matchesAny` (IN-list — save_CSV.py:121-131). */
  def dimFilterIn(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select("event_id", "event_type", "user_id")

  /** The daily report: flat schema, IN-list dimension filter, ISO date,
    * sorted by date ASC (save_CSV.py:104-189 + main.py:135). Row-level
    * passthrough like the reference CSV — no aggregation. */
  def dailyReport(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("A", "R"))
      .select(
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("date"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag").as("app_name"),
        col("l_linestatus").as("ad_unit_name"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        earningsMicros.as("estimated_earnings_micros"))
      .orderBy(col("date"), col("l_orderkey"), col("l_linenumber"))

  /** Total estimated earnings in micros (README.md §Sample SQL). */
  def earningsTotal(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(sum(earningsMicros).as("total_earnings_micros"))

  /** Total estimated earnings in USD: ROUND(SUM(micros)/1e6, 2). */
  def earningsUsd(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(round(sum(earningsMicros) / lit(1e6), 2).as("total_earnings_usd"))

  /** MONTH/WEEK dimension rollup (main.py:127-130 dims DATE/MONTH/WEEK). */
  def monthlyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        weekofyear(col("l_shipdate")).as("week"))
      .agg(
        sum(earningsMicros).as("earnings_micros"),
        count(lit(1)).as("line_count"))
      .orderBy("month", "week")

  /** Top customers by revenue: the canonical fact⋈fact analytic. The
    * orders⋈lineitem join shuffles both sides on the join key (AQE
    * sizes/coalesces the partitions); the customer dimension is
    * explicitly broadcast; ranking is a partition-local sort-limit
    * (TakeOrderedAndProject), never a full global sort. */
  def topCustomers(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val revenue = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), earningsMicros.as("m")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_custkey")
      .agg(sum("m").as("revenue_micros"), count(lit(1)).as("line_count"))
    revenue
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").as("custkey"), col("c_name"), col("c_mktsegment"),
        col("revenue_micros"), col("line_count"))
      .orderBy(col("revenue_micros").desc, col("custkey"))
      .limit(k)
  }

  /** CUBE over (app, ad_unit): every dimension combination — per-pair,
    * per-app, per-unit, grand total — in ONE pass (Spark expands the
    * grouping sets map-side; no per-combination rescan). The
    * multi-dimension rollup surface the reference's 5-dim report spec
    * (main.py:127-130) implies. `grouping_id` disambiguates CUBE
    * nulls from (nonexistent) null dimension values. */
  def earningsCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag").as("app_name"), col("l_linestatus").as("ad_unit_name"))
      .agg(
        sum(earningsMicros).as("earnings_micros"),
        count(lit(1)).as("line_count"),
        // must be computed inside the agg — grouping_id() is only
        // resolvable against the Cube node itself
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("app_name").asc_nulls_first,
        col("ad_unit_name").asc_nulls_first)

  /** Exact percentile distribution of line earnings per return flag —
    * the spread stats a revenue report carries next to SUMs. Exact
    * `percentile` (linear interpolation between order statistics), not
    * approx sketches, so the DuckDB `quantile_cont` oracle matches
    * bit-for-bit after rounding. One aggregation shuffle. */
  def earningsPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        // ONE percentile agg with an array of fractions: a separate
        // percentile() per fraction buffers the group's values once
        // per call (3× memory + 3 sorts; 4.5 s vs 1.5 s at sf0.1).
        expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"),
        count(lit(1)).as("line_count"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("p50"),
        round(element_at(col("ps"), 2), 4).as("p90"),
        round(element_at(col("ps"), 3), 4).as("p99"),
        col("line_count"))
      .orderBy("l_returnflag")

  /** Order-to-ship lag percentiles per priority: exact p50/p90/p99 of
    * `l_shipdate − o_orderdate` in whole days — the fulfillment SLA
    * report over the fact⋈fact join. Lags are exact integers (datediff
    * of date-truncated timestamps), so the ONE array-percentile
    * aggregate ([[earningsPercentiles]]'s single-buffer move)
    * interpolates on exact operands. The join shuffles both facts on
    * the order key; the aggregate is bounded by the priority
    * vocabulary and combines map-side.
    */
  def shipLagPercentilesOf(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship"))
      .join(orders.select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("odate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), datediff(col("ship"), col("odate")).as("lag"))
      .groupBy("o_orderpriority")
      .agg(expr("percentile(lag, array(0.5D, 0.9D, 0.99D))").as("ps"),
        count(lit(1)).as("n_lines"))
      .select(col("o_orderpriority"),
        round(element_at(col("ps"), 1), 4).as("p50"),
        round(element_at(col("ps"), 2), 4).as("p90"),
        round(element_at(col("ps"), 3), 4).as("p99"),
        col("n_lines"))
      .orderBy("o_orderpriority")

  /** Sketched percentile distribution — the 100 TB path next to
    * [[earningsPercentiles]]: exact `percentile` buffers every group
    * value on one reducer, while `approx_percentile` keeps a
    * fixed-size KLL-family sketch per group that merges map-side, so
    * memory is O(sketch), not O(rows). accuracy=10000 → rank error
    * ≤ 0.01%. No DuckDB oracle (sketch internals are engine-specific);
    * AlertsSpec asserts each estimate lands within the rank-error
    * band of the exact answer — the same check pattern as HLL (#37). */
  def earningsPercentilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), 10000)")
          .as("ps"),
        count(lit(1)).as("line_count"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("p50"),
        round(element_at(col("ps"), 2), 4).as("p90"),
        round(element_at(col("ps"), 3), 4).as("p99"),
        col("line_count"))
      .orderBy("l_returnflag")

  /** Quantile-sketch calibration audit — the error MEASUREMENT the
    * sketch family's other members already have (count-min #192,
    * Bloom #235, HLL #273): per returnflag and percentile, the exact
    * order statistic, the KLL-family estimate, and the gap in basis
    * points of the exact value. This is the number that justifies
    * swapping `percentile` → `approx_percentile` at 100 TB (the exact
    * side sorts each group; the sketch is fixed-size and map-side
    * mergeable) — run the audit on a sampled day, read err_bp, then
    * trust the sketch on the full corpus. Like every sketch audit the
    * exact leg IS the verification contract and is priced accordingly
    * (documented, run-at-audit-scale-only). err_bp is exact integer
    * arithmetic on the cents grid; the oracle pins the frame from a
    * verified sf0.01 dump (sketch register paths are engine-specific
    * — the [[graft.operators.CtrAlerts.hllErrorAuditOf]] convention)
    * and AlertsSpec pins the rank-error band scale-independently. */
  def quantileSketchErrOf(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))")
          .as("ex"),
        expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), 10000)")
          .as("ap"),
        count(lit(1)).as("line_count"))
      .select(col("l_returnflag"), col("line_count"),
        expr("""stack(3,
          |  50L, element_at(ex, 1), element_at(ap, 1),
          |  90L, element_at(ex, 2), element_at(ap, 2),
          |  99L, element_at(ex, 3), element_at(ap, 3))
          |AS (pct, exact_p, approx_p)""".stripMargin))
      .select(col("l_returnflag"), col("pct"),
        round(col("exact_p"), 4).as("exact_p"),
        round(col("approx_p"), 4).as("approx_p"),
        expr("""CAST(((CAST(floor(approx_p * 100) AS BIGINT)
          |  - CAST(floor(exact_p * 100) AS BIGINT)) * 10000)
          |  div CAST(floor(exact_p * 100) AS BIGINT) AS BIGINT)""".stripMargin)
          .as("err_bp"),
        col("line_count"))
      .orderBy("l_returnflag", "pct")

  /** Equal-width value histogram — the distribution plot behind every
    * metrics dashboard. Two passes: a 1-row (min, max) aggregate
    * broadcasts, then binning is pure map-side math and the per-bin
    * aggregate combines map-side; bins are clamped so the max value
    * lands in the last bin rather than a phantom one. Bin math is
    * plain IEEE (identical both engines); bounds round via the
    * floor-form policy. */
  def valueHistogram(spark: SparkSession, dir: String,
                     bins: Int = 20): DataFrame =
    valueHistogramOf(Tables.events(spark, dir).select(col("value")), bins)

  /** See [[valueHistogram]]; operates on any 1-column (value) frame.
    * The registered query / DuckDB oracle pins the DEFAULT bin count;
    * non-default widths are covered by AlertsSpec directly. */
  def valueHistogramOf(values: DataFrame, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val ev = values.select(col("value"))
    val bounds = ev.agg(min("value").as("mn"), max("value").as("mx"))
    val width = (col("mx") - col("mn")) / bins
    val bucket = when(col("mx") > col("mn"),
      least(floor((col("value") - col("mn")) / width), lit(bins - 1L)))
      .otherwise(lit(0L))
    ev.crossJoin(broadcast(bounds)) // 1 row by construction
      .select(bucket.cast("long").as("bucket"),
        col("value"), col("mn"), col("mx"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        // 1e-4-quantized integer sum: independent of partition/
        // summation order on every engine (a float SUM is not)
        (sum(TextF.grid4(col("value"))).cast("double") / 1e4)
          .as("total_value"),
        first("mn").as("mn"), first("mx").as("mx"))
      .select(col("bucket"),
        TextF.round6HalfUp(col("mn") + col("bucket") * ((col("mx") - col("mn"))
          / bins)).as("bucket_lo"),
        col("n"), col("total_value"))
      .orderBy("bucket")
  }

  /** Running/moving window aggregates over event time (generic OLAP
    * surface a report consumer needs). */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Order on the exact nanosecond long (ts_ns) — the µs-truncated
    // timestamp could tie where the ns column doesn't.
    val w = Window.partitionBy("user_id").orderBy("ts_ns")
    Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
        .as("running_sum"),
      round(avg("value").over(w.rowsBetween(-6, 0)), 4).as("mov_avg7"))
  }
}
