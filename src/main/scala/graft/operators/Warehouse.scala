package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.sources.Tables
import Behavior.{cents, centsDown, microDown, Dec}

/** Warehouse-maintenance operators: referential-integrity audit and
  * changelog compaction — the recurring jobs that keep a lake usable
  * (the reference trusts its single API upstream; a many-writer lake
  * audits its own joins).
  */
object Warehouse {

  /** A line's net value on the 10⁻²-cent grid: its price in cents
    * times (100 − its discount in cents), exact in a long. */
  private def netC100: Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  /** Foreign-key coverage audit: for each event type, how many rows
    * resolve against the customer dimension and how many are orphans.
    * One pass: the (distinct) dimension keys join in with a match
    * flag — strategy left to AQE (a dimension can outgrow any forced
    * broadcast) — then a single map-side-combinable aggregate. The
    * coverage ratio rounds floor-form so the audit is cross-engine
    * reproducible.
    */
  def fkCoverageOf(facts: DataFrame, dim: DataFrame): DataFrame = {
    val keys = dim.select(col("key")).distinct()
      .withColumn("matched", lit(1L))
    facts.join(keys, facts("user_id") === keys("key"), "left")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("matched"), lit(0L))).as("n_matched"))
      .select(col("event_type"), col("n_rows"), col("n_matched"),
        (col("n_rows") - col("n_matched")).as("n_orphans"),
        TextF.round4HalfUp(
          col("n_matched").cast("double") / col("n_rows").cast("double"))
          .as("coverage"))
      .orderBy("event_type")
  }

  /** Changelog compaction (the upsert-view / SCD "current" snapshot):
    * the latest row per key by (event-time, event_id) — expressed as a
    * lexicographic max over a struct, NOT a per-key window: the
    * aggregate combines map-side, so each partition contributes one
    * candidate row per key to the shuffle, where row_number() would
    * shuffle every version of every key and sort. Versions order on
    * the EXACT nanosecond long (`ts_ns` — microsecond truncation
    * could let a same-microsecond pair fall through to the id
    * tiebreak and surface the older value); the unique event_id
    * breaks genuinely identical timestamps deterministically.
    */
  def latestPerKeyOf(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("ts_ns"),
        col("event_id"), col("event_type"), col("value"))
      .groupBy("user_id")
      .agg(max(struct(col("ts_ns"), col("event_id"), col("event_type"),
        col("value"))).as("m"))
      // µs in the OUTPUT only: the DuckDB oracle's parquet view
      // truncates TIMESTAMP_NS to µs, so full-ns output could never
      // hash-compare; the ORDERING above stays exact-ns.
      .select(col("user_id"), expr("m.ts_ns div 1000").as("us"),
        col("m.event_id").as("event_id"), col("m.event_type").as("event_type"),
        col("m.value").as("value"))
      .orderBy("user_id")

  /** Classic star-schema revenue rollup (TPC-H Q5 shape): lineitem ⋈
    * orders ⋈ customer ⋈ nation for one order-date year, revenue by
    * nation. The join pyramid is the scale story: the two fact tables
    * shuffle once on their join keys (AQE picks the strategy for the
    * mid-size customer side), while nation — a true dimension table,
    * bounded by the world — broadcasts explicitly. Revenue is
    * quantized to integer micros per row before summation
    * (order-independent; money math never trusts float accumulation
    * order), and the date filter pushes down to the orders scan.
    */
  def revenueByNationOf(lineitem: DataFrame, orders: DataFrame,
                        customer: DataFrame, nation: DataFrame,
                        year: Int = 1995): DataFrame = {
    // Report.earningsMicros IS the library's one row-level money
    // quantization (pure floor, six earnings oracles mirror it) —
    // revenue here must reconcile exactly with the earnings family
    // over the same rows, so it reuses that contract rather than
    // forking a half-up variant.
    val li = lineitem.select(col("l_orderkey"),
      Report.earningsMicros.as("qrev"))
    val ord = orders
      .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_items"), sum(col("qrev")).as("qsum"))
      .select(col("nation"), col("n_items"),
        TextF.microsTo4dp(col("qsum")).as("revenue"))
      .orderBy(col("revenue").desc, col("nation"))
  }

  /** CDC between two as-of snapshots of the changelog: what changed
    * per key between "state as of `cutoff`" and "state now". Both
    * snapshots come out of ONE map-side-combinable aggregate — the
    * before-cutoff max and the overall max are two conditional
    * lexicographic struct maxes over the same shuffle (a naive
    * two-snapshot self-join would scan and shuffle the changelog
    * twice). Keys absent before the cutoff emit `insert`; keys whose
    * latest (event_type, value) differs emit `update`; unchanged keys
    * emit nothing (changes-only contract). A cumulative changelog
    * never loses keys, so `delete` cannot occur here by construction;
    * a tombstone convention would slot into the same CASE. Versions
    * order on exact nanoseconds with event_id as tiebreak
    * (cf. [[latestPerKeyOf]]); the cutoff compares in microseconds on
    * both engines — truncation floors toward the boundary and can
    * never lift a sub-cutoff event across it.
    */
  def snapshotDiffOf(events: DataFrame, cutoff: String): DataFrame = {
    val version = struct(col("ts_ns"), col("event_id"),
      col("event_type"), col("value"))
    events
      .select(col("user_id"),
        (col("ts") < lit(cutoff).cast("timestamp")).as("before"), version.as("v"))
      .groupBy("user_id")
      .agg(max(when(col("before"), col("v"))).as("s1"), max(col("v")).as("s2"))
      .withColumn("op",
        when(col("s1").isNull, lit("insert"))
          .when(col("s1.event_type") =!= col("s2.event_type") ||
            col("s1.value") =!= col("s2.value"), lit("update")))
      .filter(col("op").isNotNull)
      .select(col("user_id"), col("op"),
        col("s1.event_type").as("old_type"), col("s1.value").as("old_value"),
        col("s2.event_type").as("new_type"), col("s2.value").as("new_value"))
      .orderBy("user_id")
  }

  /** CDC MERGE / upsert — [[snapshotDiffOf]] DESCRIBES the delta,
    * this APPLIES it: the post-merge per-key snapshot with its merge
    * action, base = latest state before `splitDay`, changes = events
    * on/after it. MERGE semantics per key: a changed key not in the
    * base INSERTs, a changed key in the base UPDATEs (change wins —
    * latest-writer, the CDC convention), an unchanged base key KEEPs
    * its base row. Both sides come out of ONE map-combinable
    * aggregate (two conditional lexicographic struct maxes on the
    * same shuffle — the naive MERGE plans a full outer join of two
    * changelog scans); versions order on exact nanoseconds with the
    * event_id tiebreak, output in µs ([[latestPerKeyOf]]'s oracle
    * grain). A tombstone event type would slot into the same CASE as
    * a `delete` action — the changelog has none by construction. */
  def mergeUpsertOf(events: DataFrame, splitDay: String = "2024-01-15"): DataFrame = {
    val version = struct(col("ts_ns"), col("event_id"),
      col("event_type"), col("value"))
    events
      .select(col("user_id"),
        (col("ts") < lit(splitDay).cast("timestamp")).as("before"),
        version.as("v"))
      .groupBy("user_id")
      .agg(max(when(col("before"), col("v"))).as("b"),
        max(when(!col("before"), col("v"))).as("c"))
      .select(col("user_id"),
        when(col("b").isNull, lit("insert"))
          .when(col("c").isNull, lit("keep"))
          .otherwise(lit("update")).as("op"),
        expr("coalesce(c.ts_ns, b.ts_ns) div 1000").as("us"),
        coalesce(col("c.event_id"), col("b.event_id")).as("event_id"),
        coalesce(col("c.event_type"), col("b.event_type")).as("event_type"),
        coalesce(col("c.value"), col("b.value")).as("value"))
      .orderBy("user_id")
  }

  /** Small-file compaction plan — the OPTIMIZE/bin-pack planner every
    * 100 TB lake runs nightly (Delta OPTIMIZE, Iceberg rewrite_data_
    * files), expressed declaratively: the hourly ingest "files" of
    * each (event_type, day) partition (size = rows × `rowBytes`, the
    * stand-in width — swap a real manifest in at the same schema) are
    * grouped, IN TIME ORDER, into target-size compaction bins:
    * bin = floor(bytes-before-this-file / targetBytes) over the
    * hour-ordered running sum. Time-order grouping is the part that
    * matters at scale: each output bin spans a CONTIGUOUS hour range
    * (first_hour..last_hour published), so file-level min/max
    * envelopes on the time column keep pruning after compaction —
    * a size-sorted bin-pack (FFD) packs tighter but scrambles time
    * and destroys zonemap skipping. Greedy overshoot: the file that
    * straddles a boundary joins the bin it started in, so a bin is
    * bounded by target + one file — the standard planner contract.
    *
    * Shape: ONE fact aggregate to the (type, day, hour) manifest
    * (map-combinable), one window over (type, day) — a single
    * key-shuffle; the plan output is manifest-bounded, never
    * row-bounded. All integer arithmetic. */
  def compactionPlanOf(events: DataFrame, rowBytes: Int = 64,
                       targetBytes: Long = 4096): DataFrame = {
    require(rowBytes > 0 && targetBytes > 0,
      s"need positive sizes, got $rowBytes/$targetBytes")
    val files = events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        hour(col("ts")).as("hr"))
      .groupBy("event_type", "day", "hr")
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("bytes", col("n_rows") * rowBytes)
    files
      .withColumn("bin_id",
        expr(s"(sum(bytes) OVER (PARTITION BY event_type, day ORDER BY hr)"
          + s" - bytes) div ${targetBytes}L"))
      .groupBy("event_type", "day", "bin_id")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("bytes_in"),
        min("hr").cast("long").as("first_hour"),
        max("hr").cast("long").as("last_hour"))
      .orderBy("event_type", "day", "bin_id")
  }

  /** FIFO lot matching — the inventory-costing allocation join (match
    * each RETURNED unit of a part against the OLDEST shipped units of
    * that part, the way FIFO cost layers and lot-tracked recalls
    * resolve): both sides become CUMULATIVE-UNIT intervals per part
    * (supply lot i covers [Σqty_before, +qty) in ship order; return
    * lot j covers its interval of the returned-unit axis), and a FIFO
    * allocation is exactly the INTERVAL OVERLAP of the two axes —
    * qty = min(s1,r1) − max(s0,r0) on matched pairs. No sequential
    * consume-loop, no per-key state: two windows + one equijoin.
    *
    * Scale: the join is a plain partkey equijoin with the range
    * predicate as post-filter — safe because lots-per-part is BOUNDED
    * by the data model (TPC-H holds ~30 lineitems/part at every SF;
    * per-key candidate mass is 30×8, never n²), and matched output is
    * structurally ≤ n_sup + n_ret − 1 rows per key (consecutive
    * interval chains). Ship-order ties break on (orderkey, linenumber)
    * — both engines sort identical total orders. All-integer units
    * (l_quantity is integral by construction); lag_days = return ship
    * − matched lot ship is the shelf-age read that prices returned
    * stock. Deliberately NOT checkpointed: each interval leg re-reads
    * the parquet with its returnflag filter pushed into the scan,
    * which measured cheaper at ×100 than materializing the fact. */
  def fifoMatchOf(lineitem: DataFrame): DataFrame = {
    // deliberately NOT checkpointed: the demand leg re-reads the
    // parquet with the returnflag filter PUSHED INTO the scan, which
    // measured cheaper at ×100 than materializing 60M checkpoint rows
    // both legs then have to re-read (192 s → see §6)
    val li = lineitem
      .select(col("l_partkey").as("pk"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity").cast("long").as("qty"),
        col("l_shipdate"), col("l_returnflag"))
    val ord = Window.partitionBy("pk")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val sup = li
      .withColumn("s1", sum("qty").over(ord))
      .select(col("pk"), col("l_orderkey").as("sup_order"),
        col("l_linenumber").as("sup_line"),
        col("l_shipdate").as("sup_ship"),
        (col("s1") - col("qty")).as("s0"), col("s1"))
    val ret = li.filter(col("l_returnflag") === "R")
      .withColumn("r1", sum("qty").over(ord))
      .select(col("pk"), col("l_orderkey").as("ret_order"),
        col("l_linenumber").as("ret_line"),
        col("l_shipdate").as("ret_ship"),
        (col("r1") - col("qty")).as("r0"), col("r1"))
    sup.join(ret, Seq("pk"))
      .filter(col("s0") < col("r1") && col("r0") < col("s1"))
      .select(col("pk").as("l_partkey"),
        col("ret_order"), col("ret_line"), col("sup_order"), col("sup_line"),
        (least(col("s1"), col("r1")) - greatest(col("s0"), col("r0")))
          .as("qty_matched"),
        datediff(to_date(col("ret_ship")), to_date(col("sup_ship")))
          .cast("long").as("lag_days"))
    // no presentation sort: the output is FACT-sized (~0.62 pairs per
    // lineitem), and a global orderBy range-shuffles + sorts all of it
    // again — measured 1/3 of the ×100 wall time for zero semantic
    // value (the correctness compare is row-order-insensitive)
  }

  /** Right-to-erasure (GDPR delete) cost audit: given a deletion set
    * (here the deterministic user_id % 97 == 0 cohort standing in for
    * a request table — swap the predicate for a real one), report per
    * date partition how many rows the delete pass must remove and the
    * partition's rewrite fraction — the number that prices the pass
    * BEFORE it runs: a date-partitioned warehouse deletes by
    * rewriting whole partitions ([[graft.sources.Sinks
    * .idempotentDailyAppend]]'s dynamic overwrite), so cost is
    * Σ touched-partition sizes, not Σ deleted rows, and a 50-ppm
    * smear across every partition is a FULL-table rewrite (the
    * classic argument for bucketing or deletion vectors, quantified).
    * Partitions with nothing to delete are omitted (the pass skips
    * them).
    *
    * Shape: ONE map-combinable (day) aggregate; the deletion
    * predicate is a pushable map-side test. */
  def deletionAuditOf(events: DataFrame): DataFrame = {
    val doomed = col("user_id") % 97 === 0
    events
      .select(to_date(col("ts")).as("day"), col("user_id"), doomed.as("d"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("d"), 1L).otherwise(0L)).as("rows_to_delete"),
        countDistinct(when(col("d"), col("user_id"))).as("users_to_delete"))
      .filter(col("rows_to_delete") > 0)
      .select(col("day"), col("n_rows"), col("rows_to_delete"),
        col("users_to_delete"),
        expr("(rows_to_delete * 1000000) div n_rows").as("delete_ppm"))
      .orderBy("day")
  }

  /** SCD Type-2 dimension history from the changelog: per key, one row
    * per run of consecutive equal attribute values, with
    * [valid_from, valid_to) microsecond bounds (valid_to NULL = the
    * current version). Run boundaries come from a lag comparison, then
    * version numbers and the valid_to handoff from row_number/lead
    * over the SAME user-keyed ordering — the filter preserves the
    * first window's distribution, so all three window passes share one
    * shuffle. Ordering is exact-nanosecond with the unique event_id
    * tiebreak (a µs tie would otherwise make run boundaries
    * nondeterministic); the OUTPUT is µs because the oracle's parquet
    * view truncates TIMESTAMP_NS (cf. [[latestPerKeyOf]]).
    */
  def scd2HistoryOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
    events
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(col("user_id"),
        row_number().over(w).as("version"),
        col("event_type"),
        expr("ts_ns div 1000").as("valid_from_us"),
        expr("lead(ts_ns, 1) over (partition by user_id order by ts_ns, event_id) div 1000")
          .as("valid_to_us"))
      .orderBy("user_id", "version")
  }

  /** k-anonymity audit over a quasi-identifier tuple (the privacy gate
    * a pipeline runs before releasing user-derived training data):
    * every QI group with fewer than `k` members is a re-identification
    * risk — emitted with its size so the caller can generalize or
    * suppress. QIs here: market segment × nation × account-balance
    * kilobucket (floor of one IEEE division — cross-engine exact).
    *
    * One map-side-combinable aggregate on the QI key; the risky subset
    * is a post-aggregate filter (group count ≪ row count at any
    * scale).
    */
  def kanonRiskOf(customer: DataFrame, k: Long = 5): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    customer
      .groupBy(col("c_mktsegment"),
        col("c_nationkey").cast("int").as("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
      .orderBy("c_mktsegment", "c_nationkey", "bal_bucket")
  }

  /** l-diversity audit — [[kanonRiskOf]]'s second gate (Machanavajjhala
    * '07): a group can be k-anonymous yet still leak when everyone in
    * it SHARES the sensitive value (homogeneity attack). QI here is
    * the kanon tuple generalized one level (segment × nation — the
    * suppression step a kanon failure forces); the sensitive
    * attribute is the account-balance kilobucket. Per QI group:
    * size, distinct sensitive values ł, the top value's share in ppm
    * (a group can pass ł ≥ l and still be 99% one value — the
    * probabilistic-disclosure read), `risky` = ł < l.
    *
    * Shape: one map-combinable (QI, sensitive) count at fact scale;
    * the per-group fold (distinct count, argmax share) rides the
    * bounded cell frame — the [[graft.operators.CorpusStats]]
    * lang-HHI fold shape. */
  def lDiversityOf(customer: DataFrame, l: Long = 3): DataFrame = {
    require(l > 1, s"l must be > 1, got $l")
    customer
      .groupBy(col("c_mktsegment"),
        col("c_nationkey").cast("int").as("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(sum("c").as("group_size"),
        count(lit(1)).as("l_distinct"),
        // argmax with ties to the SMALLEST bucket = min over (-c, b)
        min(struct((-col("c")).as("nc"), col("bal_bucket").as("b"))).as("m"))
      .select(col("c_mktsegment"), col("c_nationkey"),
        col("group_size"), col("l_distinct"),
        col("m.b").as("top_sensitive"),
        expr("((-m.nc) * 1000000) div group_size").as("top_share_ppm"),
        (col("l_distinct") < l).as("risky"))
      .orderBy("c_mktsegment", "c_nationkey")
  }

  /** t-closeness audit — the third privacy gate (Li '07), closing the
    * [[kanonRiskOf]] → [[lDiversityOf]] chain: a group can be
    * k-anonymous AND l-diverse yet still leak when its sensitive-value
    * DISTRIBUTION differs sharply from the table's (skewness attack —
    * "diverse but 90% high-balance" reveals plenty). Per QI group
    * (the lDiversity tuple: segment × nation), the total-variation
    * distance ½·Σ_s |p_g(s) − p(s)| between the group's
    * account-balance-kilobucket distribution and the global one;
    * `risky` = tvd > 0.2 (the threshold t, a policy literal). EXACT
    * integer path: the per-bucket term is |c_gs·N − c_s·n_g| in
    * decimal(38,0) (c·N crosses int64 at 10⁹ rows), summed over the
    * DENSE group × bucket grid — absent buckets contribute c_s·n_g
    * and a sparse join would silently drop them — then ONE double
    * division by 2·n_g·N, 6 dp half-up.
    *
    * Shape: one map-combinable (QI, bucket) fact aggregate; the
    * margins, the dense cross join, and the fold all ride bounded
    * frames (groups × buckets — QI vocabularies by construction). */
  def tClosenessOf(customer: DataFrame, t: Double = 0.2): DataFrame = {
    require(t > 0 && t < 1, s"t must be in (0,1), got $t")
    val cells = customer
      .groupBy(col("c_mktsegment"),
        col("c_nationkey").cast("int").as("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("cgs"))
    val groups = cells.groupBy("c_mktsegment", "c_nationkey")
      .agg(sum("cgs").as("ng"))
    val svals = cells.groupBy("bal_bucket").agg(sum("cgs").as("cs"))
    val total = svals.agg(sum("cs").as("n_total"))
    val dense = groups
      .crossJoin(broadcast(svals))
      .crossJoin(broadcast(total)) // 1 row by construction
      .join(cells, Seq("c_mktsegment", "c_nationkey", "bal_bucket"), "left")
      .withColumn("c_here", coalesce(col("cgs"), lit(0L)))
    dense
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        col("ng").as("group_size"), col("n_total"))
      .agg(sum(expr(s"abs(CAST(c_here AS $Dec) * n_total" +
        s" - CAST(cs AS $Dec) * ng)")).as("tsum"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("group_size"),
        TextF.round6HalfUp(col("tsum").cast("double") /
          (lit(2.0) * col("group_size").cast("double") *
            col("n_total").cast("double"))).as("tvd"),
        (col("tsum").cast("double") /
          (lit(2.0) * col("group_size").cast("double") *
            col("n_total").cast("double")) > t).as("risky"))
      .orderBy("c_mktsegment", "c_nationkey")
  }

  /** Differential-privacy-style noised release of per-group counts: a
    * two-sided geometric perturbation (the discrete Laplace — the
    * standard integer mechanism for count queries) with α = 1/2,
    * truncated at ±4 (the 1/12 tail mass folds HALF into each edge,
    * keeping the noise symmetric and unbiased). The draw is
    * a 32-bit uniform from md5 over the group key compared against
    * EXACT integer thresholds ⌊2³²·CDF⌋ — no floats, no libm, no RNG
    * state (bootstrap_ci's hex-prefix trick), so the release is
    * reproducible and engine-exact. The true count rides along for
    * the oracle/audit; an actual release drops it.
    *
    * One map-side-combinable aggregate; the noise is per-GROUP
    * expression work on the (bounded) group count afterwards.
    */
  def dpCountsOf(events: DataFrame): DataFrame = {
    // cumulative CDF of the α=1/2 two-sided geometric, in 2^32 units:
    // P(0)=1/3, P(±1)=1/6, P(±2)=1/12, P(±3)=1/24; the remaining 1/12
    // tail splits EVENLY between the ±4 edges (1/24 each), so the
    // truncated noise stays symmetric and E[noise] = 0.
    val t = Seq(
      1431655765L -> 0L,  // 1/3
      2147483648L -> 1L,  // 1/2
      2863311530L -> -1L, // 2/3
      3221225472L -> 2L,  // 3/4
      3579139413L -> -2L, // 5/6
      3758096384L -> 3L,  // 7/8
      3937053354L -> -3L, // 11/12
      4116010325L -> 4L)  // 23/24 — then else -4 (the last 1/24)
    val hv = conv(substring(md5(concat(lit("dp:"), col("event_type"))), 1, 8),
      16, 10).cast("long")
    val noise = t.foldRight(lit(-4L)) { case ((thr, k), acc) =>
      when(hv < thr, lit(k)).otherwise(acc)
    }
    events.groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("n"), noise.as("noise"),
        (col("n") + noise).as("noisy_n"))
      .orderBy("event_type")
  }

  /** Zone-map pruning audit — the LAYOUT decision quantified: given a
    * fact table, a filter column (ship date), and a file count, what
    * fraction of files could a min/max-stats reader SKIP for a
    * mid-range 30-day predicate, under (a) the natural arrival layout
    * (files cut by order-key ranges — how ingest actually lands) vs
    * (b) a date-clustered layout (files cut by equal-width date
    * ranges)? Arrival order scatters every date into every file, so
    * its per-file envelopes cover the whole span and nothing prunes —
    * the measured gap between the two rows is the exact I/O win a
    * re-cluster (or [[graft.sources.ZOrder]] for two-column
    * predicates) buys at 100 TB, where pruned files are the dominant
    * cost lever. Zones are VALUE-cut, not row-count-cut:
    * zone = (key − min)·nZones div (span+1) — pure integer arithmetic
    * from the broadcast 1-row bounds frame, no global sort, engine-
    * exact (rank-cut zones would need a total order pass).
    *
    * Output per layout: zone count, zones overlapping the predicate,
    * pruned fraction (4 dp floor-form), and the mean zone date-width
    * in days (4 dp) — the clustering-quality number that predicts
    * pruning for ANY date predicate, not just the probed one.
    *
    * Shape: one map-side pass tags each row with its two zone ids
    * (bounds ride a broadcast), one (layout, zone) min/max aggregate
    * bounded by 2·nZones rows, then arithmetic on that tiny frame. */
  def zonemapAuditOf(lineitem: DataFrame, nZones: Int = 32,
                     predicateDays: Int = 30): DataFrame = {
    require(nZones > 1, s"nZones must be > 1, got $nZones")
    require(predicateDays > 0, s"predicateDays must be positive, got $predicateDays")
    val day = to_date(col("l_shipdate"))
    val rows = lineitem.select(col("l_orderkey").as("ok"), day.as("day"))
    val bounds = rows.agg(min("ok").as("ok0"), max("ok").as("ok1"),
      min("day").as("d0"), max("day").as("d1"))
    val zoned = rows.crossJoin(broadcast(bounds)) // 1 row by construction
      .withColumn("zn", lit(nZones.toLong))
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division
      .withColumn("z_arrival",
        expr("((ok - ok0) * zn) div (ok1 - ok0 + 1)"))
      .withColumn("doff", datediff(col("day"), col("d0")).cast("long"))
      .withColumn("dspan", datediff(col("d1"), col("d0")).cast("long"))
      .withColumn("z_date", expr("(doff * zn) div (dspan + 1)"))
      .select(col("day"), col("d0"), col("d1"), col("z_arrival"),
        col("z_date"))
    // Both layouts tag in ONE map-side explode so the fact table is
    // scanned once, not once per layout (a unionAll of per-layout
    // aggregates replans the scan — 2x the I/O at 100 TB for zero
    // information gain).
    val envelopes = zoned
      .select(col("day"), col("d0"), col("d1"),
        explode(map(lit("arrival"), col("z_arrival"),
          lit("date"), col("z_date"))).as(Seq("layout", "zone")))
      .groupBy("layout", "zone")
      .agg(min(datediff(col("day"), col("d0"))).as("lo"),
        max(datediff(col("day"), col("d0"))).as("hi"),
        // d0/d1 constant across rows: carry for the predicate
        first(datediff(col("d1"), col("d0"))).as("span"))
    // Probe predicate: the centered `predicateDays`-day window
    // [mid − p/2, mid + p/2) in day offsets; a zone overlaps iff its
    // envelope intersects it. Integer day arithmetic throughout.
    val mid = expr("span div 2")
    val lo = mid - lit(predicateDays.toLong / 2)
    val hi = mid + lit((predicateDays.toLong + 1) / 2) - 1L
    envelopes
      .groupBy("layout")
      .agg(count(lit(1)).as("n_zones"),
        sum(when(col("lo") <= hi && col("hi") >= lo, 1L).otherwise(0L))
          .as("n_overlap"),
        sum(col("hi") - col("lo") + 1L).as("width_sum"))
      .select(col("layout"), col("n_zones"), col("n_overlap"),
        TextF.round4HalfUp((col("n_zones") - col("n_overlap")).cast("double")
          / col("n_zones").cast("double")).as("pruned_frac"),
        TextF.round4HalfUp(col("width_sum").cast("double")
          / col("n_zones").cast("double")).as("mean_zone_days"))
      .orderBy("layout")
  }

  /** Incremental rollup maintenance (IVM for the daily revenue
    * report): a late-arriving delta — here the deterministic
    * `event_id % lateMod = 0` slice standing in for events that missed
    * the nightly batch — merges into the materialized snapshot by
    * PARTIAL-AGGREGATE ALGEBRA: count and micro-sum are both
    * commutative monoids, so snapshot ⊕ delta-aggregate ≡ full
    * recompute, bit for bit (the oracle IS the full recompute — the
    * equality is the point, not an approximation). At 100 TB this is
    * the difference between re-scanning the fact table nightly and
    * aggregating only the late slice: the merge touches |delta-days|
    * snapshot rows. `n_late` per day is the audit column — how much
    * of each day's total arrived late decides whether a day's
    * downstream extracts need re-publishing.
    *
    * Shape: one filtered aggregate per side (both map-combinable,
    * both pushable filters on the scan), a day-keyed union
    * re-aggregate bounded by the calendar. AVG-shaped metrics ride
    * the same merge as (sum, count) pairs; only non-algebraic
    * metrics (exact distinct) force the re-scan — or an HLL merge
    * (row 37's sketch) when approximate is acceptable. */
  def incrementalRollupOf(events: DataFrame, lateMod: Int = 10): DataFrame = {
    require(lateMod > 1, s"lateMod must be > 1, got $lateMod")
    val base = events.select(to_date(col("ts")).as("day"),
      Behavior.micro(col("value")).as("qv"),
      (col("event_id") % lateMod === 0L).as("late"))
    val snapshot = base.filter(!col("late")).groupBy("day")
      .agg(count(lit(1)).as("n"), sum("qv").as("q"))
      .withColumn("n_late", lit(0L))
    val delta = base.filter(col("late")).groupBy("day")
      .agg(count(lit(1)).as("n"), sum("qv").as("q"))
      .withColumn("n_late", col("n"))
    snapshot.unionByName(delta)
      .groupBy("day")
      .agg(sum("n").as("n_events"), sum("q").as("q"), sum("n_late").as("n_late"))
      .select(col("day"), col("n_events"),
        TextF.microsTo4dp(col("q")).as("revenue"), col("n_late"))
      .orderBy("day")
  }

  /** Column-level schema/content drift gate between two pipeline
    * vintages: the fact table splits at min_day + `splitDays` into
    * period a (before) and b (after), and each tracked column reports
    * row count, null rate, exact distinct count and (for numerics)
    * the micro-exact mean on both sides plus a distinct-cardinality
    * ratio — the pre-deploy regression check that catches a silently
    * nulled-out field, a collapsed enum, or a re-keyed id BEFORE a
    * downstream join fans out wrong ([[snapshotDiffOf]] diffs ROWS of
    * a keyed dim; this diffs the DISTRIBUTION of every column of an
    * append-only fact).
    *
    * Shape: ONE fact pass — a single (after)-keyed aggregate computes
    * every column's count/nulls/exact-distincts/sums (the four
    * DISTINCT aggregates plan as one Expand: a few× the scan rows,
    * map-combinable, never a re-scan) — then the 2-row result
    * explodes to (column, side) long form and pivots back with
    * conditional aggregation: no self-join, no second consumer of the
    * fact scan. The split day rides a 1-row broadcast. Means stay
    * exact: value micro-quantizes, props.k and user_id sum as raw
    * int64; one IEEE division per cell at the end, 4 dp half-up;
    * event_type's mean is NULL by type.
    */
  def schemaDriftOf(events: DataFrame, splitDays: Int = 15): DataFrame = {
    require(splitDays >= 1, s"splitDays must be >= 1, got $splitDays")
    val minDay = events.agg(min(to_date(col("ts"))).as("d0"))
    val base = events.crossJoin(broadcast(minDay))
      .select(
        (datediff(to_date(col("ts")), col("d0")) >= splitDays).as("after"),
        Behavior.micro(col("value")).as("qv"),
        col("user_id"),
        Behavior.itemOrNull.as("item"),
        col("event_type"))
    // ONE aggregate per period computes every column's stats in a
    // single fact pass (the four countDistincts plan as one Expand —
    // a few× the scan rows, map-combinable, never a re-scan); integer
    // columns sum raw int64 (a ×1e6 micro-scale would breach int64 at
    // rehearsal volume), `value` sums its micro quantization and
    // divides the scale back out. Everything downstream reshapes the
    // 2-row aggregate: explode to (column, side) long form, then a
    // conditional-aggregation pivot — no self-join, no second fact
    // scan (the first cut unioned four per-column aggregates and
    // joined a/b sides: 8 planned fact scans; PlanSpec now pins ≤1
    // bounded cross).
    def sideStats(name: String, nullC: org.apache.spark.sql.Column,
                  distC: org.apache.spark.sql.Column,
                  mean: org.apache.spark.sql.Column) =
      struct(lit(name).as("column"), col("n_rows"), nullC.as("n_null"),
        distC.as("n_distinct"), mean.as("mean"))
    def meanOf(q: org.apache.spark.sql.Column,
               nNull: org.apache.spark.sql.Column, scale: Double) =
      when(col("n_rows") - nNull > 0L, TextF.round4HalfUp(
        q.cast("double") / lit(scale)
          / (col("n_rows") - nNull).cast("double")))
    val agg = base.groupBy("after").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_et"),
      countDistinct(col("event_type")).as("dist_et"),
      sum(when(col("item").isNull, 1L).otherwise(0L)).as("null_item"),
      countDistinct(col("item")).as("dist_item"),
      sum(col("item")).as("sum_item"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_uid"),
      countDistinct(col("user_id")).as("dist_uid"),
      sum(col("user_id")).as("sum_uid"),
      sum(when(col("qv").isNull, 1L).otherwise(0L)).as("null_qv"),
      countDistinct(col("qv")).as("dist_qv"),
      sum(col("qv")).as("sum_qv"))
    val long = agg.select(col("after"), explode(array(
        sideStats("event_type", col("null_et"), col("dist_et"),
          lit(null).cast("double")),
        sideStats("item", col("null_item"), col("dist_item"),
          meanOf(col("sum_item"), col("null_item"), 1.0)),
        sideStats("user_id", col("null_uid"), col("dist_uid"),
          meanOf(col("sum_uid"), col("null_uid"), 1.0)),
        sideStats("value", col("null_qv"), col("dist_qv"),
          meanOf(col("sum_qv"), col("null_qv"), 1e6)))).as("c"))
      .select(col("after"), col("c.*"))
    long.groupBy("column").agg(
        max(when(!col("after"), col("n_rows"))).as("n_a"),
        max(when(col("after"), col("n_rows"))).as("n_b"),
        max(when(!col("after"), col("n_null"))).as("null_a"),
        max(when(col("after"), col("n_null"))).as("null_b"),
        max(when(!col("after"), col("n_distinct"))).as("distinct_a"),
        max(when(col("after"), col("n_distinct"))).as("distinct_b"),
        max(when(!col("after"), col("mean"))).as("mean_a"),
        max(when(col("after"), col("mean"))).as("mean_b"))
      .select(col("column"), col("n_a"), col("n_b"),
        TextF.round4HalfUp(col("null_a").cast("double") / col("n_a").cast("double"))
          .as("null_rate_a"),
        TextF.round4HalfUp(col("null_b").cast("double") / col("n_b").cast("double"))
          .as("null_rate_b"),
        col("distinct_a"), col("distinct_b"),
        TextF.round4HalfUp(col("distinct_b").cast("double")
          / col("distinct_a").cast("double")).as("distinct_ratio"),
        col("mean_a"), col("mean_b"))
      .orderBy("column")
  }

  /** Benford first-significant-digit audit over order totals — the
    * classic fabricated-or-truncated-data screen (organically grown
    * magnitudes follow P(d) = log10(1+1/d); uniform generators, capped
    * fields, and hand-entered figures don't, and the digit histogram
    * says which). Every number stays INTEGER: amounts go through the
    * micro grid (`floor(price*1e6)` — exact for doubles < 2^53), the
    * first digit is the leading character of the int64's decimal
    * rendering (identical in any engine; no float log10 at runtime),
    * shares are parts-per-million by integer division, and the Benford
    * expectation is a pinned 6-dp constant table (the only log10 is
    * precomputed into the source). Digits with zero orders simply
    * don't emit — a 9-row-max frame either way.
    *
    * Shape: one map-side-combinable digit count (9 groups) is the only
    * fact-sized work; the share fold runs on the bounded digit frame
    * (whole-frame window over ≤ 9 rows). */
  def benfordAuditOf(orders: DataFrame): DataFrame = {
    val benford = typedLit(Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L))
    orders
      .select(substring(microDown(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("n_total", sum("n_orders").over(Window.partitionBy()))
      .select(col("digit"), col("n_orders"),
        expr("(n_orders * 1000000) div n_total").as("obs_ppm"),
        element_at(benford, col("digit")).as("benford_ppm"))
      .withColumn("abs_dev_ppm",
        abs(col("obs_ppm") - col("benford_ppm")))
      .orderBy("digit")
  }

  /** Join-cardinality estimation audit: EXACT self-join output size on
    * `l_partkey` (Σ c_k² over per-key counts — the pair mass every §6
    * dedup bound prices) against the uniform-keys independence
    * estimate n²/d that textbook optimizers use when only (row count,
    * distinct count) statistics exist. The error ratio in basis
    * points IS the skew penalty: 10000 bp means the estimator was
    * right, 40000 bp means the real join is 4× the plan's guess — the
    * number that decides whether a shuffle-hash join OOMs at 100 TB
    * after the planner sized it from column stats. All int64 (c_k²
    * sums bounded by pair mass ≈ 10⁹ at sf0.1, ~10¹⁵ at ×1000 — 2⁶³
    * headroom throughout), integer divisions only.
    *
    * Shape: one map-side-combinable per-key count is the only
    * fact-sized shuffle; the audit fold is a single bounded aggregate
    * over the key frame. */
  def joinSizeEstimateOf(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(col("c") * col("c")).as("exact_pairs"),
        max("c").as("max_key_rows"))
      .select(col("n_rows"), col("n_keys"), col("exact_pairs"),
        expr("(n_rows * n_rows) div n_keys").as("est_uniform_pairs"),
        expr("(exact_pairs * 10000) div ((n_rows * n_rows) div n_keys)")
          .as("err_ratio_bp"),
        col("max_key_rows"))

  /** Data-contract audit over the event stream: every ingest-side
    * invariant the downstream queries silently assume — event_type in
    * the known enum, value present and non-negative, timestamp inside
    * the operating window, user_id present and positive, props
    * payload present — checked in ONE scan with per-rule violation
    * counts and ppm. [[fkCoverageOf]] audits references BETWEEN
    * tables; this audits each row against its declared shape, the
    * check that runs before a vintage is promoted (and the reason a
    * silently nulled field — row 218's drift case — gets caught at
    * ingest instead of in a report). All integer; absent violations
    * read an explicit 0 row per rule, not a missing row.
    *
    * Shape: one pruned scan, five conditional map-side sums, a
    * bounded 5-row stack. */
  def contractAuditOf(events: DataFrame,
                      enumTypes: Seq[String] =
                        Seq("click", "error", "purchase", "signup", "view"),
                      tsLo: String = "2024-01-01",
                      tsHi: String = "2027-01-01"): DataFrame = {
    val inEnum = col("event_type").isNotNull &&
      col("event_type").isin(enumTypes: _*)
    val valueOk = col("value").isNotNull && col("value") >= 0
    val tsOk = col("ts").isNotNull &&
      col("ts") >= lit(tsLo).cast("timestamp") &&
      col("ts") < lit(tsHi).cast("timestamp")
    val userOk = col("user_id").isNotNull && col("user_id") > 0
    val propsOk = col("props").isNotNull && length(col("props")) >= 2
    def viol(ok: org.apache.spark.sql.Column) =
      sum(when(ok, 0L).otherwise(1L))
    events
      .agg(count(lit(1)).as("n_rows"),
        viol(inEnum).as("v1"), viol(valueOk).as("v2"), viol(tsOk).as("v3"),
        viol(userOk).as("v4"), viol(propsOk).as("v5"))
      .selectExpr("stack(5, " +
        "'event_type_enum', n_rows, v1, " +
        "'value_non_negative', n_rows, v2, " +
        "'ts_in_window', n_rows, v3, " +
        "'user_id_positive', n_rows, v4, " +
        "'props_present', n_rows, v5) " +
        "AS (rule, n_rows, n_violations)")
      .withColumn("violation_ppm",
        expr("(n_violations * 1000000) div n_rows"))
      .orderBy("rule")
  }

  /** Return rate by part brand — the goods-quality report a retail
    * warehouse runs weekly (a brand whose lineitems come back as 'R'
    * at twice the fleet rate is a supplier conversation): per brand,
    * lineitems, returned share in exact basis points, and the
    * returned revenue on the integer micro grid. Brand is a true
    * dimension attribute, so the part side BROADCASTS ([[
    * revenueByNationOf]]'s pyramid rule); one map-combinable brand
    * aggregate after the join.
    */
  def returnRateByBrandOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_partkey"),
      (col("l_returnflag") === "R").as("ret"),
      Report.earningsMicros.as("qrev"))
    li.join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), Seq("l_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("ret"), 1L).otherwise(0L)).as("n_returned"),
        // decimal(38,0), not int64: a BRAND-level micro-revenue sum
        // funnels ~1/25th of the corpus through one group — at 10¹⁰
        // fact rows that crosses 2⁶³ (the lorenz_curve headroom
        // class; DuckDB already sums into HUGEINT)
        sum(when(col("ret"), col("qrev").cast(Dec))
          .otherwise(lit(0L).cast(Dec))).as("qret"))
      .select(col("p_brand"), col("n_items"), col("n_returned"),
        expr("(n_returned * 10000) div n_items").as("return_bp"),
        TextF.microsTo4dp(col("qret")).as("returned_revenue"))
      .orderBy("p_brand")
  }

  /** Supplier concentration per nation (procurement-risk HHI — the
    * [[graft.operators.CorpusStats]] lang_hhi machinery on the supply
    * chain): per supplier nation, revenue share HHI over its
    * suppliers in ppm of squared share (integer Σq²/(Σq)² on
    * decimal(38,0) — micro-revenue squares overflow int64), supplier
    * count, and the top supplier's share — a nation whose supply
    * concentrates in one vendor is a single point of failure the
    * sourcing team prices. Lineitem⋈supplier shuffles once on
    * suppkey (AQE sizes it; nation broadcasts); everything after
    * rides the bounded supplier frame.
    */
  def supplierHhiOf(lineitem: DataFrame, supplier: DataFrame,
                    nation: DataFrame): DataFrame = {
    val perSupp = lineitem
      .select(col("l_suppkey").as("s_suppkey"),
        Report.earningsMicros.as("qrev"))
      .groupBy("s_suppkey").agg(sum("qrev").as("q"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        Seq("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("s_nationkey"),
        col("n_name"))), Seq("s_nationkey"))
    val byNation = Window.partitionBy("n_name")
    perSupp
      // decimal(38,0), not int64: the NATION-level total is ~1/25th
      // of corpus micro-revenue — crosses 2⁶³ at 10¹⁰ fact rows
      // (same headroom class as lorenz_curve / qret above); the
      // per-SUPPLIER q stays comfortably long.
      .withColumn("tq", sum(col("q").cast(Dec)).over(byNation))
      .withColumn("rn", row_number().over(
        byNation.orderBy(col("q").desc, col("s_suppkey"))))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        max("tq").as("tq"),
        sum(expr(s"CAST(q AS $Dec) * q")).as("ssq"),
        max(when(col("rn") === 1, col("q"))).as("top_q"))
      .select(col("nation"), col("n_suppliers"),
        expr(s"CAST((ssq * 1000000) div (CAST(tq AS $Dec) * tq) AS BIGINT)")
          .as("hhi_ppm"),
        TextF.round4HalfUp(col("top_q").cast("double")
          / col("tq").cast("double")).as("top_share"))
      .orderBy("nation")
  }

  /** Coordinated (consistent-hash) dev-slice sampling across the
    * customer→orders→lineitem star — the "carve a referentially-
    * INTACT 5% of the warehouse" op behind every staging environment
    * and data clean room (a per-table Bernoulli sample breaks every
    * FK: a kept order's customer is missing with p = 95%): tables
    * sharing the entity KEY sample map-side with the SAME md5
    * predicate (customers and orders agree on custkey with NO join —
    * the whole point of coordinated sampling), key-DERIVED tables
    * (lineitem carries only orderkey) follow through one semi-join.
    * Output: per-table totals, kept counts, exact-ppm kept share,
    * and the fk_orphans column the audit exists for — 0 by
    * construction for both derived tables, and the spec breaks it on
    * purpose with an uncoordinated control sample.
    *
    * Shape: two map-side filters + one orderkey semi-join; the audit
    * counts are 1-row aggregates unioned into the 3-row report. */
  def consistentSampleOf(customer: DataFrame, orders: DataFrame,
                         lineitem: DataFrame, pct: Int = 5): DataFrame = {
    require(pct >= 1 && pct <= 99, s"pct must be 1..99, got $pct")
    def keep(id: Column): Column =
      pmod(conv(substring(md5(concat(lit("smp:"), id.cast("string"))),
        1, 8), 16, 10).cast("long"), lit(100L)) < pct
    val cKept = customer.filter(keep(col("c_custkey"))).localCheckpoint(false)
    val oKept = orders.filter(keep(col("o_custkey"))).localCheckpoint(false)
    val lKept = lineitem.join(
      oKept.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_semi")
    def row(name: String, total: DataFrame, kept: DataFrame,
            orphans: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("total_rows"))
        .crossJoin(broadcast(kept.agg(count(lit(1)).as("kept_rows"))))
        .crossJoin(broadcast(orphans.agg(count(lit(1)).as("fk_orphans"))))
        .select(lit(name).as("table"), col("total_rows"), col("kept_rows"),
          expr("CAST((kept_rows * 1000000) div nullif(total_rows, 0)" +
            " AS BIGINT)").as("kept_ppm"),
          col("fk_orphans"))
    val oOrphans = oKept.join(
      cKept.select(col("c_custkey").as("o_custkey")),
      Seq("o_custkey"), "left_anti")
    val lOrphans = lKept.join(
      oKept.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_anti")
    row("customer", customer, cKept, cKept.limit(0))
      .unionByName(row("orders", orders, oKept, oOrphans))
      .unionByName(row("lineitem", lineitem, lKept, lOrphans))
      .orderBy("table")
  }

  /** Price/volume/mix decomposition of the revenue change between the
    * corpus's two date halves, per part type (the index-number read
    * behind every "why did revenue move" review — Laspeyres-style
    * two-factor split with the exact joint term: Δ = (p₁−p₀)·q₀
    * [price] + p₀·(q₁−q₀) [volume] + (Δp)(Δq) [joint], where pᵢ is
    * the period's realized unit price Σrᵢ/Σqᵢ): row 157 decomposes a
    * total across GROUPS; this decomposes each group's change across
    * CAUSES. The split day is the midpoint of the shipdate span (a
    * 1-row broadcast); types missing a period drop (the standard
    * common-basket restriction, documented).
    *
    * Exactness: revenue rides the CENT grid (type-level cent effects
    * stay inside int64 to ~$10¹⁴ per type per period — micro would
    * cross at 100 TB scale), products in decimal(38,0), ONE integral
    * division per rational term, and the joint term is the exact
    * residual — price + volume + joint ≡ Δ bit-for-bit by
    * construction (spec-pinned; the table audits itself).
    *
    * Shape: one broadcast-dim fact aggregate to the (type, period)
    * grain; everything after rides the part-type frame. */
  def priceVolumeMixOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val bounds = lineitem.agg(min("l_shipdate").as("mn"),
      max("l_shipdate").as("mx"))
    val base = lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .crossJoin(broadcast(bounds)) // 1 row by construction
      .select(col("p_type"),
        when(col("l_shipdate") <=
          expr("date_add(mn, CAST(datediff(mx, mn) div 2 AS INT))"), 0)
          .otherwise(1).as("period"),
        col("l_quantity").cast("long").as("q"),
        centsDown(col("l_extendedprice")).as("r"))
    base.groupBy("p_type")
      .agg(
        sum(when(col("period") === 0, col("q")).otherwise(0L)).as("q0"),
        sum(when(col("period") === 1, col("q")).otherwise(0L)).as("q1"),
        sum(when(col("period") === 0, col("r").cast(Dec))
          .otherwise(lit(0).cast(Dec))).as("r0"),
        sum(when(col("period") === 1, col("r").cast(Dec))
          .otherwise(lit(0).cast(Dec))).as("r1"))
      .filter(col("q0") > 0 && col("q1") > 0)
      .select(col("p_type"), col("q0"), col("q1"),
        expr("CAST(r1 - r0 AS BIGINT)").as("delta_cents"),
        expr(s"CAST((r1 * q0) div CAST(q1 AS $Dec) AS BIGINT)" +
          s" - CAST(r0 AS BIGINT)").as("price_effect_cents"),
        expr(s"CAST((r0 * q1) div CAST(q0 AS $Dec) AS BIGINT)" +
          s" - CAST(r0 AS BIGINT)").as("volume_effect_cents"))
      .withColumn("joint_cents",
        col("delta_cents") - col("price_effect_cents") -
          col("volume_effect_cents"))
      .orderBy("p_type")
  }

  /** Order fill-rate by order month — the fulfillment operations read
    * beside row 166's ship-lag percentiles (lag says how FAST lines
    * ship; this says whether orders ship COMPLETE — a month of
    * partials is an inventory problem, not a speed problem):
    * per order, its lineitems' L_LINESTATUS split (F finished / O
    * open) classifies the order filled / partial / open; per month,
    * counts and the exact-ppm fill rate.
    *
    * Shape: one orderkey-keyed fact⋈fact join (both sides shuffle on
    * the join key; the lineitem side pre-aggregates to order grain
    * FIRST so the join moves order-count rows, not line-count rows),
    * then a month-keyed map-combinable aggregate. */
  def orderFillRateOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val per = lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("n_f"))
    orders
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .join(per, col("o_orderkey") === col("l_orderkey"))
      .select(col("month"),
        when(col("n_f") === col("n_lines"), "filled")
          .when(col("n_f") === 0L, "open")
          .otherwise("partial").as("status"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("status") === "filled", 1L).otherwise(0L))
          .as("n_filled"),
        sum(when(col("status") === "partial", 1L).otherwise(0L))
          .as("n_partial"),
        sum(when(col("status") === "open", 1L).otherwise(0L)).as("n_open"))
      .withColumn("fill_ppm",
        expr("CAST((n_filled * 1000000) div n_orders AS BIGINT)"))
      .orderBy("month")
  }

  /** ABC (Pareto) inventory classification over part revenue — the
    * 80/95 cumulative-share cut behind every stocking policy (A-parts
    * get safety stock and daily counts, C-parts get annual ones; row
    * 255's Lorenz curve is the same mass concentration read over
    * USERS, unclassified): parts ranked by revenue descending with
    * rank AND running revenue off ONE [[graft.Scale]] two-phase pass
    * (the part dimension SCALES WITH the corpus in TPC-H — a plain
    * global window would be the exact single-task shape rounds 10-12
    * eliminated), class cut at cum·100 ≤ total·80 / ·95 in
    * decimal(38,0) (cum × 100 crosses int64 at corpus scale), then a
    * 3-row class aggregate with exact-ppm part and revenue shares.
    *
    * Revenue rides the cent grid (the [[priceVolumeMixOf]] headroom
    * argument; the two-phase value offsets are int64 — cents hold to
    * ~$10¹⁷ corpus revenue where micros would not). */
  def abcClassificationOf(lineitem: DataFrame): DataFrame = {
    val perPart = lineitem.groupBy(col("l_partkey"))
      .agg(sum(centsDown(col("l_extendedprice")
        * (lit(1.0) - col("l_discount")))).as("rev"))
    val (ranked, nParts, totalRev) = graft.Scale.twoPhaseRankAndRunningSum(
      perPart, Seq(col("rev").desc, col("l_partkey")), col("rev"))
    ranked
      .withColumn("abc_class",
        when(expr(s"CAST(__running AS $Dec) * 100" +
          s" <= CAST(${totalRev} AS $Dec) * 80"), "A")
          .when(expr(s"CAST(__running AS $Dec) * 100" +
            s" <= CAST(${totalRev} AS $Dec) * 95"), "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev").cast(Dec)).as("crev"))
      .select(col("abc_class"), col("n_parts"),
        expr(s"CAST((n_parts * 1000000) div ${nParts}L AS BIGINT)")
          .as("part_share_ppm"),
        expr(s"CAST((crev * 1000000) div CAST(${totalRev} AS $Dec)" +
          s" AS BIGINT)").as("revenue_share_ppm"))
      .orderBy("abc_class")
  }

  /** XYZ demand-variability classification per part — [[abcClassificationOf]]'s
    * canonical companion axis (ABC says how much a part MATTERS, XYZ
    * says how PREDICTABLE it is; the 2-axis grid drives the stocking
    * policy — AX parts get automated replenishment, AZ parts get a
    * human planner): coefficient of variation of WEEKLY demand over
    * the full ship-date span, zero weeks included (a part shipped one
    * enormous week and silent otherwise is the textbook Z), classes
    * X: CV ≤ ½, Y: ≤ 1, Z: above.
    *
    * The class cut is EXACT integer algebra, never a rounded CV:
    * with S = Σq, Q = Σq², W weeks, population σ²/μ² =
    * (W·Q − S²)/S² — so X ⟺ 4(W·Q − S²) ≤ S², Y ⟺ W·Q − S² ≤ S²,
    * cross-multiplied in decimal(38,0) (the [[abcClassificationOf]]
    * headroom rule); W·Q ≥ S² by Cauchy-Schwarz so the published
    * 4-dp CV's sqrt is never negative. Zero-demand… S = 0 reads
    * class Z with NULL CV (nothing shipped is maximally
    * unpredictable, and 0/0 is not a CV).
    *
    * Shape: one (part, week) fact aggregate (observed cells only —
    * zero weeks enter through W, a 1-row broadcast constant, never a
    * densified spine), one part fold, a 3-row class rollup with
    * exact-ppm part shares. Parts scale with the corpus; every
    * frame here is part- or class-keyed. */
  def xyzClassificationOf(lineitem: DataFrame): DataFrame = {
    val bounds = lineitem
      .agg(min(col("l_shipdate")).as("d0"), max(col("l_shipdate")).as("d1"))
      .select(col("d0"),
        expr("CAST(datediff(d1, d0) AS BIGINT) div 7 + 1").as("nw"))
    val weekly = lineitem.crossJoin(broadcast(bounds))
      .select(col("l_partkey"),
        expr("CAST(datediff(l_shipdate, d0) AS BIGINT) div 7").as("wk"),
        col("nw"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_partkey", "wk")
      .agg(max("nw").as("nw"), sum("q").as("qw"))
    val perPart = weekly.groupBy("l_partkey")
      .agg(max("nw").as("nw"), count(lit(1)).as("nzw"),
        sum(col("qw").cast(Dec)).as("s"),
        sum(expr(s"CAST(qw AS $Dec) * qw")).as("qq"))
      .withColumn("vr", expr(s"CAST(nw AS $Dec) * qq - s * s"))
      .withColumn("xyz_class",
        when(col("s") === 0, "Z")
          .when(expr("4 * vr <= s * s"), "X")
          .when(expr("vr <= s * s"), "Y")
          .otherwise("Z"))
      .withColumn("cv", graft.functions.TextF.round4HalfUp(expr(
        "sqrt(CAST(vr AS DOUBLE)) / NULLIF(CAST(s AS DOUBLE), 0.0)")))
    val total = perPart.agg(count(lit(1)).as("np")) // 1 row
    perPart.groupBy("xyz_class")
      .agg(count(lit(1)).as("n_parts"),
        min("cv").as("cv_min"), max("cv").as("cv_max"))
      .crossJoin(broadcast(total))
      .select(col("xyz_class"), col("n_parts"),
        expr("CAST((n_parts * 1000000) div np AS BIGINT)")
          .as("part_share_ppm"),
        col("cv_min"), col("cv_max"))
      .orderBy("xyz_class")
  }

  /** Monthly Laspeyres / Paasche / Fisher price indices vs the base
    * (earliest) month — the index-number read behind every "is
    * revenue up because of PRICES or because of volume" deflation
    * ([[priceVolumeMixOf]] decomposes one period pair additively;
    * index numbers track the whole series multiplicatively, and
    * Fisher = √(L·P) is the standard compromise between base-weighted
    * L and current-weighted P). Per (part, month): exact cent revenue
    * and integer quantity; the implied unit value e/q is the price.
    * L's denominator Σp₀q₀ and P's numerator Σp₁q₁ are EXACT cent
    * sums (p·q at a period's own weights IS that period's revenue);
    * only the two cross terms p₁q₀ / p₀q₁ need floats — each
    * quantized per part to the 10⁻⁴-cent grid (floor(e/q·q'·10⁴+0.5),
    * one fixed double sequence) so the month sums are order-blind
    * integer sums in decimal(38,0) (the ×1000 headroom rule: a 10⁹
    * part dimension crosses int64). One division per index, √ is one
    * correctly-rounded IEEE op, 6 dp half-up. Only parts present in
    * BOTH months enter (the matched-basket convention).
    *
    * Shape: one map-combinable (part, month) fact aggregate; a
    * part-keyed equijoin of the month frame to the 1-row-broadcast-
    * selected base frame (both sides part-dimension-sized — scales
    * with the corpus, AQE-planned); the index algebra rides the
    * bounded |months| frame. */
  def fisherPriceIndexOf(lineitem: DataFrame): DataFrame = {
    val per = lineitem
      .select(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        cents(col("l_extendedprice")).as("ec"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("l_partkey", "month")
      .agg(sum("ec").as("ec"), sum("q").as("q"))
      .filter(col("q") > 0)
    val base = per.agg(min("month").as("bm"))
    val b = per.crossJoin(broadcast(base)) // 1 row by construction
      .filter(col("month") === col("bm"))
      .select(col("l_partkey"), col("ec").as("ec0"), col("q").as("q0"))
    val cur = per.crossJoin(broadcast(base))
      .filter(col("month") =!= col("bm")).drop("bm")
    val j = cur.join(b, Seq("l_partkey"))
    def d(c: Column) = c.cast("double")
    val lterm = TextF.grid4(d(col("ec")) / d(col("q")) * d(col("q0")))
    val pterm = TextF.grid4(d(col("ec0")) / d(col("q0")) * d(col("q")))
    val agg = j.groupBy("month")
      .agg(count(lit(1)).as("n_parts"),
        sum(lterm.cast(Dec)).as("lnum"),
        sum(col("ec0").cast(Dec)).as("lden"),
        sum(col("ec").cast(Dec)).as("pnum"),
        sum(pterm.cast(Dec)).as("pden"))
    val lIdx = (d(col("lnum")) / 1e4) / d(col("lden"))
    val pIdx = d(col("pnum")) / (d(col("pden")) / 1e4)
    agg.select(col("month"), col("n_parts"),
        TextF.round6HalfUp(lIdx).as("laspeyres"),
        TextF.round6HalfUp(pIdx).as("paasche"),
        TextF.round6HalfUp(sqrt(lIdx * pIdx)).as("fisher"))
      .orderBy("month")
  }

  /** Order-total reconciliation audit — the VALUE-level integrity gate
    * beside [[fkCoverageOf]] (keys resolve) and [[contractAuditOf]]
    * (rows are well-shaped): does the header's `o_totalprice` equal
    * what its lines actually sum to under the TPC-H pricing identity
    * Σ extendedprice·(1−discount)·(1+tax)? A warehouse where headers
    * and lines drift apart double-counts revenue silently — this
    * publishes the divergence per order status (count over 1%, mean
    * and max relative divergence in ppm) so the break surfaces with
    * its blast radius attached.
    *
    * Determinism: discount/tax live on the 0.01 grid, so each line's
    * net value is EXACT integer arithmetic on the 10⁻⁴-cent grid
    * (cents × (100−d%) × (100+t%)); order sums ride decimal(38,0)
    * (the ×1000 headroom rule), the header total scales to the same
    * grid, and relative divergence is one integer division
    * (|Δ|·10⁶ div stated) — no doubles anywhere.
    *
    * Shape: one order-keyed map-combinable line aggregate, then ONE
    * orderkey fact⋈fact equijoin (AQE-planned), then the bounded
    * status frame. Headerless lines and lineless orders fall out of
    * the inner join by design — key coverage is row 88's job. */
  def orderReconcileOf(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val perOrder = lineitem
      .select(col("l_orderkey").as("o_orderkey"),
        (netC100 * (lit(100L) + cents(col("l_tax")))).cast(Dec).as("net_q"))
      .groupBy("o_orderkey")
      .agg(sum("net_q").as("recomp_q"))
    val audited = orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        (cents(col("o_totalprice")).cast(Dec)
          * lit(10000L).cast(Dec)).as("stated_q"))
      .join(perOrder, Seq("o_orderkey"))
      .withColumn("div_ppm", expr(
        """CASE WHEN stated_q > 0
          |  THEN (abs(recomp_q - stated_q) * 1000000) div stated_q
          |  ELSE NULL END""".stripMargin))
    audited.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("div_ppm") > 10000L, 1L).otherwise(0L))
          .as("n_over_1pct"),
        sum(col("div_ppm").cast(Dec)).as("dsum"),
        count(col("div_ppm")).as("dn"),
        max("div_ppm").as("max_div_ppm"))
      .select(col("o_orderstatus"), col("n_orders"), col("n_over_1pct"),
        expr("dsum div dn").as("mean_div_ppm"), col("max_div_ppm"))
      .orderBy("o_orderstatus")
  }

  /** Small-quantity-order revenue per brand (the TPC-H Q17 shape —
    * "how much revenue is locked in orders below a fifth of the
    * part's typical quantity", the drop-small-orders what-if a
    * warehouse runs before minimum-order-size policy): a line is
    * SMALL when q < 0.2·avg(part quantity), tested as the EXACT
    * integer cross-multiplication 5·q·n_part < Σq_part — no division,
    * no doubles anywhere; revenue in exact cents; per-brand share by
    * integer ppm division.
    *
    * Shape: the classic fact⋈per-key-aggregate pattern — one
    * (partkey) map-combinable aggregate, ONE partkey equijoin back to
    * the fact (AQE-planned), the brand dim broadcast; everything
    * after on the bounded brand frame. */
  def smallOrderRevenueOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val l = lineitem.select(col("l_partkey"),
      col("l_quantity").cast("long").as("q"),
      cents(col("l_extendedprice")).as("ec"))
    val perPart = l.groupBy("l_partkey")
      .agg(sum("q").as("sumq"), count(lit(1)).as("nq"))
    l.join(perPart, Seq("l_partkey"))
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), Seq("l_partkey"))
      .withColumn("small",
        col("q") * lit(5L) * col("nq") < col("sumq"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("small"), 1L).otherwise(0L)).as("n_small"),
        sum(when(col("small"), col("ec")).otherwise(0L).cast(Dec))
          .as("small_rev"),
        sum(col("ec").cast(Dec)).as("total_rev"))
      .select(col("p_brand"), col("n_lines"), col("n_small"),
        col("small_rev").cast("long").as("small_revenue_cents"),
        expr("CAST((small_rev * 1000000) div total_rev AS BIGINT)")
          .as("small_share_ppm"))
      .orderBy("p_brand")
  }

  /** Idle high-balance customers per market segment (the TPC-H Q22
    * shape — "who holds above-average money with us and stopped
    * ordering", the reactivation-campaign target list): customers
    * with a positive account balance above the positive-balance
    * average (exact integer cross-multiplication bal·n > Σbal — no
    * division) and no orders in the trailing `dormantDays` days
    * ending at the newest order date, found by a LEFT ANTI join
    * against the recent distinct order-customer set. (Q22's literal
    * "never ordered" is vacuous on a warehouse where every account
    * has history — the dormancy window is the live form of the same
    * question and keeps the anti-join non-trivially exercised.)
    *
    * Shape: two 1-row broadcasts (report date, balance threshold),
    * then the anti-join — the dim-side probe of a fact-derived
    * distinct-key set (the one join type no other registered query
    * exercises); bounded segment frame after. */
  def idleCustomersOf(customer: DataFrame, orders: DataFrame,
                      dormantDays: Int = 30): DataFrame = {
    require(dormantDays > 0, s"dormantDays must be positive, got $dormantDays")
    val c = customer.select(col("c_custkey"), col("c_mktsegment"),
      cents(col("c_acctbal")).as("bal_c"))
    val posStats = c.filter(col("bal_c") > 0L)
      .agg(sum(col("bal_c").cast(Dec)).as("pos_sum"),
        count(lit(1)).as("pos_n")) // 1 row
    val bounds = orders.agg(max(to_date(col("o_orderdate"))).as("md"))
    val recent = orders.crossJoin(broadcast(bounds)) // 1 row by construction
      .filter(to_date(col("o_orderdate")) >= date_sub(col("md"), dormantDays))
      .select(col("o_custkey").as("c_custkey")).distinct()
    c.crossJoin(broadcast(posStats)) // 1 row by construction
      .filter(col("bal_c").cast(Dec) * col("pos_n").cast(Dec)
        > col("pos_sum"))
      .join(recent, Seq("c_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_idle"),
        sum(col("bal_c").cast(Dec)).as("balsum"))
      .select(col("c_mktsegment"), col("n_idle"),
        col("balsum").cast("long").as("idle_balance_cents"))
      .orderBy("c_mktsegment")
  }

  /** Pricing summary report — the literal TPC-H Q1 shape (per
    * returnflag × linestatus: quantity/price/discount/charge sums,
    * averages, line count, over lines shipped ≥ 90 days before the
    * newest shipdate), the single most-benchmarked aggregate in
    * warehousing, published on EXACT integer grids: base price in
    * cents, discounted in 10⁻²-cent units (cents × (100−d%)), charged
    * in 10⁻⁴-cent units, averages by integer division (milli-quantity,
    * cents, discount basis points) — no doubles anywhere, so the
    * report is bit-stable under any partitioning.
    *
    * Shape: ONE map-side-combinable aggregate over the pruned scan
    * (six columns read) behind a 1-row date-bound broadcast —
    * whole-stage-codegen end to end; the canonical scan-bound query. */
  def pricingSummaryOf(lineitem: DataFrame): DataFrame = {
    val bounds = lineitem.agg(max(to_date(col("l_shipdate"))).as("md"))
    val l = lineitem.crossJoin(broadcast(bounds)) // 1 row by construction
      .filter(to_date(col("l_shipdate")) <= date_sub(col("md"), 90))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("q"),
        cents(col("l_extendedprice")).as("ep_c"),
        cents(col("l_discount")).as("d_pct"),
        cents(col("l_tax")).as("t_pct"))
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("q").as("sum_qty"),
        sum(col("ep_c").cast(Dec)).as("spc"),
        sum((col("ep_c") * (lit(100L) - col("d_pct"))).cast(Dec)).as("sdc"),
        sum((col("ep_c") * (lit(100L) - col("d_pct"))
          * (lit(100L) + col("t_pct"))).cast(Dec)).as("scc"),
        sum("d_pct").as("sd"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("spc").cast("long").as("sum_base_cents"),
        col("sdc").cast("long").as("sum_disc_c100"),
        col("scc").cast("long").as("sum_charge_c10000"),
        expr("(sum_qty * 1000) div count_order").as("avg_qty_milli"),
        expr("CAST(spc div count_order AS BIGINT)").as("avg_price_cents"),
        expr("(sd * 100) div count_order").as("avg_disc_bp"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Promotion revenue share by ship month — the TPC-H Q14 shape
    * ("what fraction of net revenue came from promotional parts"),
    * the marketing-spend justification read: net revenue
    * extendedprice·(1−discount) EXACT on the 10⁻²-cent integer grid
    * (cents × (100−d%)), promo flagged off the broadcast part dim
    * (p_type = 'PROMO'), share by integer ppm division.
    *
    * Shape: one broadcast dim hash join into one map-combinable
    * month aggregate — the Q5/row-282 join discipline; bounded month
    * frame after. */
  def promotionEffectOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    lineitem
      .select(col("l_partkey").as("p_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        netC100.as("net_q"))
      .join(broadcast(part.select(col("p_partkey"),
        (col("p_type") === "PROMO").as("is_promo"))), Seq("p_partkey"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_promo"), col("net_q")).otherwise(0L).cast(Dec))
          .as("promo_q"),
        sum(col("net_q").cast(Dec)).as("total_q"))
      .select(col("month"), col("n_lines"),
        col("promo_q").cast("long").as("promo_rev_c100"),
        col("total_q").cast("long").as("total_rev_c100"),
        expr("CAST((promo_q * 1000000) div total_q AS BIGINT)")
          .as("promo_share_ppm"))
      .orderBy("month")
  }

  /** Customer order-count distribution — the TPC-H Q13 shape ("how
    * many customers placed 0, 1, 2, … orders", the engagement
    * histogram whose ZERO bucket is the whole point: an inner join
    * silently deletes the never-ordered customers a win-back campaign
    * targets): customers LEFT JOIN the per-customer order counts,
    * absent → 0, then the count-of-counts.
    *
    * Shape: one custkey fact aggregate, one dim-side LEFT equijoin,
    * one bounded count-of-counts aggregate (distinct order counts ≤
    * hundreds at any scale). */
  def ordersPerCustomerDistOf(customer: DataFrame,
                              orders: DataFrame): DataFrame = {
    val perCust = orders.groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    customer.select(col("c_custkey"))
      .join(perCust, Seq("c_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .groupBy("n_orders")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_orders")
  }

  /** Unshipped high-value orders — the TPC-H Q3 "shipping priority"
    * shape (orders a BUILDING-segment customer placed before the
    * cutoff whose lines are still shipping after it, ranked by open
    * revenue: the expedite list a fulfillment lead reads every
    * morning). Top-k rides orderBy+limit — TakeOrderedAndProject,
    * per-partition heaps, never a global sort — with the total
    * (qsum DESC, o_orderdate, l_orderkey) tiebreak so the k-boundary
    * is engine-independent; revenue publishes on the
    * [[Report.earningsMicros]]/[[TextF.microsTo4dp]] money contract.
    *
    * Shape: both fact sides pre-filtered map-side (date pushdown on
    * the scans), the segment dim a LEFT SEMI prune on orders BEFORE
    * the fact⋈fact equijoin, one order-keyed aggregate, bounded
    * top-k. */
  def unshippedOrdersOf(customer: DataFrame, orders: DataFrame,
                        lineitem: DataFrame, cutoff: String = "1998-06-01",
                        k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val cust = customer.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = orders
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    lineitem
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select(col("l_orderkey"), Report.earningsMicros.as("qrev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), sum("qrev").as("qsum"))
      .orderBy(col("qsum").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(k)
      .select(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_orderpriority"), col("n_lines"),
        TextF.microsTo4dp(col("qsum")).as("revenue"))
  }

  /** National market share — the TPC-H Q8 shape: of the revenue that
    * MEDIUM-type parts earned from AMERICA-region customers, what
    * fraction came through NATION_3's suppliers, by order year? (The
    * competitive-position trend line behind every "are we gaining
    * share" board slide.) Both legs of the ratio come out of ONE
    * conditional aggregate over one join tree — never two scans —
    * and the share is an exact ppm integer division on decimal
    * (micros × 10⁶ crosses int64 at corpus scale).
    *
    * Shape: part/customer/nation/region reduce to two semi-join
    * prunes on the fact (the part filter and the customer-region
    * filter); the supplier nation rides a dimension equijoin (AQE
    * sizes it — supplier SCALES with the corpus, no forced
    * broadcast); one year-keyed aggregate. */
  def nationMarketShareOf(lineitem: DataFrame, orders: DataFrame,
                          customer: DataFrame, supplier: DataFrame,
                          nation: DataFrame, region: DataFrame,
                          part: DataFrame,
                          targetNation: String = "NATION_3",
                          targetRegion: String = "AMERICA",
                          partType: String = "MEDIUM"): DataFrame = {
    val okPart = part.filter(col("p_type") === partType)
      .select(col("p_partkey"))
    val okNation = nation
      .join(broadcast(region.filter(col("r_name") === targetRegion)
        .select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"), "left_semi")
      .select(col("n_nationkey"))
    val okCust = customer
      .join(broadcast(okNation), col("c_nationkey") === col("n_nationkey"),
        "left_semi")
      .select(col("c_custkey"))
    val supNation = supplier
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val ord = orders
      .join(okCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    lineitem
      .join(okPart, col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_orderkey"), col("l_suppkey"),
        Report.earningsMicros.as("qrev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_lines"),
        sum("qrev").as("trev"),
        sum(when(col("n_name") === targetNation, col("qrev")).otherwise(0L))
          .as("nrev"))
      .filter(col("trev") > 0)
      .select(col("o_year"), col("n_lines"),
        TextF.microsTo4dp(col("trev")).as("revenue_total"),
        TextF.microsTo4dp(col("nrev")).as("revenue_nation"),
        expr(s"CAST((CAST(nrev AS $Dec) * 1000000) div CAST(trev AS $Dec)" +
          s" AS BIGINT)").as("share_ppm"))
      .orderBy("o_year")
  }

  /** Discounted revenue under an OR-of-ANDs basket predicate — the
    * TPC-H Q19 shape (three brand × size × quantity "baskets" in one
    * disjunction; the query pattern every ad-hoc BI tool generates
    * and the one that tests whether a planner pushes a DISJUNCTION
    * down): the part side pre-filters to the UNION of the baskets'
    * brand/size envelopes (so the disjunction prunes the dimension
    * scan, not just the joined rows), the per-basket quantity windows
    * apply post-join where both sides are in scope, and the report
    * is per basket — brand, line count, revenue on the money
    * contract.
    *
    * Shape: one dimension prune + one fact equijoin (AQE sizes the
    * filtered part side; at any scale it is the smaller input) +
    * one 3-row aggregate. */
  def brandBasketRevenueOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val baskets = Seq(
      ("Brand#1", 1, 5, 1L, 11L),
      ("Brand#2", 1, 10, 10L, 20L),
      ("Brand#3", 1, 15, 20L, 30L))
    val partPred = baskets.map { case (b, s0, s1, _, _) =>
      col("p_brand") === b && col("p_size").between(s0, s1)
    }.reduce(_ || _)
    val fullPred = baskets.map { case (b, s0, s1, q0, q1) =>
      col("p_brand") === b && col("p_size").between(s0, s1) &&
        col("l_quantity") >= q0 && col("l_quantity") <= q1
    }.reduce(_ || _)
    lineitem
      .select(col("l_partkey"), col("l_quantity").cast("long").as("l_quantity"),
        Report.earningsMicros.as("qrev"))
      .join(part.filter(partPred)
        .select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(fullPred)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"), sum("qrev").as("qsum"))
      .select(col("p_brand"), col("n_lines"),
        TextF.microsTo4dp(col("qsum")).as("revenue"))
      .orderBy("p_brand")
  }

  /** Duplicate-payment audit — the classic AP double-pay screen
    * ([[benfordAuditOf]] hunts fabricated amounts, this hunts
    * REPEATED ones): order pairs from the SAME customer within
    * `windowDays` whose totals agree to 1% — the industry screen
    * matches NEAR, not exact, because the retry that double-pays
    * often differs by a fee or a day of tax — rolled up by the day
    * gap (gap 0-1 spike = a broken retry path; a flat tail =
    * coincidence). The 1% tolerance is EXACT integer algebra on the
    * cent grid — |Δcents|·100 ≤ least(cents_a, cents_b), never a
    * rounded ratio — and amount-at-risk prices the SMALLER leg once
    * per pair on the money contract (the conservative recoverable
    * figure).
    *
    * Shape: the self-join is a custkey EQUIJOIN — pair mass is
    * Σ C(orders_per_customer, 2) with the gap/tolerance filters on
    * the joined row; per-customer order history is bounded (tens)
    * at any corpus scale, so no salt is needed; a.orderkey <
    * b.orderkey orients each pair once. */
  def duplicatePaymentsOf(orders: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val o = orders.select(col("o_orderkey"), col("o_custkey"),
      cents(col("o_totalprice")).as("cents"),
      to_date(col("o_orderdate")).as("day"))
    o.as("a")
      .join(o.as("b"),
        col("a.o_custkey") === col("b.o_custkey") &&
          col("a.o_orderkey") < col("b.o_orderkey"))
      .select(abs(datediff(col("b.day"), col("a.day"))).cast("long")
          .as("gap_days"),
        abs(col("a.cents") - col("b.cents")).as("dc"),
        least(col("a.cents"), col("b.cents")).as("risk_cents"))
      .filter(col("gap_days") <= windowDays &&
        col("dc") * 100L <= col("risk_cents"))
      .groupBy("gap_days")
      .agg(count(lit(1)).as("n_pairs"), sum("risk_cents").as("csum"))
      .select(col("gap_days"), col("n_pairs"),
        TextF.microsTo4dp(col("csum") * 10000L).as("dup_amount_usd"))
      .orderBy("gap_days")
  }

  /** Late orders by priority — the TPC-H Q4 shape (how many orders per
    * priority had AT LEAST one line shipping more than `lateDays`
    * after the order date — the EXISTS pattern, and the one report
    * that tells a COO whether priority labels actually change
    * fulfillment). This schema has no commit/receipt dates, so "late"
    * is the ship-lag gate [[shipLagPercentilesOf]] already measures
    * continuously; the late-line probe compiles to a LEFT SEMI join
    * (exists ⇒ semi — never a count-then-filter of the whole fact),
    * and the denominator rides the same order frame, so the share is
    * exact ppm.
    *
    * Shape: one order⋈line equijoin pre-filtered map-side to
    * candidate-late lines, one semi prune, one ≤ 5-row priority
    * rollup over the order dimension. */
  def lateOrdersByPriorityOf(orders: DataFrame, lineitem: DataFrame,
                             lateDays: Int = 90): DataFrame = {
    require(lateDays > 0, s"lateDays must be positive, got $lateDays")
    val ord = orders.select(col("o_orderkey"), col("o_orderpriority"),
      to_date(col("o_orderdate")).as("oday"))
    val lateOrders = lineitem
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sday"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("sday"), col("oday")) > lateDays)
      .select(col("o_orderkey")).distinct()
    val flagged = ord
      .join(lateOrders, Seq("o_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_late"))
    ord.groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .join(flagged, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"), col("n_orders"),
        coalesce(col("n_late"), lit(0L)).as("n_late"))
      .withColumn("late_ppm",
        expr("CAST((n_late * 1000000) div n_orders AS BIGINT)"))
      .orderBy("o_orderpriority")
  }

  /** Suppliers who kept orders waiting — the TPC-H Q21 shape, the one
    * query form still missing from the warehouse family: for FINISHED
    * multi-supplier orders, find the supplier whose lines were the
    * ONLY late ones (late = the row-166 ship-lag gate, shipdate >
    * orderdate + `lateDays`; this schema carries no commit/receipt
    * dates), i.e. the party that single-handedly blocked the order.
    * Q21's double-correlated EXISTS / NOT EXISTS compiles here to
    * conditional AGGREGATION — Spark-first, no correlated subqueries:
    * per (order, supplier) a late flag, per order the supplier count
    * and late-supplier count as windows, blocking ⟺ late ∧ n_supp ≥ 2
    * ∧ n_late_supp = 1.
    *
    * Shape: status filter pushed into the orders scan, ONE fact⋈order
    * equijoin, one map-combinable (order, supplier) aggregate, then
    * the two order-keyed windows share one re-shuffle of the
    * SUB-fact-sized (order, supplier) frame (deliberately NOT
    * pre-partitioning the raw fact by order alone — that would trade
    * away map-side combine on the bigger stream); top-k is
    * TakeOrderedAndProject on (numwait DESC, suppkey). */
  def blockingSuppliersOf(orders: DataFrame, lineitem: DataFrame,
                          lateDays: Int = 90, k: Int = 20): DataFrame = {
    require(lateDays > 0 && k > 0, s"need positive args, got $lateDays/$k")
    val ord = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("oday"))
    // aggregate BEFORE the join: a supplier is late iff its LATEST
    // line is late, so the fact collapses map-side to the (order,
    // supplier, max shipdate) frame and the orders join moves ~4×
    // fewer rows (measured at ×100: the raw-fact-first join shuffled
    // all 60M lines into the SMJ)
    val per = lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        to_date(col("l_shipdate")).as("sday"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max("sday").as("max_sday"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        when(datediff(col("max_sday"), col("oday")) > lateDays, 1L)
          .otherwise(0L).as("late"))
    val w = Window.partitionBy("l_orderkey")
    per
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp", sum("late").over(w))
      .filter(col("late") === 1L && col("n_supp") >= 2 &&
        col("n_late_supp") === 1L)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(k)
  }

  /** Bilateral trade flows — the TPC-H Q7 shape: revenue shipped
    * between two nations by year, BOTH directions published (supplier
    * nation → customer nation), the import/export ledger behind every
    * trade-balance read. Nation names resolve through two broadcast
    * dim joins; the pair filter applies on the JOINED bounded keys so
    * only the two nations' supplier/customer rows survive the fact
    * joins (semi-pruned on both sides before the fact⋈fact).
    *
    * Shape: supplier/customer pre-filtered to the two nations (semi
    * prunes), one orders equijoin for the year, one ≤ 2·years-row
    * rollup on the money contract. */
  def tradeFlowsOf(lineitem: DataFrame, orders: DataFrame,
                   customer: DataFrame, supplier: DataFrame,
                   nation: DataFrame,
                   nationA: String = "NATION_1",
                   nationB: String = "NATION_2"): DataFrame = {
    val nk = nation.select(col("n_nationkey"), col("n_name"))
      .filter(col("n_name").isin(nationA, nationB))
    val sup = supplier
      .join(broadcast(nk), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = customer
      .join(broadcast(nk), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = orders.select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        Report.earningsMicros.as("qrev"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "o_year")
      .agg(count(lit(1)).as("n_lines"), sum("qrev").as("qsum"))
      .select(col("supp_nation"), col("cust_nation"), col("o_year"),
        col("n_lines"), TextF.microsTo4dp(col("qsum")).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "o_year")
  }

  /** Returned-item revenue top-k — the TPC-H Q10 shape: which
    * customers returned the most money in a quarter-sized window
    * (returnflag = 'R'), with enough identity to route the list to a
    * account manager. The same top-k discipline as
    * [[unshippedOrdersOf]]: TakeOrderedAndProject on the EXACT
    * integer revenue with the custkey tiebreak; the returned-lines
    * filter and the date window push to the scans.
    *
    * Shape: map-side-filtered fact, one orders equijoin (window),
    * one custkey aggregate; the customer/nation identity joins run
    * on the already-customer-bounded rollup frame BEFORE the top-k
    * (so the heap orders on the exact revenue with identity in
    * hand), and TakeOrdered bounds the output. */
  def returnedRevenueTopkOf(lineitem: DataFrame, orders: DataFrame,
                            customer: DataFrame, nation: DataFrame,
                            from: String = "1998-01-01",
                            until: String = "1998-04-01",
                            k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val ord = orders
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val perCust = lineitem
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), Report.earningsMicros.as("qrev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_lines"), sum("qrev").as("qsum"))
    perCust
      .join(customer.select(col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_nationkey")), Seq("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("qsum").desc, col("c_custkey"))
      .limit(k)
      .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"),
        col("c_acctbal"), col("n_lines"),
        TextF.microsTo4dp(col("qsum")).as("returned_revenue"))
  }

  /** Unit-price dispersion per brand — the pricing-governance screen
    * ([[benfordAuditOf]] hunts fabricated totals, [[duplicatePaymentsOf]]
    * repeated ones; this hunts INCONSISTENT pricing: the same part
    * billed at materially different unit prices is either
    * negotiated-discount policy working or revenue leaking): per
    * part, the exact unit-cent range ppm (max − min)·10⁶ div max
    * over its lines, rolled up per brand as the share of parts
    * dispersed beyond 10% — the cross-multiplied EXACT cut
    * range·10 > max·1 ([[xyzClassificationOf]]'s discipline, never
    * a rounded ratio) — plus the worst offender.
    *
    * Unit cents quantize as floor(extprice/qty·100 + 0.5) — one
    * double division both engines compute identically, then integer
    * algebra; zero/negative-quantity lines drop (not a unit price).
    *
    * Shape: one part-keyed fact aggregate, one AQE-sized dim
    * equijoin (part scales with the corpus — no forced broadcast),
    * one ≤ |brands|-row rollup. */
  def priceDispersionOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val perPart = lineitem
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey"),
        cents(col("l_extendedprice") / col("l_quantity")).as("uc"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"), min("uc").as("min_uc"),
        max("uc").as("max_uc"))
      .select(col("l_partkey"), col("n_lines"),
        expr("CAST(((max_uc - min_uc) * 1000000) div" +
          " NULLIF(max_uc, 0) AS BIGINT)").as("range_ppm"),
        // the >10% cut cross-multiplies the RAW cents (range·10 >
        // max) — the truncated range_ppm would miss the boundary
        // sliver where range·10⁶ lands in (10⁵·max, 10⁵·max + max)
        when(expr("(max_uc - min_uc) * 10 > max_uc"), 1L).otherwise(0L)
          .as("dispersed"))
    perPart
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("dispersed")).as("n_dispersed"),
        max("range_ppm").as("max_range_ppm"))
      .select(col("p_brand"), col("n_parts"), col("n_dispersed"),
        expr("CAST((n_dispersed * 1000000) div n_parts AS BIGINT)")
          .as("dispersed_share_ppm"),
        col("max_range_ppm"))
      .orderBy("p_brand")
  }

  /** Single-sourcing supply risk per brand ([[priceDispersionOf]]
    * polices a part's PRICE spread; this polices its SUPPLY spread —
    * a part whose volume rides one supplier is a disruption away
    * from a stockout, the classic supplier-concentration screen):
    * per part, the top supplier's share of shipped quantity (argmax
    * with ties to the SMALLEST suppkey — the [[langHhiOf]]-family
    * lexicographic-min-over-(-qty, key) contract), rolled up per
    * brand as the share of parts whose top supplier carries ≥ 90% —
    * the cut CROSS-MULTIPLIED on raw quantities (top·10 ≥ total·9,
    * never a rounded ppm — the [[priceDispersionOf]] boundary
    * lesson) — plus the worst part's exact-ppm concentration.
    *
    * Shape: one (part, supplier) map-combinable quantity aggregate,
    * one part fold, one AQE-sized dim equijoin (part scales with
    * the corpus — no forced broadcast), one ≤|brands|-row rollup. */
  def singleSourcingOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val perPart = lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum("q").as("qs"))
      .groupBy("l_partkey")
      .agg(sum("qs").as("qt"), count(lit(1)).as("n_suppliers"),
        min(struct((-col("qs")).as("nq"), col("l_suppkey"))).as("m"))
      .select(col("l_partkey"), col("qt"), col("n_suppliers"),
        (-col("m.nq")).as("top_q"))
    perPart
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        sum(when(expr("top_q * 10 >= qt * 9"), 1L).otherwise(0L))
          .as("n_single_sourced"),
        max(expr("CAST((top_q * 1000000) div qt AS BIGINT)"))
          .as("max_top_share_ppm"))
      .select(col("p_brand"), col("n_parts"), col("n_single_sourced"),
        expr("CAST((n_single_sourced * 1000000) div n_parts AS BIGINT)")
          .as("single_share_ppm"),
        col("max_top_share_ppm"))
      .orderBy("p_brand")
  }

  /** Top supplier per quarter — the TPC-H Q15 shape ("which supplier
    * generated the most revenue last quarter", the vendor-award /
    * contract-renewal read), generalized to every quarter in the
    * fact: per-(quarter, supplier) net revenue on the exact
    * 10⁻²-cent integer grid (cents × (100−d%) — the
    * [[promotionEffectOf]] contract), the max-revenue supplier(s)
    * selected by a window MAX over the bounded (quarter × supplier)
    * frame — no correlated subquery, ties keep BOTH suppliers (the
    * Q15 view semantics), share published as exact ppm of the
    * quarter's total.
    *
    * Shape: ONE map-combinable fact aggregate to the quarter ×
    * |suppliers| frame (~28 × 100 rows at any SF — suppliers are a
    * dim, quarters are calendar-bounded); both windows and the name
    * join ride that bounded frame, the supplier dim broadcasts. */
  def topSupplierShareOf(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val qw = Window.partitionBy("quarter")
    val perSupp = lineitem
      .select(
        concat(year(col("l_shipdate")).cast("string"), lit("-Q"),
          quarter(col("l_shipdate")).cast("string")).as("quarter"),
        col("l_suppkey"),
        netC100.as("net_q"))
      .groupBy("quarter", "l_suppkey")
      .agg(sum(col("net_q").cast(Dec)).as("rev"))
    perSupp
      .withColumn("max_rev", max("rev").over(qw))
      .withColumn("total_rev", sum("rev").over(qw))
      .filter(col("rev") === col("max_rev"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("quarter"), col("l_suppkey").as("s_suppkey"), col("s_name"),
        col("rev").cast("long").as("revenue_c100"),
        expr("CAST((rev * 1000000) div total_rev AS BIGINT)")
          .as("quarter_share_ppm"))
      .orderBy("quarter", "s_suppkey")
  }

  /** Large-volume orders — the TPC-H Q18 shape ("which customers
    * placed orders above a quantity threshold", the bulk-buyer /
    * capacity-planning read): orders whose TOTAL line quantity
    * exceeds 150 units (this schema's orders carry ~4 lines × ≤50
    * units, so 150 is the top-quantile bulk cut Q18's 300 maps to),
    * joined back to the order header and customer dim, top-100 by
    * (quantity DESC, orderkey) via TakeOrderedAndProject — never a
    * global sort.
    *
    * Shape: ONE map-combinable orderkey fact aggregate with the
    * HAVING cut applied BEFORE any join (the selective aggregate
    * drives both joins — at 100× the cut passes the same few-permille
    * of orders), one AQE orderkey equijoin to the header, customer
    * dim broadcast, bounded top-k. */
  def largeOrdersOf(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, minQty: Long = 150L): DataFrame = {
    val big = lineitem
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    big
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_orderdate"),
        cents(col("o_totalprice"))
          .as("totalprice_cents")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("totalprice_cents"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Discount what-if — the TPC-H Q6 shape ("how much revenue would
    * we gain by eliminating mid-band discounts on small-quantity
    * lines"), per ship year: forgone revenue Σ extendedprice·discount
    * over lines with discount in the 5–7% band and quantity < 24,
    * EXACT in 10⁻²-cent units (cents × d% — the discount integer
    * grid), beside the band's line count and its gross revenue so
    * the what-if has a denominator.
    *
    * Shape: the canonical scan-bound filter-aggregate — both
    * predicates PUSH INTO the parquet scan (discount and quantity
    * are scan columns; at 100 TB the band cut skips row groups via
    * min/max envelopes), then ONE map-combinable year aggregate;
    * no join, no window, nothing post-shuffle beyond ≤|years| rows. */
  def discountWhatifOf(lineitem: DataFrame): DataFrame = {
    lineitem
      .filter(col("l_discount") >= 0.045 && col("l_discount") <= 0.075 &&
        col("l_quantity") < 24)
      .select(year(col("l_shipdate")).cast("long").as("ship_year"),
        cents(col("l_extendedprice")).as("ep_c"),
        cents(col("l_discount")).as("d_pct"))
      .groupBy("ship_year")
      .agg(count(lit(1)).as("n_lines"),
        sum((col("ep_c") * col("d_pct")).cast(Dec)).as("forgone"),
        sum(col("ep_c").cast(Dec)).as("gross"))
      .select(col("ship_year"), col("n_lines"),
        col("forgone").cast("long").as("forgone_rev_c100"),
        col("gross").cast("long").as("gross_rev_cents"),
        // forgone rides the 10⁻²-cent grid, gross the cent grid:
        // bp = (forgone/100)/gross · 10⁴ = forgone·100 div gross
        expr("CAST((forgone * 100) div gross AS BIGINT)")
          .as("forgone_share_bp"))
      .orderBy("ship_year")
  }

  /** Min-cost supplier per part — the TPC-H Q2 shape ("which supplier
    * should fulfil this part in this region", the sourcing decision),
    * adapted to this schema's lack of a partsupp table the same way
    * [[singleSourcingOf]] treats lineitem as the observed
    * part×supplier relation: realized unit cost per (part, supplier)
    * = Σcents div Σunits (integer cents, deterministic), scope =
    * STANDARD-type parts supplied from EUROPE-region nations, keep
    * the supplier(s) achieving the part's minimum unit cost (window
    * MIN keeps ties — the Q2 view semantics), present Q2's output
    * (acctbal, supplier, nation, part) as the top-100 by acctbal
    * DESC with a total (s_suppkey, p_partkey) tie-break so LIMIT is
    * deterministic.
    *
    * Shape: ONE map-combinable (part, supplier) fact aggregate; the
    * region→nation→supplier chain broadcasts (dims), the part join is
    * AQE-sized (parts scale with the corpus); the min-cost window
    * rides the bounded (part × |suppliers|) frame; top-100 is
    * TakeOrderedAndProject, never a global sort. */
  def minCostSupplierOf(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    val euroSupp = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val stdParts = part.filter(col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_size"))
    val unitCost = lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        cents(col("l_extendedprice")).as("cents"),
        col("l_quantity").cast("long").as("units"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum("cents").as("c"), sum("units").as("u"))
      .select(col("l_partkey"), col("l_suppkey"),
        expr("c div u").as("unit_cost_cents"))
    unitCost
      .join(broadcast(euroSupp), col("l_suppkey") === col("s_suppkey"))
      .join(stdParts, col("l_partkey") === col("p_partkey"))
      .withColumn("min_cost",
        min("unit_cost_cents").over(Window.partitionBy("p_partkey")))
      .filter(col("unit_cost_cents") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_size").cast("long").as("p_size"),
        col("unit_cost_cents"))
      .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** Realized-vs-list margin by supplier nation × ship year — the
    * TPC-H Q9 shape ("product-type profit", the sourcing-P&L read),
    * adapted to this schema's lack of ps_supplycost with the honest
    * cost basis it does carry: the part's LIST price. margin =
    * Σ(net revenue − qty·list), both on the exact 10⁻²-cent grid
    * (net = cents × (100−d%), list = cents × 100 × qty), negative
    * when a nation's suppliers systematically sell under list —
    * that sign is the read. Margin share published as basis points
    * of net revenue (truncating div, sign-preserving both engines).
    *
    * Shape: the fact joins part (AQE-sized — parts scale) for the
    * list cents and the broadcast supplier→nation chain for the
    * grouping key, then ONE map-combinable aggregate to the
    * ≤|nations|×|years| frame. No window, no subquery — Q9's
    * correlated profit expression folds into the aggregate. */
  def nationProfitOf(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame, nation: DataFrame): DataFrame = {
    val suppNation = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        col("l_quantity").cast("long").as("units"),
        netC100.as("net_c100"))
      .join(part.select(col("p_partkey"),
          cents(col("p_retailprice")).as("list_c")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name", "ship_year")
      .agg(sum(col("net_c100").cast(Dec)).as("rev"),
        sum((col("units") * col("list_c") * 100L).cast(Dec)).as("list"))
      .select(col("n_name"), col("ship_year"),
        col("rev").cast("long").as("revenue_c100"),
        col("list").cast("long").as("list_c100"),
        (col("rev") - col("list")).cast("long").as("margin_c100"),
        expr("CAST(((rev - list) * 10000) div rev AS BIGINT)")
          .as("margin_bp"))
      .orderBy("n_name", "ship_year")
  }

  /** Important parts for one nation's suppliers — the TPC-H Q11
    * shape ("which parts represent a significant share of the value
    * this nation supplies", the strategic-stock read), adapted to
    * shipped value (this schema's observable partsupp proxy, the
    * [[minCostSupplierOf]] convention): per-part net revenue from
    * NATION_7's suppliers on the exact 10⁻²-cent grid, keep parts
    * whose value exceeds 0.05% of the nation's total (value·2000 >
    * total — Q11's magic fraction rescaled to this corpus's
    * part-to-line density; the threshold is the documented knob).
    *
    * Shape: the nation filter broadcasts into the fact scan (4 of
    * 100 suppliers — most of the fact never leaves the scan), ONE
    * map-combinable part aggregate; the nation total is a 1-row
    * broadcast (parts scale with the corpus, so no single-partition
    * window over that frame). Ordered by (value DESC, partkey) —
    * deterministic without a LIMIT. */
  def importantPartsOf(lineitem: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val suppKeys = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_7")
      .select(col("s_suppkey"))
    val perPart = lineitem
      .join(broadcast(suppKeys), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .select(col("l_partkey"),
        netC100.as("net_c100"))
      .groupBy("l_partkey")
      .agg(sum(col("net_c100").cast(Dec)).as("value"))
    val total = perPart.agg(sum("value").as("total"))
    perPart
      .crossJoin(broadcast(total))
      .filter(col("value") * 2000 > col("total"))
      .select(col("l_partkey").as("p_partkey"),
        col("value").cast("long").as("value_c100"),
        expr("CAST((value * 1000000) div total AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("value_c100").desc, col("p_partkey"))
  }

  /** Priority mix by shipping-speed class — the TPC-H Q12 shape
    * ("are critical-priority orders riding the slow ship modes", the
    * logistics-SLA read), adapted to this schema's lack of
    * l_shipmode with the speed class the data does define: FAST =
    * shipped within 30 days of the order date, SLOW = later (the
    * row-379 shipdate-vs-orderdate convention). Per ship year ×
    * class: lines on 1-URGENT/2-HIGH orders vs all lower priorities
    * — Q12's exact output pair.
    *
    * Shape: ONE AQE-sized orderkey equijoin (fact⋈fact — never
    * broadcast at scale) feeding ONE map-combinable aggregate to the
    * ≤|years|×2 frame; the priority CASE folds into the aggregate,
    * no second pass. */
  def priorityShipMixOf(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    lineitem
      .select(col("l_orderkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("ship_year"),
        when(datediff(col("l_shipdate"), col("o_orderdate")) <= 30,
          lit("FAST")).otherwise(lit("SLOW")).as("speed_class"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("is_high"))
      .groupBy("ship_year", "speed_class")
      .agg(sum(col("is_high")).as("high_line_count"),
        sum(lit(1L) - col("is_high")).as("low_line_count"))
      .orderBy("ship_year", "speed_class")
  }

  /** Supplier variety per part group — the TPC-H Q16 shape ("how
    * many distinct suppliers can fulfil each (brand, type, size)
    * bucket", the supplier-relationship breadth read): distinct
    * supplier count per group over the observed lineitem relation,
    * excluding one brand under review (Brand#13 — Q16's excluded-
    * brand clause) and excluding suppliers in the deficit book
    * (s_acctbal < 0 — the deterministic stand-in for Q16's
    * complaint-suppliers NOT IN, shipped as a real anti-join), sizes
    * restricted to Q16's 8-value IN list rescaled to this corpus's
    * 1..50 grid.
    *
    * Shape: the supplier exclusion is a broadcast LEFT ANTI on the
    * fact scan; the part join is AQE-sized; distinct-suppliers
    * resolves as a (brand, type, size, suppkey) map-combinable
    * DISTINCT aggregate then a count — never count(DISTINCT) over a
    * wide shuffle. Ordered by (count DESC, brand, type, size). */
  def partSupplierVarietyOf(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame): DataFrame = {
    val badSupp = supplier.filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_suppkey"))
    val parts = part
      .filter(col("p_brand") =!= "Brand#13" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size"))
    lineitem.select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(badSupp), col("l_suppkey") === col("bad_suppkey"),
        "left_anti")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_type"),
        col("p_size").cast("long").as("p_size"), col("l_suppkey"))
      .distinct()
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count(lit(1)).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** Excess-volume shippers — the TPC-H Q20 shape ("which of this
    * region's suppliers hold surplus of the promotion-candidate
    * parts", the stock-rebalancing read), adapted to shipped volume
    * (the partsupp-availqty proxy, [[minCostSupplierOf]]
    * convention): ASIA-region suppliers who shipped MORE THAN HALF
    * of some small-prefix part's total 1997 volume — the
    * dominant-shipper evidence that the stock sits with them.
    * Distinct suppliers, Q20's (name, acctbal) output, ordered by
    * name.
    *
    * Shape: the year + name-prefix cuts push into the scans (part
    * prefix prunes the AQE part join's build side); ONE
    * map-combinable (part, supplier) aggregate; the half-share test
    * rides a window over the bounded (part × |suppliers|) frame;
    * the region chain broadcasts and the final supplier set
    * resolves by semi-join — Q20's nested EXISTS chain with zero
    * correlated subqueries. */
  def excessShippersOf(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    val smallParts = part.filter(col("p_name").startsWith("small"))
      .select(col("p_partkey"))
    val perSupp = lineitem
      .filter(year(col("l_shipdate")) === 1997)
      .join(smallParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("units"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum("units").as("q"))
      .withColumn("total_q",
        sum("q").over(Window.partitionBy("l_partkey")))
      .filter(col("q") * 2 > col("total_q"))
      .select(col("l_suppkey")).distinct()
    supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .join(perSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy("s_name")
  }

  /** Reorder-point / safety-stock plan per part brand (the textbook
    * continuous-review (μ·L + z·σ·√L) service-level calc — the
    * inventory read DOWNSTREAM of [[EventAnalytics.demandClassesOf]]'s
    * forecastability classes: classes say WHICH forecasting model,
    * this says HOW MUCH buffer a 95% cycle-service target needs):
    * daily shipped demand per brand on the exact centi-quantity grid,
    * zero-filled over the global ship-date span (a day with no
    * shipments is demand 0, not a missing sample — σ must see the
    * quiet days or safety stock undershoots), exact decimal moments
    * → one fixed double chain with z = 1.645 and `leadDays` = 7.
    *
    * Scale: the fact aggregate map-combines into (brand, day) — ≤
    * brands × span rows; part→brand is a broadcast dim projection;
    * the grid/moment folds ride the bounded frame. The brand grain
    * (25 values) keeps the report human-readable; a per-part plan is
    * the same shape with partkey in the keys. */
  def reorderPointOf(lineitem: DataFrame, part: DataFrame,
                     leadDays: Int = 7): DataFrame = {
    require(leadDays >= 1 && leadDays <= 60,
      s"leadDays in [1,60], got $leadDays")
    val daily = lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), to_date(col("l_shipdate")).as("day"),
        cents(col("l_quantity")).as("qc"))
      .groupBy("p_brand", "day").agg(sum("qc").as("d"))
    // NO checkpoint despite three consumers: the frame ends at an
    // exchange — ReuseExchange dedupes the fact aggregate at runtime;
    // paired ×100 runs read a checkpoint NEUTRAL here (§6 r17)
    Behavior.calendarFilled(daily, "p_brand", "d")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_days"),
        sum(col("d").cast(Dec)).as("s"),
        sum(expr(s"CAST(d AS $Dec) * d")).as("ss"))
      .filter(col("n_days") > 1)
      .withColumn("mean_c", expr("CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)"))
      .withColumn("sd_c", expr(
        """sqrt((CAST(ss AS DOUBLE)
          |  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
          |  / CAST(n_days - 1 AS DOUBLE))""".stripMargin))
      .select(col("p_brand"), col("n_days"),
        TextF.round6HalfUp(col("mean_c") / lit(100.0)).as("mean_daily"),
        TextF.round6HalfUp(col("sd_c") / lit(100.0)).as("sd_daily"),
        TextF.round6HalfUp(lit(1.645) * col("sd_c")
          * sqrt(lit(leadDays.toDouble)) / lit(100.0)).as("safety_stock"),
        TextF.round6HalfUp((col("mean_c") * lit(leadDays.toDouble)
          + lit(1.645) * col("sd_c") * sqrt(lit(leadDays.toDouble)))
          / lit(100.0)).as("reorder_point"))
      .orderBy("p_brand")
  }
}
