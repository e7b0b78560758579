package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Warehouse

class WarehouseSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("fk coverage: orphans counted per type, coverage floor-rounded") {
    val facts = Seq(
      (1L, "click"), (2L, "click"), (99L, "click"), // 99 unmatched
      (1L, "view"))
      .toDF("user_id", "event_type")
    val dim = Seq(1L, 2L, 3L).toDF("key")
    val out = Warehouse.fkCoverageOf(facts, dim).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("click") == ((3L, 2L, 1L, 0.6667)))
    assert(out("view") == ((1L, 1L, 0L, 1.0)))
  }

  test("fk coverage: duplicate dimension keys do not inflate match counts") {
    val facts = Seq((1L, "click")).toDF("user_id", "event_type")
    val dim = Seq(1L, 1L, 1L).toDF("key") // dirty dim with dup keys
    val out = Warehouse.fkCoverageOf(facts, dim).collect().head
    assert(out.getLong(1) == 1L && out.getLong(2) == 1L)
  }

  test("driver data upholds the latest_per_key oracle's µs-grain assumption") {
    // The Spark operator orders versions on exact ts_ns; the DuckDB
    // oracle can only see microseconds and falls back to event_id.
    // They agree iff, within every (user, microsecond), event ids are
    // ordered like the nanoseconds. Audit that invariant on the real
    // test tables so a regenerated dataset that breaks it fails HERE
    // instead of silently desyncing the correctness gate.
    import org.apache.spark.sql.expressions.Window
    val dirs = Seq(Sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(s"$d/events.parquet").exists())
    assert(dirs.nonEmpty, "no events fixture present at all")
    for (dir <- dirs) {
      val ev = graft.sources.Tables.events(spark, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"))
        .withColumn("us", expr("ts_ns div 1000"))
      val w = Window.partitionBy("user_id", "us").orderBy(col("event_id"))
      val inversions = ev
        .withColumn("prev_ns", lag("ts_ns", 1).over(w))
        .filter(col("prev_ns").isNotNull && col("prev_ns") > col("ts_ns"))
        .count()
      assert(inversions == 0L,
        s"$dir has same-µs events with ids not in ns order — the " +
          "latest_per_key oracle (µs grain) would diverge from the ns-exact operator")
    }
  }

  test("latest per key: full-ns time order first, event_id only on exact ties") {
    val ev = Seq(
      (10L, 1L, "view", 1.0, 1000000000L),
      (11L, 1L, "click", 2.0, 1000000000L),    // identical ns → higher id wins
      (13L, 2L, "purchase", 4.0, 2000000200L), // higher id but 300 ns EARLIER
      (12L, 2L, "view", 3.0, 2000000500L))     // sub-µs newer must win
      .toDF("event_id", "user_id", "event_type", "value", "ts_ns")
    val out = Warehouse.latestPerKeyOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 11L, "click"), (2L, 12L, "view")),
      "a same-microsecond pair must order on exact nanoseconds, not on id")
  }

  private def nsOf(iso: String): Long =
    java.time.Instant.parse(iso).getEpochSecond * 1000000000L

  private def changelog(rows: Seq[(Long, Long, String, Double, Long)]) =
    rows.toDF("event_id", "user_id", "event_type", "value", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))

  test("snapshot diff classifies insert/update and drops unchanged keys") {
    val before = nsOf("2024-01-10T00:00:00Z")
    val after = nsOf("2024-01-20T00:00:00Z")
    val ev = changelog(Seq(
      (1L, 1L, "view", 1.0, before), (2L, 1L, "click", 2.0, after), // update (type)
      (3L, 2L, "signup", 5.0, after),                               // insert
      (4L, 3L, "view", 1.0, before),                                // unchanged (inactive)
      (5L, 4L, "view", 1.0, before), (6L, 4L, "view", 1.0, after),  // unchanged (same state)
      (7L, 5L, "view", 1.0, before), (8L, 5L, "view", 9.0, after))) // update (value only)
    val out = Warehouse.snapshotDiffOf(ev, "2024-01-15").collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        Option(r.getString(2)), Option(r.getString(4)))).toMap
    assert(out.keySet == Set(1L, 2L, 5L), "unchanged keys must emit nothing")
    assert(out(1L) == (("update", Some("view"), Some("click"))))
    assert(out(2L) == (("insert", None, Some("signup"))),
      "an inserted key has no old state")
    assert(out(5L)._1 == "update", "a value-only change is still an update")
  }

  test("snapshot diff takes the LATEST pre-cutoff version as old state") {
    val ev = changelog(Seq(
      (1L, 1L, "view", 1.0, nsOf("2024-01-05T00:00:00Z")),
      (2L, 1L, "click", 2.0, nsOf("2024-01-12T00:00:00Z")), // latest before cutoff
      (3L, 1L, "purchase", 3.0, nsOf("2024-01-20T00:00:00Z"))))
    val out = Warehouse.snapshotDiffOf(ev, "2024-01-15").collect().head
    assert(out.getString(2) == "click" && out.getString(4) == "purchase")
  }

  test("scd2 history collapses runs and hands valid_to to the next version") {
    val ev = changelog(Seq(
      (1L, 1L, "A", 0.0, 1000000000L), (2L, 1L, "A", 0.0, 2000000000L),
      (3L, 1L, "B", 0.0, 3000000000L), (4L, 1L, "B", 0.0, 4000000000L),
      (5L, 1L, "A", 0.0, 5000000000L)))
    val out = Warehouse.scd2HistoryOf(ev).collect()
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(out.toSeq == Seq(
      (1, "A", 1000000L, Some(3000000L)),
      (2, "B", 3000000L, Some(5000000L)),
      (3, "A", 5000000L, None)),
      "each run is one version; valid_to is the next run's valid_from; current is open")
  }

  test("kanon risk reports only groups under k, with exact sizes") {
    val customers = Seq(
      // 6 members in (SEG_A, 1, bucket 2) → safe at k=5
      (1L, "SEG_A", 1, 2500.0), (2L, "SEG_A", 1, 2600.0), (3L, "SEG_A", 1, 2700.0),
      (4L, "SEG_A", 1, 2800.0), (5L, "SEG_A", 1, 2900.0), (6L, "SEG_A", 1, 2100.0),
      // 2 members in (SEG_B, 2, bucket 0) → risky
      (7L, "SEG_B", 2, 500.0), (8L, "SEG_B", 2, 900.0),
      // negative balance: floor(-0.5) = -1 bucket, singleton → risky
      (9L, "SEG_B", 3, -500.0))
      .toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
    val out = Warehouse.kanonRiskOf(customers).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(out == Map(("SEG_B", 2, 0L) -> 2L, ("SEG_B", 3, -1L) -> 1L))
  }

  test("dp counts: noise is bounded, key-deterministic, and additive") {
    val events = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) "click" else "view"))
      .toDF("event_id", "event_type")
    val out = Warehouse.dpCountsOf(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("click")._1 == 100L && out("view")._1 == 200L)
    out.values.foreach { case (n, noise, noisy) =>
      assert(noise >= -4L && noise <= 4L)
      assert(noisy == n + noise)
    }
    // same key → same draw on a disjoint dataset (pure function of key)
    val out2 = Warehouse.dpCountsOf(
      Seq((9L, "click")).toDF("event_id", "event_type")).collect()
    assert(out2.head.getLong(2) == out("click")._2,
      "noise must depend only on the group key")
  }

  test("scd2 history breaks same-nanosecond ties on event_id") {
    val ev = changelog(Seq(
      (2L, 1L, "B", 0.0, 1000000000L), // same ns: id 1 (A) precedes id 2 (B)
      (1L, 1L, "A", 0.0, 1000000000L)))
    val out = Warehouse.scd2HistoryOf(ev).collect().map(r => r.getString(2))
    assert(out.toSeq == Seq("A", "B"))
  }

  test("incremental rollup: snapshot ⊕ delta equals the full recompute") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Int, h: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // ids 1..20 over two days; ids 10 and 20 are the "late" slice
    val ev = (1 to 20).map(i =>
      (i.toLong, t(if (i <= 12) 1 else 2, i % 24), i.toDouble))
      .toDF("event_id", "ts", "value")
    val out = Warehouse.incrementalRollupOf(ev).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // day 1: ids 1..12 → Σ = 78; late: id 10
    assert(out("2024-01-01") == ((12L, 78.0, 1L)), s"got $out")
    // day 2: ids 13..20 → Σ = 132; late: id 20
    assert(out("2024-01-02") == ((8L, 132.0, 1L)))
  }

  test("zone-map audit: date clustering prunes, arrival scatter does not") {
    import spark.implicits._
    import java.sql.Date
    // 64 rows; ship-day offset (i·37 mod 64) cycles every residue —
    // the worst case for arrival zones, perfectly tight for date zones
    val li = (0 until 64).map { i =>
      (i.toLong, Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays((i * 37) % 64)))
    }.toDF("l_orderkey", "l_shipdate")
    val out = Warehouse.zonemapAuditOf(li).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    // span 63, window [16,45]; date zones: off div 2 → zones 8..22
    // overlap (15 of 32), each exactly 2 days wide
    assert(out("date") == ((32L, 15L, 0.5313, 2.0)), s"got $out")
    // arrival zones hold rows {2k, 2k+1} → offsets 37 apart: every
    // envelope is ≥ 27 days wide and intersects the mid window
    val (az, ao, ap, aw) = out("arrival")
    assert(az == 32L && ao == 32L && ap == 0.0, "nothing prunes")
    assert(aw > 20.0, s"scattered envelopes are wide: $aw")
  }

  test("schema drift: a nulled-out field and a collapsed enum surface in the b-side profile") {
    // period a: days 0-1 (split at min_day + 2); period b: days 2-3.
    // In b the item key goes half-null and event_type collapses to one
    // value — the two classic silent regressions.
    def ev(id: Long, day: Int, et: String, item: String, v: Double) =
      (id, f"2024-01-${day + 1}%02d 09:00:00", 7L, et, v, item)
    val rows = Seq(
      ev(1, 0, "view", """{"k": 1}""", 1.0),
      ev(2, 0, "click", """{"k": 2}""", 2.0),
      ev(3, 1, "view", """{"k": 3}""", 3.0),
      ev(4, 1, "click", """{"k": 4}""", 4.0),
      ev(5, 2, "view", """{"k": 5}""", 10.0),
      ev(6, 2, "view", """{}""", 10.0),
      ev(7, 3, "view", """{"k": 5}""", 10.0),
      ev(8, 3, "view", """{}""", 10.0))
      .toDF("event_id", "s", "user_id", "event_type", "value", "props")
      .select(col("event_id"), to_timestamp(col("s")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val out = Warehouse.schemaDriftOf(rows, splitDays = 2).collect()
      .map(r => r.getString(0) -> r).toMap
    val it = out("item")
    assert(it.getLong(1) == 4L && it.getLong(2) == 4L, "4 rows per side")
    assert(it.getDouble(3) == 0.0 && it.getDouble(4) == 0.5,
      s"item null rate must jump 0 → 0.5: $it")
    assert(it.getLong(5) == 4L && it.getLong(6) == 1L, "distinct 4 → 1")
    assert(it.getDouble(7) == 0.25, "distinct_ratio 1/4")
    val et = out("event_type")
    assert(et.getLong(5) == 2L && et.getLong(6) == 1L, "enum collapsed")
    assert(et.isNullAt(8) && et.isNullAt(9), "no mean for a string column")
    val v = out("value")
    assert(v.getDouble(8) == 2.5 && v.getDouble(9) == 10.0,
      s"value mean shift 2.5 → 10: $v")
  }

  test("benford audit: all-integer ppm shares and deviation vs the pinned table") {
    val orders = Seq(100.0, 150.0, 199.99, 123.45, 180.0, // digit 1 x5
      250.0, 299.0, 210.0,                                // digit 2 x3
      900.0, 950.0)                                       // digit 9 x2
      .toDF("o_totalprice")
    val out = Warehouse.benfordAuditOf(orders).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set(1, 2, 9), "absent digits do not emit")
    assert(out(1) == ((5L, 500000L, 301030L, 198970L)))
    assert(out(2) == ((3L, 300000L, 176091L, 123909L)))
    assert(out(9) == ((2L, 200000L, 45757L, 154243L)))
  }

  test("benford audit: leading digit reads the micro grid, not the double rendering") {
    // 0.95 -> 950000 micros -> digit 9 (a naive string-of-double
    // would read '0'); 1013.7 -> digit 1.
    val out = Warehouse.benfordAuditOf(Seq(0.95, 1013.7).toDF("o_totalprice"))
      .collect().map(r => r.getInt(0)).toSet
    assert(out == Set(1, 9))
  }

  test("join size estimate: exact pair mass vs the uniform-keys guess") {
    val li = Seq(1L, 1L, 1L, 2L).toDF("l_partkey")
    val r = Warehouse.joinSizeEstimateOf(li).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L, "n_rows, n_keys")
    assert(r.getLong(2) == 10L, "3^2 + 1^2")
    assert(r.getLong(3) == 8L, "16 div 2")
    assert(r.getLong(4) == 12500L, "exact is 1.25x the estimate")
    assert(r.getLong(5) == 3L)
  }

  test("join size estimate: uniform keys score exactly 10000 bp") {
    val li = Seq(1L, 1L, 2L, 2L).toDF("l_partkey")
    val r = Warehouse.joinSizeEstimateOf(li).collect().head
    assert(r.getLong(2) == 8L && r.getLong(3) == 8L && r.getLong(4) == 10000L)
  }

  test("contract audit: each planted violation lands on exactly its rule") {
    import java.sql.Timestamp
    val good = (1L, "click", Timestamp.valueOf("2026-01-01 10:00:00"), 5.0, "{}")
    val events = Seq(
      good,
      (2L, "bogus", Timestamp.valueOf("2026-01-01 10:00:00"), 5.0, "{}"),
      (3L, "click", Timestamp.valueOf("2020-01-01 10:00:00"), 5.0, "{}"),
      (-4L, "click", Timestamp.valueOf("2026-01-01 10:00:00"), 5.0, "{}"),
      (5L, "click", Timestamp.valueOf("2026-01-01 10:00:00"), -1.0, "{}"),
      (6L, "click", Timestamp.valueOf("2026-01-01 10:00:00"), 5.0, ""))
      .toDF("user_id", "event_type", "ts", "value", "props")
    val out = Warehouse.contractAuditOf(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet.size == 5, "every rule reports, violated or not")
    assert(out("event_type_enum") == ((6L, 1L, 166666L)), s"got $out")
    assert(out("ts_in_window")._2 == 1L)
    assert(out("user_id_positive")._2 == 1L)
    assert(out("value_non_negative")._2 == 1L)
    assert(out("props_present")._2 == 1L)
  }

  test("compaction plan: time-ordered bins, straddler overshoot, byte conservation") {
    import java.sql.Timestamp
    def rows(hr: Int, n: Int) = (1 to n).map(_ =>
      ("e", Timestamp.valueOf(f"2024-01-01 $hr%02d:30:00")))
    // hourly files (×64B): h0=2560 h1=2560 h2=640 h3=3840 h4=64
    // cum-before: 0, 2560, 5120, 5760, 9600 → bins 0,0,1,1,2
    val ev = (rows(0, 40) ++ rows(1, 40) ++ rows(2, 10) ++ rows(3, 60)
      ++ rows(4, 1)).toDF("event_type", "ts")
    val out = Warehouse.compactionPlanOf(ev).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq(
      (0L, 2L, 5120L, 0L, 1L),  // straddler joins the bin it started in
      (1L, 2L, 4480L, 2L, 3L),
      (2L, 1L, 64L, 4L, 4L)), s"got ${out.toSeq}")
    assert(out.map(_._3).sum == 151L * 64, "bytes conserved")
    // hour spans are contiguous and non-overlapping in time order
    assert(out.sliding(2).forall(p => p.length < 2 || p(0)._5 < p(1)._4))
  }

  test("blocking suppliers: only the sole late supplier of a finished multi-supplier order counts") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, "F", t("2024-01-01")), (2L, "F", t("2024-01-01")),
      (3L, "F", t("2024-01-01")), (4L, "O", t("2024-01-01")))
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
    def li(ok: Long, sk: Long, ship: String) = (ok, sk, t(ship))
    val late = "2024-06-01"; val ontime = "2024-02-01"
    val lineitem = Seq(
      li(1L, 10L, late), li(1L, 20L, ontime),   // 10 blocks order 1
      li(2L, 10L, late), li(2L, 20L, late),      // two late: nobody blocks
      li(3L, 10L, late),                         // single-supplier: excluded
      li(4L, 10L, late), li(4L, 20L, ontime))    // status O: excluded
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val out = Warehouse.blockingSuppliersOf(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((10L, 1L)), s"got ${out.toSeq}")
  }

  test("fifo match: returns consume oldest lots, conserve quantity, keys isolate") {
    import java.sql.Timestamp
    def li(pk: Long, ok: Long, ln: Int, qty: Double, day: Int, rf: String) =
      (pk, ok, ln, qty, Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"), rf)
    // part 1 supply axis: A[0,10) B[10,15) C[15,23); returns B[0,5) C[5,13)
    // part 2: one self-matching returned lot
    val rows = Seq(
      li(1L, 100L, 1, 10, 1, "N"),
      li(1L, 200L, 1, 5, 2, "R"),
      li(1L, 300L, 1, 8, 3, "R"),
      li(2L, 400L, 1, 4, 5, "R"))
      .toDF("l_partkey", "l_orderkey", "l_linenumber", "l_quantity",
        "l_shipdate", "l_returnflag")
    val out = Warehouse.fifoMatchOf(rows).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(5), r.getLong(6)))
      .sortBy(t => (t._1, t._2, t._3)) // unsorted transform by design
    assert(out.toSeq == Seq(
      (1L, 200L, 100L, 5L, 1L),   // B's 5 units ← oldest lot A
      (1L, 300L, 100L, 5L, 2L),   // C spills: 5 from A…
      (1L, 300L, 200L, 3L, 1L),   // …then 3 from B (FIFO chain)
      (2L, 400L, 400L, 4L, 0L)),  // other part: self-match, lag 0
      s"got ${out.toSeq}")
    // conservation: every returned unit is matched exactly once
    assert(out.filter(_._1 == 1L).map(_._4).sum == 13L)
  }

  test("mergeUpsert: insert/update/keep per key, change wins, base survives untouched keys") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // user 1: base only (keep); user 2: base + change (update, change
    // wins); user 3: change only (insert); user 2's base has TWO
    // versions (latest-before-split must win the base side).
    val ev = Seq(
      (1L, 1L, "view", 1.0, t("2024-01-10 10:00:00")),
      (2L, 2L, "view", 2.0, t("2024-01-10 11:00:00")),
      (3L, 2L, "click", 3.0, t("2024-01-12 11:00:00")),
      (4L, 2L, "purchase", 9.0, t("2024-01-20 11:00:00")),
      (5L, 3L, "view", 4.0, t("2024-01-21 12:00:00")))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    val out = Warehouse.mergeUpsertOf(ev, "2024-01-15").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(4), r.getDouble(5)))
      .toMap
    assert(out(1L) == (("keep", "view", 1.0)))
    assert(out(2L) == (("update", "purchase", 9.0)),
      "the change side's latest row wins an update")
    assert(out(3L) == (("insert", "view", 4.0)))
  }

  test("deletionAudit: only touched partitions report, ppm prices the rewrite") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // Jan 1: 3 rows, one belongs to doomed user 97 -> 333333 ppm
      (1L, 97L, t("2024-01-01 10:00:00")), (2L, 5L, t("2024-01-01 11:00:00")),
      (3L, 6L, t("2024-01-01 12:00:00")),
      // Jan 2: untouched partition -> omitted entirely
      (4L, 7L, t("2024-01-02 10:00:00")),
      // Jan 3: both rows doomed (users 97 and 194) -> full rewrite
      (5L, 97L, t("2024-01-03 10:00:00")), (6L, 194L, t("2024-01-03 11:00:00")))
      .toDF("event_id", "user_id", "ts")
    val out = Warehouse.deletionAuditOf(ev).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set("2024-01-01", "2024-01-03"),
      s"untouched partitions are skipped: $out")
    assert(out("2024-01-01") == ((3L, 1L, 1L, 333333L)))
    assert(out("2024-01-03") == ((2L, 2L, 2L, 1000000L)))
  }

  test("returnRateByBrand: only R-flag items count, revenue on the micro grid") {
    val li = Seq(
      (1L, "R", 100.0, 0.1), (1L, "N", 50.0, 0.0), (1L, "A", 10.0, 0.0),
      (2L, "R", 200.0, 0.5))
      .toDF("l_partkey", "l_returnflag", "l_extendedprice", "l_discount")
    val part = Seq((1L, "B#1"), (2L, "B#2"), (3L, "B#3"))
      .toDF("p_partkey", "p_brand")
    val out = Warehouse.returnRateByBrandOf(li, part).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("B#1") == ((3L, 1L, 3333L, 90.0)), s"got $out")
    assert(out("B#2") == ((1L, 1L, 10000L, 100.0)))
    assert(!out.contains("B#3"), "brands with no lineitems emit nothing")
  }

  test("supplierHhi: a single-vendor nation reads 1e6 ppm, an even split 1/n") {
    val li = Seq(
      // nation A: one supplier -> HHI 1e6, top share 1.0
      (10L, 100.0, 0.0),
      // nation B: two suppliers with EQUAL revenue -> HHI 500000
      (20L, 50.0, 0.0), (21L, 50.0, 0.0))
      .toDF("l_suppkey", "l_extendedprice", "l_discount")
    val supp = Seq((10L, 0), (20L, 1), (21L, 1))
      .toDF("s_suppkey", "s_nationkey")
    val nation = Seq((0, "ALPHA"), (1, "BETA")).toDF("n_nationkey", "n_name")
    val out = Warehouse.supplierHhiOf(li, supp, nation).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out("ALPHA") == ((1L, 1000000L, 1.0)), s"got $out")
    assert(out("BETA") == ((2L, 500000L, 0.5)))
  }

  test("lDiversity: homogeneous groups flag risky, diverse groups pass, shares exact") {
    import spark.implicits._
    // Group (SEG_A, 1): 4 customers all in balance bucket 2 → ł = 1,
    // risky, top share 100%. Group (SEG_B, 2): buckets 0/1/2/2 →
    // ł = 3, not risky at l = 3, top share 50%.
    val cust = Seq(
      (1L, "c1", 1, 2500.0, "SEG_A"), (2L, "c2", 1, 2600.0, "SEG_A"),
      (3L, "c3", 1, 2700.0, "SEG_A"), (4L, "c4", 1, 2800.0, "SEG_A"),
      (5L, "c5", 2, 500.0, "SEG_B"), (6L, "c6", 2, 1500.0, "SEG_B"),
      (7L, "c7", 2, 2500.0, "SEG_B"), (8L, "c8", 2, 2600.0, "SEG_B"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val got = graft.operators.Warehouse.lDiversityOf(cust).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    assert(got(("SEG_A", 1)) == ((4L, 1L, 2L, 1000000L, true)),
      s"homogeneous: ${got(("SEG_A", 1))}")
    assert(got(("SEG_B", 2)) == ((4L, 3L, 2L, 500000L, false)),
      s"diverse: ${got(("SEG_B", 2))}")
  }

  test("price/volume/mix: planted doubling decomposes exactly; one-period types drop") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s"$s 00:00:00")
    // type A: period 0 sells q=10 at $1 (ext $10), period 1 q=20 at
    // $2 (ext $40): Δ = 3000¢, price = (2−1)·10 = 1000¢, volume =
    // 1·10 = 1000¢, joint = ΔpΔq = 1000¢ — all exact on the grid.
    // type B only ships in period 0 → common-basket drop.
    val li = Seq(
      (1L, t("2020-01-02"), 10.0, 10.0),
      (1L, t("2020-01-10"), 20.0, 40.0),
      (2L, t("2020-01-02"), 5.0, 5.0),
      (3L, t("2020-01-11"), 1.0, 1.0)) // pins max date; own type, drops
      .toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")
    val part = Seq((1L, "TYPE_A"), (2L, "TYPE_B"), (3L, "TYPE_C"))
      .toDF("p_partkey", "p_type")
    val out = Warehouse.priceVolumeMixOf(li, part).collect()
    assert(out.length == 1 && out.head.getString(0) == "TYPE_A",
      s"one-period types drop: ${out.toSeq}")
    val r = out.head
    assert((r.getLong(1), r.getLong(2)) == ((10L, 20L)), s"$r")
    assert(r.getLong(3) == 3000L && r.getLong(4) == 1000L &&
      r.getLong(5) == 1000L && r.getLong(6) == 1000L, s"$r")
    // the identity is structural: Δ ≡ price + volume + joint
    assert(r.getLong(3) == r.getLong(4) + r.getLong(5) + r.getLong(6))
  }

  test("order fill rate: all-F fills, mixed is partial, all-O is open, ppm exact") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s"$s 00:00:00")
    val orders = Seq((1L, t("2020-01-05")), (2L, t("2020-01-20")),
      (3L, t("2020-02-01")), (4L, t("2020-02-10")))
      .toDF("o_orderkey", "o_orderdate")
    val li = Seq((1L, "F"), (1L, "F"), (2L, "F"), (2L, "O"),
      (3L, "O"), (4L, "F"))
      .toDF("l_orderkey", "l_linestatus")
    val out = Warehouse.orderFillRateOf(orders, li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("2020-01") == ((2L, 1L, 1L, 0L, 500000L)), s"$out")
    assert(out("2020-02") == ((2L, 1L, 0L, 1L, 500000L)), s"$out")
  }

  test("abc classification: 80/95 cuts land on the boundary parts; shares exact") {
    // cent revenues 80/15/5: cum 80 → A (boundary inclusive),
    // 95 → B, 100 → C — one part per class, revenue shares 80/15/5%.
    val li = Seq((1L, 0.80, 0.0), (2L, 0.15, 0.0), (3L, 0.05, 0.0))
      .toDF("l_partkey", "l_extendedprice", "l_discount")
    val out = Warehouse.abcClassificationOf(li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out("A") == ((1L, 333333L, 800000L)), s"$out")
    assert(out("B") == ((1L, 333333L, 150000L)), s"$out")
    assert(out("C") == ((1L, 333333L, 50000L)), s"$out")
  }

  test("xyz classification: exact CV cuts on a 4-week grid — steady X, lumpy Y, one-spike Z") {
    import java.sql.Date
    // span 2024-01-01..01-22 → W = 4 weeks.
    // part 1: 10 every week → CV 0 → X;
    // part 3: 10,10,10,30 → S=60, Q=1200, vr=1200 ≤ S²=3600 → Y
    //   (but 4·1200 > 3600 — not X), cv = √1200/60 = 0.5774;
    // part 2: 10 wk0 + 30 wk2 → vr=2400 > S²=1600 → Z, cv 1.2247.
    val li = Seq(
      (1L, "2024-01-01", 10.0), (1L, "2024-01-08", 10.0),
      (1L, "2024-01-15", 10.0), (1L, "2024-01-22", 10.0),
      (3L, "2024-01-01", 10.0), (3L, "2024-01-08", 10.0),
      (3L, "2024-01-15", 10.0), (3L, "2024-01-22", 30.0),
      (2L, "2024-01-01", 10.0), (2L, "2024-01-15", 30.0))
      .map { case (p, d, q) => (p, Date.valueOf(d), q) }
      .toDF("l_partkey", "l_shipdate", "l_quantity")
    val out = Warehouse.xyzClassificationOf(li).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set("X", "Y", "Z"), s"got $out")
    assert(out("X") == ((1L, 333333L, 0.0, 0.0)), s"$out")
    assert(out("Y") == ((1L, 333333L, 0.5774, 0.5774)), s"$out")
    assert(out("Z") == ((1L, 333333L, 1.2247, 1.2247)), s"$out")
  }

  test("unshipped orders: segment + date gates compose; k=1 keeps the exact-qsum leader") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val customer = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val orders = Seq(
      (10L, 1L, "1998-01-01", "1-URGENT"), // in: before cutoff, BUILDING
      (11L, 1L, "1998-07-01", "2-HIGH"),   // out: ordered after cutoff
      (12L, 2L, "1998-01-01", "5-LOW"),    // out: wrong segment
      (13L, 1L, "1998-02-01", "3-MEDIUM")) // in, higher revenue
      .map { case (o, c, d, p) => (o, c, t(d), p) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Seq(
      (10L, "1998-08-01", 1.0), (10L, "1998-09-01", 2.0), // open: 3.00
      (10L, "1998-01-15", 9.0),                           // already shipped
      (11L, "1998-08-01", 5.0), (12L, "1998-08-01", 5.0),
      (13L, "1998-08-01", 4.0))                           // open: 4.00
      .map { case (o, d, p) => (o, t(d), p, 0.0) }
      .toDF("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
    val all = Warehouse.unshippedOrdersOf(customer, orders, li).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(all.toSet == Set(
      (13L, "1998-02-01", "3-MEDIUM", 1L, 4.0),
      (10L, "1998-01-01", "1-URGENT", 2L, 3.0)), s"got ${all.toSeq}")
    val top1 = Warehouse.unshippedOrdersOf(customer, orders, li, k = 1)
      .collect()
    assert(top1.map(_.getLong(0)).toSeq == Seq(13L),
      "k = 1 keeps the larger open revenue")
  }

  test("nation market share: part/region gates prune, the target-nation leg is exact ppm") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val region = Seq((0L, "AMERICA"), (1L, "EUROPE")).toDF("r_regionkey", "r_name")
    val nation = Seq((3L, "NATION_3", 0L), (4L, "NATION_4", 0L),
      (5L, "NATION_5", 1L)).toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = Seq((1L, 3L), (2L, 5L)).toDF("c_custkey", "c_nationkey")
    val supplier = Seq((1L, 3L), (2L, 4L)).toDF("s_suppkey", "s_nationkey")
    val part = Seq((1L, "MEDIUM"), (2L, "LARGE")).toDF("p_partkey", "p_type")
    val orders = Seq((10L, 1L, "1995-03-01"), (11L, 2L, "1995-03-01"))
      .map { case (o, c, d) => (o, c, t(d)) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val li = Seq(
      (10L, 1L, 1L, 100.0), // in, target supplier nation
      (10L, 1L, 2L, 300.0), // in, other nation
      (10L, 2L, 1L, 50.0),  // out: part type
      (11L, 1L, 1L, 70.0))  // out: customer region
      .map { case (o, p, s, pr) => (o, p, s, pr, 0.0) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount")
    val Array(r) = Warehouse.nationMarketShareOf(
      li, orders, customer, supplier, nation, region, part).collect()
    assert((r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getLong(4)) == ((1995, 2L, 400.0, 100.0, 250000L)), s"got $r")
  }

  test("brand basket revenue: the OR-of-ANDs keeps only in-envelope (brand, size, qty) lines") {
    val part = Seq((1L, "Brand#1", 3), (2L, "Brand#2", 8),
      (3L, "Brand#1", 20), (4L, "Brand#9", 3))
      .toDF("p_partkey", "p_brand", "p_size")
    val li = Seq(
      (1L, 5.0, 10.0),  // in: Brand#1, size 3, qty 5
      (1L, 20.0, 10.0), // out: qty outside Brand#1's 1..11
      (2L, 15.0, 20.0), // in: Brand#2, size 8, qty 15
      (3L, 5.0, 10.0),  // out: size 20 outside Brand#1's 1..5
      (4L, 5.0, 10.0))  // out: brand not in any basket
      .map { case (p, q, pr) => (p, q, pr, 0.0) }
      .toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val out = Warehouse.brandBasketRevenueOf(li, part).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map("Brand#1" -> ((1L, 10.0)), "Brand#2" -> ((1L, 20.0))),
      s"got $out")
  }

  test("duplicate payments: 1% cent-exact tolerance and the 7-day window gate pairs; smaller leg priced") {
    import java.sql.Timestamp
    def t(d: Int) = Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00")
    val orders = Seq(
      (1L, 1L, 100.00, 0), (2L, 1L, 100.50, 1), // pair: 50·100 ≤ 10000
      (3L, 1L, 100.00, 20),                     // out: gap 20 > 7
      (4L, 1L, 150.00, 2),                      // out: 2% off both others
      (5L, 2L, 200.00, 0), (6L, 2L, 200.00, 0)) // exact same-day pair
      .map { case (o, c, p, d) => (o, c, p, t(d)) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val out = Warehouse.duplicatePaymentsOf(orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map(0L -> ((1L, 200.0)), 1L -> ((1L, 100.0))),
      s"got $out")
  }

  test("late orders by priority: one late line flags the whole order once; shares exact") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, "1-URGENT", "2024-01-01"), // late (one of two lines)
      (2L, "1-URGENT", "2024-01-01"), // on time
      (3L, "5-LOW", "2024-01-01"))    // late
      .map { case (o, p, d) => (o, p, t(d)) }
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
    val li = Seq(
      (1L, "2024-04-02"), (1L, "2024-01-10"), // 92 days late + on time
      (2L, "2024-01-15"),
      (3L, "2024-04-15"), (3L, "2024-05-01")) // two late lines: count once
      .map { case (o, d) => (o, t(d)) }
      .toDF("l_orderkey", "l_shipdate")
    val out = Warehouse.lateOrdersByPriorityOf(orders, li).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out == Map("1-URGENT" -> ((2L, 1L, 500000L)),
      "5-LOW" -> ((1L, 1L, 1000000L))), s"got $out")
  }

  test("trade flows: both directions between the pair publish; third nations and domestic flows drop") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val nation = Seq((1L, "NATION_1"), (2L, "NATION_2"), (3L, "NATION_3"))
      .toDF("n_nationkey", "n_name")
    val supplier = Seq((1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("s_suppkey", "s_nationkey")
    val customer = Seq((1L, 1L), (2L, 2L)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((10L, 2L, "1995-06-01"), (11L, 1L, "1996-06-01"))
      .map { case (o, c, d) => (o, c, t(d)) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val li = Seq(
      (10L, 1L, 100.0), // N1 supplier → N2 customer, 1995
      (10L, 2L, 50.0),  // domestic N2→N2: dropped
      (10L, 3L, 70.0),  // third nation: dropped
      (11L, 2L, 30.0))  // N2 supplier → N1 customer, 1996
      .map { case (o, s, p) => (o, s, p, 0.0) }
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val out = Warehouse.tradeFlowsOf(li, orders, customer, supplier, nation)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(
      ("NATION_1", "NATION_2", 1995) -> ((1L, 100.0)),
      ("NATION_2", "NATION_1", 1996) -> ((1L, 30.0))), s"got $out")
  }

  test("returned revenue top-k: window + returnflag gate, exact-revenue ordering, custkey boundary tie") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val nation = Seq((0L, "NATION_0")).toDF("n_nationkey", "n_name")
    val customer = Seq((1L, "c1", 10.0, 0L), (2L, "c2", 20.0, 0L),
      (3L, "c3", 30.0, 0L))
      .toDF("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val orders = Seq(
      (10L, 1L, "1998-02-01"), (11L, 2L, "1998-02-01"),
      (12L, 3L, "1998-02-01"), (13L, 1L, "1997-06-01")) // out of window
      .map { case (o, c, d) => (o, c, t(d)) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val li = Seq(
      (10L, "R", 50.0), (10L, "A", 500.0), // cust 1: R-revenue 50
      (11L, "R", 50.0),                    // cust 2: 50 — ties cust 1
      (12L, "R", 10.0),                    // cust 3: 10 — below the k=2 cut
      (13L, "R", 900.0))                   // out-of-window order
      .map { case (o, f, p) => (o, f, p, 0.0) }
      .toDF("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
    val out = Warehouse.returnedRevenueTopkOf(li, orders, customer, nation,
      k = 2).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L),
      s"tie at the k boundary keeps the lower custkeys: ${out.toSeq}")
    assert(out.forall(_.getDouble(5) == 50.0), s"${out.toSeq}")
  }

  test("consistent sample: coordinated FKs stay intact; an uncoordinated control breaks them") {
    val customer = (1L to 300L).map(i => (i, s"c$i")).toDF("c_custkey", "c_name")
    val orders = (1L to 600L).map(o => (o, (o % 300L) + 1L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 1200L).map(l => (l, (l % 600L) + 1L))
      .toDF("l_lineno", "l_orderkey")
    val out = Warehouse.consistentSampleOf(customer, orders, lineitem)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set("customer", "orders", "lineitem"))
    assert(out("customer")._1 == 300L && out("orders")._1 == 600L &&
      out("lineitem")._1 == 1200L)
    assert(out.values.forall(_._2 > 0), s"all tables keep rows: $out")
    // the audit column the op exists for: zero orphans everywhere
    assert(out.values.forall(_._4 == 0L), s"coordinated FKs intact: $out")
    // kept_ppm is the exact integer share
    out.values.foreach { case (total, kept, ppm, _) =>
      assert(ppm == kept * 1000000L / total, s"$out")
    }
    // control: sample orders with a DIFFERENT salt — kept orders'
    // customers are now an unrelated 5%, so orphans appear (the
    // failure mode coordinated sampling prevents)
    val cKept = customer.filter(
      pmod(conv(substring(md5(concat(lit("smp:"),
        col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(100L)) < 5)
    val oUncoord = orders.filter(
      pmod(conv(substring(md5(concat(lit("other:"),
        col("o_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(100L)) < 5)
    val orphans = oUncoord.join(
      cKept.select(col("c_custkey").as("o_custkey")),
      Seq("o_custkey"), "left_anti").count()
    assert(orphans > 0, "an uncoordinated sample must orphan orders")
  }

  test("t-closeness: absent buckets count, matching group reads 0, skew flags risky") {
    import spark.implicits._
    // buckets: bal 500 → 0, bal 1500 → 1. Global: 4×b0, 4×b1 (N=8).
    // A: 2×b1 only (b0 ABSENT — the dense grid must still charge it):
    //   tvd = ½(|0−½| + |1−½|) = 0.5 → risky.
    // B: 3×b0 + 1×b1: tvd = ½(¼+¼) = 0.25 → risky.
    // C: 1×b0 + 1×b1 = the global mix exactly: tvd = 0 → clean.
    val cust = Seq(
      (1L, "c", 1, 1500.0, "A"), (2L, "c", 1, 1500.0, "A"),
      (3L, "c", 1, 500.0, "B"), (4L, "c", 1, 500.0, "B"),
      (5L, "c", 1, 500.0, "B"), (6L, "c", 1, 1500.0, "B"),
      (7L, "c", 1, 500.0, "C"), (8L, "c", 1, 1500.0, "C"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val got = graft.operators.Warehouse.tClosenessOf(cust).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got("A") == ((2L, 0.5, true)), s"A: ${got("A")}")
    assert(got("B") == ((4L, 0.25, true)), s"B: ${got("B")}")
    assert(got("C") == ((2L, 0.0, false)), s"C: ${got("C")}")
  }

  test("fisher price index: planted price doubling reads L=1.5 P=1.667 F=√(LP); unmatched parts drop") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s"$s 00:00:00")
    // base 2000-01: part1 q=10 @$1 (ext 10), part2 q=5 @$2 (ext 10).
    // 2000-02: part1 q=20 @$2 (ext 40), part2 q=5 @$2 (ext 10);
    // part3 sells ONLY in 2000-02 → matched basket excludes it.
    // L = (2·10 + 2·5)/(1·10 + 2·5) = 1.5
    // P = (2·20 + 2·5)/(1·20 + 2·5) = 5/3
    val li = Seq(
      (1L, t("2000-01-05"), 10.0, 10.0), (2L, t("2000-01-06"), 5.0, 10.0),
      (1L, t("2000-02-05"), 20.0, 40.0), (2L, t("2000-02-06"), 5.0, 10.0),
      (3L, t("2000-02-07"), 7.0, 70.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")
    val got = graft.operators.Warehouse.fisherPriceIndexOf(li).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    def f6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val l = 1.5; val p = 50.0 / 30.0
    assert(got.toSeq == Seq(("2000-02", 2L, f6(l), f6(p),
      f6(math.sqrt(l * p)))), s"got ${got.toSeq}")
  }

  test("order reconcile: exact headers read 0 ppm; discount/tax drift reads exact integer ppm") {
    import spark.implicits._
    // order 1 (status O): two clean lines summing exactly to the
    // header → 0 ppm. order 2 (status O): a 10% discount the header
    // ignores → |90−100|/100 = 100000 ppm (> 1%). order 3 (status F):
    // tax-inflated lines vs a 200 header → |108−200|/200 = 460000 ppm.
    val li = Seq(
      (1L, 50.0, 0.0, 0.0), (1L, 50.0, 0.0, 0.0),
      (2L, 100.0, 0.10, 0.0),
      (3L, 100.0, 0.0, 0.08))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val ord = Seq(
      (1L, "O", 100.0), (2L, "O", 100.0), (3L, "F", 200.0),
      (4L, "F", 50.0)) // lineless: excluded from the audit
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val got = graft.operators.Warehouse.orderReconcileOf(li, ord).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // status O: orders 1 (0 ppm) + 2 (100000 ppm) → mean 50000
    assert(got("O") == ((2L, 1L, 50000L, 100000L)), s"O: ${got("O")}")
    assert(got("F") == ((1L, 1L, 460000L, 460000L)), s"F: ${got("F")}")
  }

  test("small order revenue: the exact 5qn<sum cross-multiplication flags below-fifth-of-average lines") {
    import spark.implicits._
    // part 1 (B1): quantities 1,10,10,10 → small iff 5q·4 < 31 → q=1
    // only. part 2 (B2): 5,5 → 50 < 10 never.
    val li = Seq(
      (1L, 1.0, 7.00), (1L, 10.0, 100.0), (1L, 10.0, 100.0),
      (1L, 10.0, 100.0),
      (2L, 5.0, 40.0), (2L, 5.0, 60.0))
      .toDF("l_partkey", "l_quantity", "l_extendedprice")
    val part = Seq((1L, "B1"), (2L, "B2")).toDF("p_partkey", "p_brand")
    val got = graft.operators.Warehouse.smallOrderRevenueOf(li, part)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // B1: small rev 700 cents of 30700 total → 22800 ppm (integer div)
    assert(got("B1") == ((4L, 1L, 700L, 700L * 1000000L / 30700L)),
      s"B1: ${got("B1")}")
    assert(got("B2") == ((2L, 0L, 0L, 0L)), s"B2: ${got("B2")}")
  }

  test("idle customers: above-positive-average balance AND orderless, negative balances never enter the average") {
    import spark.implicits._
    val cust = Seq(
      (1L, "S1", 100.0),  // below avg
      (2L, "S1", 50.0),   // below avg
      (3L, "S2", 200.0),  // rich, no orders → idle
      (4L, "S2", -10.0),  // negative: excluded from the average
      (5L, "S1", 300.0))  // rich but ordered recently
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    // max order date 03-05 → window opens 02-04: customer 3's old
    // January order does NOT count as activity (dormant, not never).
    val ord = Seq(
      (10L, 1L, "2024-03-01 00:00:00"), (11L, 5L, "2024-03-05 00:00:00"),
      (12L, 3L, "2024-01-01 00:00:00"))
      .toDF("o_orderkey", "o_custkey", "d")
      .select(col("o_orderkey"), col("o_custkey"),
        to_timestamp(col("d")).as("o_orderdate"))
    // positive avg = 650/4 = 162.5 → rich = {3, 5}; idle = {3}
    val got = graft.operators.Warehouse.idleCustomersOf(cust, ord).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("S2", 1L, 20000L)), s"got ${got.toSeq}")
  }

  test("pricing summary: exact integer grids, 90-day cutoff excludes late lines") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s"$s 00:00:00")
    // max shipdate 2000-06-30 → cutoff 2000-04-01 (inclusive): the
    // first two lines count, the 2000-06-30 anchor line does not.
    val li = Seq(
      ("A", "F", t("2000-01-10"), 10.0, 100.00, 0.05, 0.08),
      ("A", "F", t("2000-02-10"), 20.0, 200.00, 0.10, 0.00),
      ("N", "O", t("2000-06-30"), 5.0, 50.00, 0.00, 0.00))
      .toDF("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
    val got = graft.operators.Warehouse.pricingSummaryOf(li).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.size == 1 && got.contains(("A", "F")), s"cutoff: $got")
    val r = got(("A", "F"))
    // sums: qty 30; base 30000c; disc 10000·95 + 20000·90 = 2750000;
    // charge 10000·95·108 + 20000·90·100 = 282600000;
    // avgs: 15000 milli-qty, 15000c, (15·100) div 2 = 750 bp
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((30L, 30000L, 2750000L, 282600000L)), s"$r")
    assert((r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9)) ==
      ((15000L, 15000L, 750L, 2L)), s"$r")
  }

  test("promotion effect: exact net grid, promo share by integer ppm") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s"$s 00:00:00")
    val li = Seq(
      (1L, t("2000-01-05"), 100.0, 0.00),  // PROMO net 1000000
      (2L, t("2000-01-06"), 100.0, 0.10))  // STANDARD net 900000
      .toDF("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    val part = Seq((1L, "PROMO"), (2L, "STANDARD"))
      .toDF("p_partkey", "p_type")
    val got = graft.operators.Warehouse.promotionEffectOf(li, part)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("2000-01", 2L, 1000000L, 1900000L,
      1000000L * 1000000L / 1900000L)), s"got ${got.toSeq}")
  }

  test("orders per customer dist: the zero bucket keeps never-ordered customers") {
    import spark.implicits._
    val cust = (1L to 5L).map(i => Tuple1(i)).toDF("c_custkey")
    val ord = Seq((10L, 1L), (11L, 1L), (12L, 2L))
      .toDF("o_orderkey", "o_custkey")
    val got = graft.operators.Warehouse.ordersPerCustomerDistOf(cust, ord)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 1L, 2L -> 1L), s"got $got")
  }

  test("price dispersion: the 10% cut is exact cross-multiplied; constant pricing reads zero") {
    val part = Seq((1L, "Brand#1"), (2L, "Brand#1"), (3L, "Brand#2"))
      .toDF("p_partkey", "p_brand")
    val li = Seq(
      (1L, 2.0, 200.0), (1L, 2.0, 224.0), // units 100/112: range 107142 ppm
      (2L, 1.0, 50.0), (2L, 3.0, 150.0),  // constant unit 50: range 0
      (3L, 1.0, 100.0), (3L, 2.0, 210.0), // units 100/105: 47619 ppm
      (3L, 0.0, 999.0))                   // zero qty: dropped
      .toDF("l_partkey", "l_quantity", "l_extendedprice")
    val out = Warehouse.priceDispersionOf(li, part).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out == Map(
      "Brand#1" -> ((2L, 1L, 500000L, 107142L)),
      "Brand#2" -> ((1L, 0L, 0L, 47619L))), s"got $out")
  }

  test("single sourcing: the 90% cut is boundary-inclusive cross-multiplied; ties break to the smaller suppkey") {
    val part = Seq((1L, "Brand#1"), (2L, "Brand#1"), (3L, "Brand#2"))
      .toDF("p_partkey", "p_brand")
    val li = Seq(
      (1L, 10L, 9.0), (1L, 20L, 1.0),  // top 9/10 = exactly 90% → single
      (2L, 10L, 1.0), (2L, 20L, 1.0),  // 50/50 tie → top 500000 ppm
      (3L, 10L, 8.0), (3L, 20L, 2.0))  // 80% → not single
      .toDF("l_partkey", "l_suppkey", "l_quantity")
    val out = graft.operators.Warehouse.singleSourcingOf(li, part).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out == Map(
      "Brand#1" -> ((2L, 1L, 500000L, 900000L)),
      "Brand#2" -> ((1L, 0L, 0L, 800000L))), s"got $out")
  }

  test("reorder point: zero-filled sd, hand-computed safety stock") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // Brand#A ships 10 on day 1 and 20 on day 3 — the quiet day 2
    // MUST enter the moments as demand 0 (n=3), or sd undershoots.
    // Brand#B ships only on day 2; its grid still spans all 3 days.
    val li = Seq(
      (1L, t("2020-01-01"), 10.0),
      (1L, t("2020-01-03"), 20.0),
      (2L, t("2020-01-02"), 6.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity")
    val part = Seq((1L, "Brand#A"), (2L, "Brand#B"))
      .toDF("p_partkey", "p_brand")
    val out = Warehouse.reorderPointOf(li, part).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // A: demand (10, 0, 20): mean 10, var (500-300)/2 = 100, sd 10
    val sfA = r6(1.645 * 1000.0 * math.sqrt(7.0) / 100.0)
    assert(out("Brand#A") == ((3L, 10.0, 10.0, sfA,
      r6((1000.0 * 7.0 + 1.645 * 1000.0 * math.sqrt(7.0)) / 100.0))),
      s"got ${out("Brand#A")} want sd 10, safety $sfA")
    // B: demand (0, 6, 0): mean 2, var (36-12)/2 = 12, sd sqrt(12)
    val sdB = math.sqrt((360000.0 - 360000.0 / 3.0) / 2.0)
    assert(out("Brand#B") == ((3L, 2.0, r6(sdB / 100.0),
      r6(1.645 * sdB * math.sqrt(7.0) / 100.0),
      r6((200.0 * 7.0 + 1.645 * sdB * math.sqrt(7.0)) / 100.0))),
      s"got ${out("Brand#B")}")
  }

  test("reorder point: single-day history refuses (no variance estimate)") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val li = Seq((1L, t("2020-01-01"), 10.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity")
    val part = Seq((1L, "Brand#A")).toDF("p_partkey", "p_brand")
    assert(Warehouse.reorderPointOf(li, part).isEmpty,
      "n_days = 1 cannot estimate sigma -> no row, not a 0-sd plan")
  }

  // ---- TPC-H Q15 shape: window-max tie keeps BOTH suppliers ----

  private def li(rows: (String, Long, Double, Double)*): DataFrame =
    rows.map { case (d, sk, ep, disc) => (d, sk, ep, disc) }
      .toDF("d", "l_suppkey", "l_extendedprice", "l_discount")
      .select(to_timestamp(col("d")).as("l_shipdate"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))

  private def supp(rows: (Long, String)*): DataFrame =
    rows.toDF("s_suppkey", "s_name")

  test("top_supplier_share: a revenue tie keeps both suppliers, share is exact ppm") {
    // Q1-1995: s1 and s2 tie at net 100.00 with zero discount
    // (rev_c100 = 10000*100 = 1000000), s3 trails at 50.00; total =
    // 2500.00 → share = 1000000*1e6 div 2500000 = 400000 ppm each.
    val l = li(
      ("1995-01-10 00:00:00", 1L, 100.0, 0.0),
      ("1995-02-11 00:00:00", 2L, 100.0, 0.0),
      ("1995-03-12 00:00:00", 3L, 50.0, 0.0))
    val out = Warehouse.topSupplierShareOf(l,
      supp(1L -> "alpha", 2L -> "beta", 3L -> "gamma")).collect()
    assert(out.length == 2, s"tie must keep both: ${out.mkString(";")}")
    assert(out.map(_.getString(2)).toSet == Set("alpha", "beta"))
    assert(out.forall(_.getLong(4) == 400000L),
      s"share 1000000/2500000 = 400000 ppm: ${out.mkString(";")}")
    assert(out.forall(_.getString(0) == "1995-Q1"))
  }

  // ---- TPC-H Q18 shape: the strict > threshold boundary ----

  test("large_orders: total quantity exactly at the threshold is excluded") {
    val lines = Seq(
      (1L, 75L), (1L, 75L),        // order 1: 150 — boundary, OUT
      (2L, 75L), (2L, 76L))        // order 2: 151 — IN
      .toDF("l_orderkey", "l_quantity")
    val orders = Seq((1L, 10L, "1995-01-01", 100.0),
        (2L, 20L, "1995-01-02", 200.0))
      .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .withColumn("o_orderdate", to_timestamp(col("d"))).drop("d")
    val cust = Seq((10L, "c-ten"), (20L, "c-twenty"))
      .toDF("c_custkey", "c_name")
    val out = Warehouse.largeOrdersOf(lines, orders, cust).collect()
    assert(out.length == 1, s"only 151 passes >150: ${out.mkString(";")}")
    assert(out(0).getString(1) == "c-twenty")
    assert(out(0).getLong(5) == 151L)
    assert(out(0).getLong(4) == 20000L, "totalprice 200.00 → 20000 cents")
  }

  // ---- TPC-H Q6 shape: band boundaries and the exact what-if sum ----

  test("discount_whatif: band/quantity boundaries and hand-computed forgone revenue") {
    def line(d: String, qty: Long, ep: Double, disc: Double) =
      (d, qty, ep, disc)
    val rows = Seq(
      line("1997-03-01 00:00:00", 23L, 100.0, 0.05), // IN: forgone 5.00
      line("1997-04-01 00:00:00", 23L, 100.0, 0.07), // IN: forgone 7.00
      line("1997-05-01 00:00:00", 24L, 100.0, 0.06), // qty 24: OUT (<24)
      line("1997-06-01 00:00:00", 23L, 100.0, 0.04), // below band: OUT
      line("1997-07-01 00:00:00", 23L, 100.0, 0.08)) // above band: OUT
      .toDF("d", "l_quantity", "l_extendedprice", "l_discount")
      .select(to_timestamp(col("d")).as("l_shipdate"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val out = Warehouse.discountWhatifOf(rows).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 1997L && r.getLong(1) == 2L)
    // forgone: 10000c*5 + 10000c*7 = 120000 c100-units = $12.00
    assert(r.getLong(2) == 120000L, s"forgone: $r")
    assert(r.getLong(3) == 20000L, s"gross cents of the two IN lines: $r")
    // bp = forgone*100 div gross = 12000000 div 20000 = 600 (6%)
    assert(r.getLong(4) == 600L, s"share bp: $r")
  }

  // ---- third tranche: the six remaining TPC-H shapes ----

  private def dimChain: (DataFrame, DataFrame) = {
    // nation 0 in EUROPE (region 3), nation 1 in ASIA (region 2)
    val nation = Seq((0, "NATION_A", 3), (1, "NATION_B", 2))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val region = Seq((3, "EUROPE"), (2, "ASIA"))
      .toDF("r_regionkey", "r_name")
    (nation, region)
  }

  test("min_cost_supplier: min is over EUROPE suppliers only; a cost tie keeps both") {
    val (nation, region) = dimChain
    // s1/s2 EUROPE tie at unit cost 100c; s3 ASIA is cheaper at 50c
    // but out of scope — the Q2 region clause scopes the MIN itself.
    val supplier = Seq((1L, "s-one", 0, 10.0), (2L, "s-two", 0, 20.0),
        (3L, "s-three", 1, 30.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val part = Seq((7L, "STANDARD", 15), (8L, "PROMO", 15))
      .toDF("p_partkey", "p_type", "p_size")
    val li = Seq(
      (7L, 1L, 2.0, 2.0),   // unit 100c
      (7L, 2L, 3.0, 3.0),   // unit 100c — tie
      (7L, 3L, 2.0, 1.0),   // ASIA: unit 50c, must not mask the tie
      (8L, 1L, 1.0, 1.0))   // non-STANDARD part: out
      .toDF("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    val out = Warehouse.minCostSupplierOf(li, part, supplier, nation, region)
      .collect()
    assert(out.length == 2, s"EUROPE tie keeps both: ${out.mkString(";")}")
    assert(out.map(_.getString(1)).toSet == Set("s-one", "s-two"))
    assert(out.forall(_.getLong(5) == 100L),
      s"unit cost = cents div units: ${out.mkString(";")}")
    // ordered by acctbal DESC: s-two (20.0) first
    assert(out(0).getString(1) == "s-two")
  }

  test("nation_profit: under-list selling yields a negative margin with toward-zero bp") {
    val (nation, _) = dimChain
    val supplier = Seq((1L, "s-one", 0, 10.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val part = Seq((7L, 3.0)).toDF("p_partkey", "p_retailprice")
    // 2 units sold at ep=5.00 gross, 10% discount → net_c100 = 500*90
    // = 45000; list_c100 = 2*300*100 = 60000 → margin −15000,
    // bp = −15000*10000 div 45000 = −3333 (truncation toward zero).
    val li = Seq(("1997-03-01 00:00:00", 7L, 1L, 2.0, 5.0, 0.10))
      .toDF("d", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .select(to_timestamp(col("d")).as("l_shipdate"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
    val out = Warehouse.nationProfitOf(li, part, supplier, nation).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(2) == 45000L && r.getLong(3) == 60000L, s"legs: $r")
    assert(r.getLong(4) == -15000L, s"margin: $r")
    assert(r.getLong(5) == -3333L,
      s"bp truncates toward zero on the negative leg: $r")
  }

  test("important_parts: a part exactly AT the 0.05% threshold is excluded") {
    val supplier = Seq((1L, "s-one", 7, 10.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val nation7 = Seq((7, "NATION_7", 2))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    // part 1 value 1 of total 2000 → value*2000 == total: OUT (strict >)
    // part 2 value 1999 → IN
    def line(pk: Long, cents: Double) = ("1997-01-01 00:00:00", pk, 1L,
      1.0, cents, 0.0)
    val li = Seq(line(1L, 0.01), line(2L, 19.99))
      .toDF("d", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .select(to_timestamp(col("d")).as("l_shipdate"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
    val out = Warehouse.importantPartsOf(li, supplier, nation7).collect()
    assert(out.length == 1, s"strict threshold: ${out.mkString(";")}")
    assert(out(0).getLong(0) == 2L)
    assert(out(0).getLong(1) == 199900L, s"value on the c100 grid: ${out(0)}")
  }

  test("priority_ship_mix: a 30-day lag is FAST, 31 is SLOW; priorities split 2/3") {
    val orders = Seq(
      (1L, "1997-01-01 00:00:00", "1-URGENT"),
      (2L, "1997-01-01 00:00:00", "3-MEDIUM"))
      .toDF("o_orderkey", "d", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("d"))).drop("d")
    val li = Seq(
      (1L, "1997-01-31 00:00:00"),  // 30 days → FAST, high
      (2L, "1997-02-01 00:00:00"))  // 31 days → SLOW, low
      .toDF("l_orderkey", "d")
      .withColumn("l_shipdate", to_timestamp(col("d"))).drop("d")
    val out = Warehouse.priorityShipMixOf(li, orders)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == Set(("FAST", 1L, 0L), ("SLOW", 0L, 1L)),
      s"boundary: ${out.mkString(";")}")
  }

  test("part_supplier_variety: deficit suppliers and the excluded brand drop out") {
    val supplier = Seq((1L, 5.0), (2L, -1.0))
      .toDF("s_suppkey", "s_acctbal")
    val part = Seq(
      (7L, "Brand#1", "SMALL", 9),
      (8L, "Brand#13", "SMALL", 9),   // excluded brand
      (9L, "Brand#1", "SMALL", 10))   // size outside the IN list
      .toDF("p_partkey", "p_brand", "p_type", "p_size")
    val li = Seq((7L, 1L), (7L, 1L), (7L, 2L), (8L, 1L), (9L, 1L))
      .toDF("l_partkey", "l_suppkey")
    val out = Warehouse.partSupplierVarietyOf(li, part, supplier).collect()
    assert(out.length == 1, s"one surviving group: ${out.mkString(";")}")
    val r = out(0)
    assert(r.getString(0) == "Brand#1" && r.getLong(2) == 9L)
    assert(r.getLong(3) == 1L,
      s"s2 is deficit-book, duplicate lines collapse: $r")
  }

  test("excess_shippers: exactly half the part volume is excluded, majority is kept") {
    val (nation, region) = dimChain
    // both suppliers in ASIA (nation 1)
    val supplier = Seq((1L, "s-one", 1, 10.0), (2L, "s-two", 1, 20.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val part = Seq((7L, "small bolt"), (8L, "small nut"), (9L, "red gear"))
      .toDF("p_partkey", "p_name")
    def line(pk: Long, sk: Long, q: Double, d: String) = (d, pk, sk, q)
    val li = Seq(
      line(7L, 1L, 5.0, "1997-03-01 00:00:00"),  // exactly half of 10
      line(7L, 2L, 5.0, "1997-03-01 00:00:00"),  // exactly half of 10
      line(8L, 2L, 3.0, "1997-03-01 00:00:00"),  // 3 of 4 → majority
      line(8L, 1L, 1.0, "1997-03-01 00:00:00"),
      line(9L, 1L, 9.0, "1997-03-01 00:00:00"),  // non-small part: out
      line(8L, 1L, 9.0, "1998-03-01 00:00:00"))  // wrong year: out
      .toDF("d", "l_partkey", "l_suppkey", "l_quantity")
      .select(to_timestamp(col("d")).as("l_shipdate"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
    val out = Warehouse.excessShippersOf(li, part, supplier, nation, region)
      .collect()
    assert(out.length == 1, s"only the >half shipper: ${out.mkString(";")}")
    assert(out(0).getString(0) == "s-two")
  }
}
