package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CtrAlerts
import graft.sources.Tables

class AlertsSpec extends AnyFunSuite with SparkFixture {

  test("approx percentiles land within the sketch's rank-error band of exact") {
    import graft.operators.Report
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = asMap(Report.earningsPercentilesApprox(spark, Sf).collect())
    val exact = asMap(Report.earningsPercentiles(spark, Sf).collect())
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (e50, e90, e99)) =>
      val (a50, a90, a99) = approx(k)
      // accuracy=10000 → rank error 1e-4; on this value distribution a
      // 1% relative band is generous and still catches a broken sketch
      Seq((a50, e50, "p50"), (a90, e90, "p90"), (a99, e99, "p99")).foreach {
        case (a, e, tag) =>
          assert(math.abs(a - e) / e <= 0.01, s"$k $tag: approx $a vs exact $e")
      }
    }
  }

  test("quantile sketch audit: exact leg is the true order statistic, err within band, partition-invariant") {
    import spark.implicits._
    import graft.operators.Report
    // hand-checkable frame: values 1..100 under one flag — exact
    // interpolated percentiles are p50 = 50.5, p90 = 90.1, p99 = 99.01
    val li = (1 to 100).map(v => ("A", v.toDouble))
      .toDF("l_returnflag", "l_extendedprice")
    val out = Report.quantileSketchErrOf(li).collect()
      .map(r => r.getLong(1) -> (r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    assert(out(50L)._1 == 50.5 && out(90L)._1 == 90.1 &&
      out(99L)._1 == 99.01, s"exact leg: $out")
    // at n = 100 and accuracy 10000 the sketch is rank-exact, so the
    // audit must read (near) zero error — |err| ≤ 1% of value covers
    // the interpolation gap between the exact and nearest-rank answers
    assert(out.values.forall { case (_, _, bp) => math.abs(bp) <= 100 },
      s"toy-frame error band: $out")
    // the real table: 9 rows, every |err_bp| inside the band that
    // justifies the sketch swap, and the estimate REPRODUCES under a
    // different partitioning (the pinned-oracle precondition)
    val real = SparkEntry.queries("quantile_sketch_err")(spark, Sf).collect()
    assert(real.length == 9)
    assert(real.forall(r => math.abs(r.getLong(4)) <= 100),
      s"sf band: ${real.toSeq}")
    val reparted = Report.quantileSketchErrOf(
      Tables.lineitem(spark, Sf).repartition(7)).collect()
    assert(reparted.map(_.toString).sorted.sameElements(
      real.map(_.toString).sorted),
      "sketch result must be partitioning-invariant (pinned oracle relies on it)")
  }

  test("value histogram partitions every row into clamped equal-width bins") {
    import graft.operators.Report
    val rows = Report.valueHistogram(spark, Sf).collect()
    val total = Tables.events(spark, Sf).count()
    assert(rows.map(_.getLong(2)).sum == total,
      "bin counts must partition the table")
    val buckets = rows.map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 20), s"buckets clamped to [0,20): ${buckets.toSeq}")
    assert(buckets.distinct.length == buckets.length)
    // bucket_lo is monotone in bucket
    val los = rows.sortBy(_.getLong(0)).map(_.getDouble(1))
    assert(los.zip(los.drop(1)).forall { case (a, b) => a < b })
  }

  test("value histogram honors a non-default bin count (incl. the max-value clamp)") {
    import spark.implicits._
    // values 0..6 over 7 bins of width 6/7: value 6 must clamp into
    // bin 6, one value per bin
    val out = graft.operators.Report.valueHistogramOf(
      (0 to 6).map(_.toDouble).toDF("value"), bins = 7).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == (0L to 6L).map(_ -> 1L).toMap, s"got $out")
    // degenerate single-value input → everything in bin 0
    val deg = graft.operators.Report.valueHistogramOf(
      Seq(3.0, 3.0, 3.0).toDF("value"), bins = 5).collect()
    assert(deg.length == 1 && deg.head.getLong(0) == 0L && deg.head.getLong(2) == 3L)
  }

  test("ctr shrinkage pulls small samples toward the global prior") {
    import spark.implicits._
    // Global: 3 clicks / 7 views → p0 = 3/7 = 0.428571 (6dp floor-form).
    val ev = Seq(
      (1L, "click", 1L), (2L, "view", 1L),                    // item 1: 1/1
      (3L, "click", 2L), (4L, "view", 2L), (5L, "view", 2L),  // item 2: 1/6
      (6L, "view", 2L), (7L, "view", 2L), (8L, "view", 2L), (9L, "view", 2L),
      (10L, "click", 3L),                                     // item 3: 1/0
      (11L, "purchase", 1L))                                  // ignored
      .map { case (id, t, k) => (id, t, s"""{"k": $k}""") }
      .toDF("event_id", "event_type", "props")
    val out = CtrAlerts.ctrShrunkOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4))).toMap
    // item 1 raw 1.0 → (1 + 100·3/7)/(1 + 100) = 43.8571/101 = 0.434229
    assert(out(1L) == ((1L, 1L, Some(1.0), 0.434229)), s"got $out")
    // item 2 raw ⅙ → 43.8571/106 = 0.413746
    assert(out(2L) == ((1L, 6L, Some(0.166667), 0.413746)))
    // zero impressions: raw is NULL, shrunk = (1 + 100·p0)/100
    assert(out(3L) == ((1L, 0L, None, 0.438571)))
  }

  test("wilson interval brackets the raw ctr and nulls on non-binomial slices") {
    import spark.implicits._
    val ev = Seq(
      (1L, "click", 1L), (2L, "view", 1L), (3L, "view", 1L), // 1: 1/3
      (4L, "view", 1L),
      (5L, "view", 2L), (6L, "view", 2L), (7L, "view", 2L),  // 2: 0/5
      (8L, "view", 2L), (9L, "view", 2L),
      (10L, "click", 3L), (11L, "click", 3L), (12L, "view", 3L), // 3: 2/1
      (13L, "click", 4L))                                    // 4: 1/0
      .map { case (id, t, k) => (id, t, s"""{"k": $k}""") }
      .toDF("event_id", "event_type", "props")
    val out = CtrAlerts.ctrWilsonOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    // 1/3: p̂ = 0.333333 ∈ [0.06149, 0.792345] (hand-checked Wilson)
    assert(out(1L) == ((1L, 3L, Some(0.333333), Some(0.06149), Some(0.792345))),
      s"got $out")
    // 0/5: the low bound pins to 0 exactly; high stays well under 1
    assert(out(2L) == ((0L, 5L, Some(0.0), Some(0.0), Some(0.434491))))
    // clicks > views: p̂ > 1 is not a binomial proportion → NULL band
    assert(out(3L) == ((2L, 1L, Some(2.0), None, None)))
    // zero impressions: everything NULL, nothing NaN
    assert(out(4L) == ((1L, 0L, None, None, None)))
  }

  test("ctr shrinkage degrades to NULL, not NaN, when the slice has zero views") {
    import spark.implicits._
    val ev = Seq((1L, "click", 1L), (2L, "click", 2L))
      .map { case (id, t, k) => (id, t, s"""{"k": $k}""") }
      .toDF("event_id", "event_type", "props")
    val out = CtrAlerts.ctrShrunkOf(ev).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.isNullAt(5), "p0 must be NULL with no view events")
      assert(r.isNullAt(4), "shrunk ctr must be NULL, not NaN")
    }
  }

  test("approx_count_distinct estimate lands within 5% of exact per group") {
    val approx = CtrAlerts.approxDistinctUsers(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, Sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("u")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$k: approx $a vs exact $e")
    }
  }

  test("hll rollup: every level's estimate bands within 5% of exact, unions never rescan") {
    val out = SparkEntry.queries("hll_rollup")(spark, Sf).collect()
      .map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.getDate(2)).map(_.toString)) -> r.getLong(3)).toMap
    val ev = Tables.events(spark, Sf)
    val exactTotal = ev.select("user_id").distinct().count()
    val totalEst = out(("total", None, None))
    assert(math.abs(totalEst - exactTotal).toDouble / exactTotal <= 0.05,
      s"total: $totalEst vs $exactTotal")
    val exactByType = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("u")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exactByType.foreach { case (t, e) =>
      val a = out(("type", Some(t), None))
      assert(math.abs(a - e).toDouble / e <= 0.05, s"type $t: $a vs $e")
    }
    // spot-check one leaf
    val leaf = out.keys.find(_._1 == "type_day").get
    val exactLeaf = ev.filter(col("event_type") === leaf._2.get &&
      to_date(col("ts")) === leaf._3.get)
      .select("user_id").distinct().count()
    val leafEst = out(leaf)
    assert(math.abs(leafEst - exactLeaf).toDouble / math.max(exactLeaf, 1) <= 0.1,
      s"leaf $leaf: $leafEst vs $exactLeaf")
  }

  test("ship lag percentiles interpolate exact integer day lags per priority") {
    import spark.implicits._
    val li = Seq((1L, "2024-01-05"), (1L, "2024-01-11"), (2L, "2024-01-21"))
      .toDF("l_orderkey", "d").select(col("l_orderkey"),
        to_timestamp(col("d")).as("l_shipdate"))
    val ord = Seq((1L, "P1", "2024-01-01"), (2L, "P1", "2024-01-01"))
      .toDF("o_orderkey", "o_orderpriority", "d")
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_timestamp(col("d")).as("o_orderdate"))
    val out = graft.operators.Report.shipLagPercentilesOf(li, ord).collect()
    assert(out.length == 1)
    val r = out.head
    // lags 4, 10, 20 → p50 = 10, p90 interpolates 10..20 at 0.8 → 18
    assert(r.getDouble(1) == 10.0 && r.getDouble(2) == 18.0)
    assert(r.getLong(4) == 3L)
  }

  test("hll error audit: estimate stays inside the 5% band, exact side exact") {
    import spark.implicits._
    // 5000 distinct users of one type: big enough to leave the
    // sketch's exact sparse mode, so a real register estimate is
    // audited against the exact distinct.
    val ev = (1L to 5000L).map(u => (u, u, "view"))
      .toDF("event_id", "user_id", "event_type")
    val Array(r) = graft.operators.CtrAlerts.hllErrorAuditOf(ev).collect()
    assert(r.getLong(1) == 5000L, s"exact side must be exact: $r")
    assert(math.abs(r.getLong(3)) <= 500L,
      s"estimate outside the 5% band: $r")
  }

  test("scoped ctr spike equals the global alert restricted to the allowlist") {
    import graft.operators.CtrAlerts
    // Per-unit groups + a GLOBAL report date mean pre-aggregation
    // scoping must equal post-hoc filtering of the global alert —
    // the property that makes the pushed-down IN-list safe.
    val units = CtrAlerts.DemoUnitAllowlist
    val scoped = CtrAlerts.ctrSpikeScoped(spark, Sf, units)
      .collect().map(_.toString).toSeq
    val filtered = CtrAlerts.ctrSpike(spark, Sf)
      .filter(org.apache.spark.sql.functions.col("user_id").isin(units: _*))
      .collect().map(_.toString).toSeq
    assert(scoped.nonEmpty && scoped == filtered)
    intercept[IllegalArgumentException] {
      CtrAlerts.ctrSpikeScoped(spark, Sf, Seq.empty)
    }
  }
}
