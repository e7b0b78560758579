package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_timestamp}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Behavior, Robust}

class RobustSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("mad outliers: constant groups (MAD = 0) flag nothing") {
    val ev = ((1L to 9L).map(i => (i, "flat", 5.0)) :+ ((10L, "flat", 500.0)))
      .toDF("event_id", "event_type", "value")
    // median 5, deviations all 0 except one → MAD = 0 → no flags at all
    assert(Robust.madOutliersOf(ev).count() == 0)
  }

  test("mad outliers: a gross outlier is flagged with the right sign") {
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 1000.0)
    val ev = vals.zipWithIndex.map { case (v, i) => (i.toLong, "t", v) }
      .toDF("event_id", "event_type", "value")
    val out = Robust.madOutliersOf(ev).collect()
    // median 5.5, MAD 2.5: only 1000.0 exceeds 3·1.4826·2.5 ≈ 11.12
    assert(out.map(_.getLong(0)).toSeq == Seq(9L))
    assert(out.head.getAs[Double]("robust_z") > 0)
  }

  test("value deciles: counts partition the group and bounds nest") {
    val orders = (1L to 100L).map(i => (i, "P1", i.toDouble))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val out = Robust.valueDecilesOf(orders).collect()
    assert(out.length == 10)
    assert(out.map(_.getAs[Long]("n")).sum == 100L)
    // deciles ordered → lo/hi ranges are non-overlapping and increasing
    val his = out.map(_.getAs[Double]("hi"))
    assert(his.toSeq == his.sorted.toSeq)
    assert(out.head.getAs[Double]("lo") == 1.0 && out.last.getAs[Double]("hi") == 100.0)
  }

  test("winsorize: tails clip to the rounded bounds and the mean moves inward") {
    val orders = ((1L to 98L).map(i => (i, "P1", 50.0)) ++
      Seq((99L, "P1", 0.0), (100L, "P1", 10000.0)))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val r = Robust.winsorizeOf(orders).collect().head
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Long]("n_clipped_lo") == 1L)
    assert(r.getAs[Long]("n_clipped_hi") == 1L)
    val avg = r.getAs[Double]("avg_clipped")
    assert(avg >= r.getAs[Double]("lo") && avg <= r.getAs[Double]("hi"))
    assert(math.abs(avg - 50.0) < 1.0) // clipping kills the 10000 pull
  }

  test("profile: null counts and distinct counts disagree correctly") {
    val df = Seq(
      (Some(1L), "a"), (Some(1L), "b"), (None, "b"), (Some(3L), "c"))
      .toDF("k", "s")
    val out = Robust.profileColumnsOf(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("k") == ((4L, 1L, 2L))) // distinct excludes the null
    assert(out("s") == ((4L, 0L, 3L)))
  }

  test("rolling median: trailing frame interpolates evens, a gap shrinks the frame") {
    import org.apache.spark.sql.functions._
    val ev = Seq(
      ("click", "2024-01-01 12:00:00", 10.0),
      ("click", "2024-01-02 12:00:00", 30.0),
      ("click", "2024-01-03 12:00:00", 20.0),
      ("click", "2024-01-12 12:00:00", 99.0)) // 9 days later: alone in its frame
      .toDF("event_type", "s", "value")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"), col("value"))
    val out = Robust.rollingMedianOf(ev).collect()
      .map(r => r.getDate(1).toString -> r.getDouble(3)).toMap
    assert(out("2024-01-01") == 10.0)
    assert(out("2024-01-02") == 20.0, "two-value frame interpolates to the midpoint")
    assert(out("2024-01-03") == 20.0)
    assert(out("2024-01-12") == 99.0,
      "a RANGE frame is calendar-bounded — it must not slide over 7 ROWS of arbitrary age")
  }

  test("distribution drift: identical periods score 0, a full shift scores 1") {
    import org.apache.spark.sql.functions._
    def ev(rows: (String, String, Double)*) =
      rows.toDF("event_type", "s", "value")
        .select(col("event_type"), to_timestamp(col("s")).as("ts"), col("value"))
    // 'same': both periods uniform over {1, 10}; 'moved': disjoint ranges
    val out = Robust.distributionDriftOf(ev(
      ("same", "2024-01-10 00:00:00", 1.0), ("same", "2024-01-10 00:00:00", 10.0),
      ("same", "2024-01-20 00:00:00", 1.0), ("same", "2024-01-20 00:00:00", 10.0),
      ("moved", "2024-01-10 00:00:00", 1.0), ("moved", "2024-01-10 00:00:00", 2.0),
      ("moved", "2024-01-20 00:00:00", 99.0), ("moved", "2024-01-20 00:00:00", 100.0)),
      "2024-01-16").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("same") == ((2L, 2L, 0.0)))
    assert(out("moved") == ((2L, 2L, 1.0)),
      "disjoint supports have total-variation distance exactly 1")
  }

  test("distribution drift excludes a group empty in either period") {
    import org.apache.spark.sql.functions._
    val ev = Seq(
      ("only_p", "2024-01-10 00:00:00", 1.0),
      ("both", "2024-01-10 00:00:00", 1.0), ("both", "2024-01-20 00:00:00", 1.0))
      .toDF("event_type", "s", "value")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"), col("value"))
    val types = Robust.distributionDriftOf(ev, "2024-01-16").collect()
      .map(_.getString(0)).toSet
    assert(types == Set("both"),
      "TVD against an empty period is undefined and must not surface as NaN")
  }

  test("bootstrap CI collapses to the point for constant data, brackets otherwise") {
    import org.apache.spark.sql.functions._
    val ev = ((1L to 40L).map(i => (i, "flat", 7.0)) ++
      (41L to 120L).map(i => (i, "varied", (i % 10).toDouble)))
      .toDF("event_id", "event_type", "value")
    val out = Robust.bootstrapCiOf(ev).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (nf, mf, lof, hif) = out("flat")
    assert(nf == 81L && mf == 7.0 && lof == 7.0 && hif == 7.0,
      "resampling constant values must give a zero-width interval at the constant")
    val (_, mv, lov, hiv) = out("varied")
    assert(lov <= mv && mv <= hiv && lov < hiv,
      "a varied group gets a proper bracket around the bootstrap median")
  }

  test("rolling median resists a spike that would drag an EWMA") {
    import org.apache.spark.sql.functions._
    val days = (1 to 5).map(d => ("click", f"2024-01-0$d%d 12:00:00", 10.0))
    val spiked = days :+ (("click", "2024-01-06 12:00:00", 1000.0))
    val ev = spiked.toDF("event_type", "s", "value")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"), col("value"))
    val out = Robust.rollingMedianOf(ev).collect()
      .map(r => r.getDate(1).toString -> r.getDouble(3)).toMap
    assert(out("2024-01-06") == 10.0, "one spiked day in six leaves the median at the mode")
  }

  test("theil-sen slope shrugs off the outlier day a mean fit would chase") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // 'click': perfect +2/day line with one wrecked day (500 on day 3);
    // most pairwise slopes stay 2.0, so the MEDIAN stays 2.0.
    // 'view': flat 7 every day → slope 0, direction 0.
    val rows = (1 to 7).flatMap { d =>
      val v = if (d == 3) 500.0 else 2.0 * d
      Seq(("click", f"2024-01-0$d 12:00:00", v), ("view", f"2024-01-0$d 12:00:00", 7.0))
    }
    val ev = rows.toDF("event_type", "s", "value")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"), col("value"))
    val out = Robust.theilSenTrendOf(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getInt(3))).toMap
    assert(out("click")._1 == 21L) // C(7,2) pairs
    assert(out("click")._2 == 2.0 && out("click")._3 == 1,
      s"median slope must ignore the day-3 spike: ${out("click")}")
    assert(out("view") == ((21L, 0.0, 0)))
  }

  test("robust scaler centers on the median and spreads by IQR, NULL on degenerate groups") {
    import spark.implicits._
    val orders = (Seq((1L, "P1", 0.0), (2L, "P1", 10.0), (3L, "P1", 20.0),
      (4L, "P1", 30.0), (5L, "P1", 40.0),
      (6L, "P2", 7.0), (7L, "P2", 7.0)))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val out = graft.operators.Robust.robustScalerOf(orders).collect()
      .map(r => r.getLong(0) -> Option(r.get(5)).map(_.asInstanceOf[Double])).toMap
    // P1: med 20, IQR 30-10 = 20 → 0 scales to -1, 40 to +1
    assert(out(1L) == Some(-1.0) && out(5L) == Some(1.0) && out(3L) == Some(0.0))
    // P2 constant → IQR 0 → NULL, never ±infinity
    assert(out(6L).isEmpty && out(7L).isEmpty)
  }

  test("weighted median follows the revenue mass, not the row count") {
    import spark.implicits._
    // 9 events of 1.0 (9 units) vs one of 100.0: the count-median is 1
    // but over half the MASS sits in the single whale → median 100.
    val ev = ((1 to 9).map(i => (i.toLong, "click", 1.0)) :+ (10L, "click", 100.0))
      .toDF("event_id", "event_type", "value")
    val out = graft.operators.Robust.weightedMedianOf(ev).collect()
    assert(out.length == 1)
    assert(out.head.getDouble(1) == 100.0, s"got ${out.head}")
    assert(out.head.getDouble(2) == 109.0)
    // exact half: cum(1+2+3) = 6 of 12 → 2·cum = total fires AT the 3
    // (the LOWER weighted median, the documented crossing rule)
    val even = Seq((1L, "v", 1.0), (2L, "v", 2.0), (3L, "v", 3.0), (4L, "v", 6.0))
      .toDF("event_id", "event_type", "value")
    assert(graft.operators.Robust.weightedMedianOf(even)
      .collect().head.getDouble(1) == 3.0,
      "2·cum >= total is first satisfied at the 3-unit event")
  }

  test("corr matrix: perfect linear coupling reads 1, zero variance reads NULL") {
    // p = 10000q exactly on the cent grid; d constant -> NULL r.
    val li = Seq((1.0, 100.0, 0.05), (2.0, 200.0, 0.05), (3.0, 300.0, 0.05))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
    val out = Robust.corrMatrixOf(li).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(("l_quantity", "l_extendedprice")).contains(1.0))
    assert(out(("l_quantity", "l_discount")).isEmpty,
      "zero-variance discount: 0/0 -> NULL, not 0")
    assert(out(("l_extendedprice", "l_discount")).isEmpty)
  }

  test("corr matrix: anti-correlation is exactly -1 and n rides every row") {
    val li = Seq((1.0, 300.0, 0.01), (2.0, 200.0, 0.02), (3.0, 100.0, 0.03))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
    val rows = Robust.corrMatrixOf(li).collect()
    assert(rows.forall(_.getLong(2) == 3L))
    val out = rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out(("l_quantity", "l_extendedprice")) == -1.0)
    assert(out(("l_quantity", "l_discount")) == 1.0)
    assert(out(("l_extendedprice", "l_discount")) == -1.0)
  }

  test("ks test: disjoint periods read D=1 drifted; identical periods read 0") {
    import java.sql.Timestamp
    def ev(t: String, day: Int, v: Double) =
      (t, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), v)
    // type A: period a all at value 1, period b all at 9 -> D = 1.
    // type B: same values both periods -> D = 0.
    val events = (1 to 10).map(i => ev("A", 5, 1.0)) ++
      (1 to 10).map(i => ev("A", 20, 9.0)) ++
      (1 to 10).map(i => ev("B", 5, i.toDouble)) ++
      (1 to 10).map(i => ev("B", 20, i.toDouble))
    val out = graft.operators.Robust.ksTestOf(events.toDF("event_type", "ts", "value"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(5))).toMap
    assert(out("A") == ((10L, 10L, 1.0, true)), s"full separation: $out")
    assert(out("B")._3 == 0.0 && !out("B")._4, "identical CDFs never drift")
  }

  test("rolling corr: coupled series read 1 after warmup, partial windows read NULL") {
    import java.sql.Timestamp
    // 8 days; clicks ramp 1..8 and purchases = 2x clicks (r = 1).
    val events = (1 to 8).flatMap { d =>
      val t = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
      Seq.fill(d)(("click", t)) ++ Seq.fill(2 * d)(("purchase", t))
    }
    val out = graft.operators.Robust.rollingCorrOf(events.toDF("event_type", "ts"))
      .collect()
    assert(out.length == 8)
    assert(out.take(6).forall(_.isNullAt(3)), "days 1-6: partial window -> NULL")
    assert(out(6).getDouble(3) == 1.0 && out(7).getDouble(3) == 1.0,
      s"perfect coupling: ${out.toSeq}")
  }

  test("kendall: perfect agreement ±1, balanced ties read 0, constant column reads NULL") {
    import spark.implicits._
    def li(rows: Seq[(Double, Double, Double)]) =
      rows.toDF("l_quantity", "l_discount", "l_tax")
    // q and d rise together (τ = 1); t falls as both rise (τ = −1).
    val mono = graft.operators.Robust.kendallMatrixOf(
      li((1 to 5).map(i => (i.toDouble, 0.01 * i, 0.01 * (6 - i)))))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(mono(("l_quantity", "l_discount")) == Some(1.0), s"$mono")
    assert(mono(("l_quantity", "l_tax")) == Some(-1.0))
    assert(mono(("l_discount", "l_tax")) == Some(-1.0))
    // the 2×2 balanced grid: one concordant pair, one discordant,
    // four tie pairs → τ-b = 0 exactly (C−D = 0, denominator 4)
    val grid = graft.operators.Robust.kendallMatrixOf(
      li(Seq((1.0, 0.01, 0.0), (1.0, 0.02, 0.0),
             (2.0, 0.01, 0.0), (2.0, 0.02, 0.0)))).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(grid(("l_quantity", "l_discount")) == Some(0.0), s"$grid")
    // constant tax: every pair tied in t → n0·2 = n2·2 → NULL τ
    assert(grid(("l_quantity", "l_tax")).isEmpty)
    assert(grid(("l_discount", "l_tax")).isEmpty)
    // concordant/discordant mass is exact: 2×2 grid has C = D = 1
    val cd = graft.operators.Robust.kendallMatrixOf(
      li(Seq((1.0, 0.01, 0.0), (1.0, 0.02, 0.0),
             (2.0, 0.01, 0.0), (2.0, 0.02, 0.0)))).collect()
      .filter(r => r.getString(0) == "l_quantity" &&
        r.getString(1) == "l_discount").head
    // BIGINT at the output edge since round 14 (the decimal fetch
    // gamble the driver kept losing) — the mass is still exact
    assert(cd.getLong(3) == 1L && cd.getLong(4) == 1L, s"C/D mass: $cd")
  }

  test("spearman: monotone nonlinear reads ±1 exactly; zero-variance column reads NULL") {
    import spark.implicits._
    // p = q³ is monotone-but-nonlinear (Pearson < 1, Spearman = 1);
    // d decreases strictly with q (ρ = −1 both against q and p).
    val li = (1 to 10).map(q =>
        (q.toDouble, (q * q * q).toDouble, (11 - q) / 100.0))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
    val out = graft.operators.Robust.spearmanMatrixOf(li).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out(("l_quantity", "l_extendedprice")) == 1.0, s"got $out")
    assert(out(("l_quantity", "l_discount")) == -1.0)
    assert(out(("l_extendedprice", "l_discount")) == -1.0)
    // constant discount: zero rank variance -> NULL rho for its pairs
    val flat = (1 to 10).map(q => (q.toDouble, q.toDouble, 0.05))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
    val o2 = graft.operators.Robust.spearmanMatrixOf(flat).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(o2(("l_quantity", "l_extendedprice")) == Some(1.0))
    assert(o2(("l_quantity", "l_discount")).isEmpty)
    assert(o2(("l_extendedprice", "l_discount")).isEmpty)
  }

  test("cliffs delta: full separation reads ±1 large, pure ties read 0 negligible") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def arm(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$u".getBytes("UTF-8"))
      (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)) % 2
    }
    val users = (1L to 60L).toSeq
    val a0 = users.filter(arm(_) == 0L).take(2)
    val a1 = users.filter(arm(_) == 1L).take(2)
    // treat strictly above control: every cross pair concordant → δ=1
    val ev = (a0.map((_, 1.0)) ++ a1.map((_, 9.0)))
      .toDF("user_id", "value").withColumn("event_type", lit("t"))
    val Array(r) = graft.operators.Robust.cliffsDeltaOf(ev).collect()
    assert(r.getDouble(3) == 1.0 && r.getString(4) == "large", s"$r")
    // all tied: u2 = n0·n1 exactly → δ = 0, negligible
    val tied = (a0 ++ a1).map((_, 5.0))
      .toDF("user_id", "value").withColumn("event_type", lit("t"))
    val Array(t) = graft.operators.Robust.cliffsDeltaOf(tied).collect()
    assert(t.getDouble(3) == 0.0 && t.getString(4) == "negligible", s"$t")
  }

  test("mann-whitney: hand-checked U on a 2-vs-1 split; all-tied reads auc 0.5 and NULL z") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Recompute the operator's arm assignment so the test controls
    // which side each planted value lands on.
    def arm(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$u".getBytes("UTF-8"))
      (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)) % 2
    }
    val users = (1L to 60L).toSeq
    val a0 = users.filter(arm(_) == 0L).take(2)
    val a1 = users.filter(arm(_) == 1L).take(1)
    assert(a0.size == 2 && a1.size == 1, "need both arms among user ids 1-60")
    // arm0 values {1, 2}, arm1 value {3}: U1 = 2 of 2 pairs -> auc 1,
    // z = 1/sqrt(2/3) = 1.224745 (no ties -> tie term 0).
    val ev = Seq((a0(0), 1.0), (a0(1), 2.0), (a1(0), 3.0))
      .toDF("user_id", "value").withColumn("event_type", lit("t"))
    val Array(r) = graft.operators.Robust.mannWhitneyOf(ev).collect()
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 1.0, s"auc: $r")
    assert(r.getDouble(4) == 1.224745, s"z: $r")
    assert(!r.getBoolean(5))
    // every observation tied: auc is exactly 1/2, variance collapses
    val tied = (a0 ++ a1).map(u => (u, 5.0))
      .toDF("user_id", "value").withColumn("event_type", lit("t"))
    val Array(rt) = graft.operators.Robust.mannWhitneyOf(tied).collect()
    assert(rt.getDouble(3) == 0.5 && rt.isNullAt(4) && !rt.getBoolean(5), s"$rt")
  }

  test("jonckheere: hand-checked z on a planted monotone ladder, sign-symmetric on reversal") {
    def li(rows: (Double, Double)*): DataFrame =
      rows.toDF("l_discount", "l_quantity")
    // g0={1,1} g1={2,2} g2={3,3}: every cross pair concordant →
    // 2J=24, 2E=12; Var = 402/72 + 0 + 36/240 = 5.7333…
    // z = 12 / (2·√5.7333) = 2.5058
    val up = li((0.00, 1), (0.00, 1), (0.01, 2), (0.01, 2),
      (0.02, 3), (0.02, 3))
    val r = Robust.jonckheereTrendOf(up).collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 3L, s"n/groups: $r")
    assert(r.getDouble(2) == 24.0 && r.getDouble(3) == 12.0, s"2J/2E: $r")
    assert(r.getDouble(4) == 2.5058 && r.getBoolean(5), s"z: $r")
    // reversed ladder → same magnitude, negative
    val down = li((0.00, 3), (0.00, 3), (0.01, 2), (0.01, 2),
      (0.02, 1), (0.02, 1))
    val d = Robust.jonckheereTrendOf(down).collect().head
    assert(d.getDouble(4) == -2.5058 && d.getBoolean(5), s"z down: $d")
  }

  test("jonckheere: ties credit half and a single group nulls z") {
    // g0={1,2} g1={1,2}: 2U = 2·(#below) + #ties = 2·1 + 2 = 4 → 2J=4;
    // 2E = (16-8)/2 = 4 → z = 0 (exactly balanced under ties)
    val tied = Seq((0.00, 1.0), (0.00, 2.0), (0.01, 1.0), (0.01, 2.0))
      .toDF("l_discount", "l_quantity")
    val t = Robust.jonckheereTrendOf(tied).collect().head
    assert(t.getDouble(2) == 4.0 && t.getDouble(3) == 4.0, s"2J/2E: $t")
    assert(t.getDouble(4) == 0.0 && !t.getBoolean(5), s"z: $t")
    // one group: no pairs, zero variance → z NULL, trending false
    val one = Seq((0.00, 1.0), (0.00, 2.0)).toDF("l_discount", "l_quantity")
    val o = Robust.jonckheereTrendOf(one).collect().head
    assert(o.getDouble(2) == 0.0 && o.isNullAt(4) && !o.getBoolean(5),
      s"single group: $o")
  }

  test("friedman: perfect concordance reads b(k-1), midranks exact, full ties null") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    def df(rows: Seq[(String, String, Double)]) =
      rows.toDF("t", "event_type", "value")
        .select(to_timestamp(col("t")).as("ts"), col("event_type"),
          col("value"))
    def ev(day: Int, t: String, v: Double) =
      (f"2024-01-$day%02d 10:00:00", t, v)
    // two identically-ordered blocks, k=3: Q maxes at b(k−1) = 4
    val conc = df(Seq(ev(1, "a", 1), ev(1, "b", 2), ev(1, "c", 3),
      ev(2, "a", 1), ev(2, "b", 2), ev(2, "c", 3)))
    val r = Robust.friedmanTestOf(conc).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 3L, s"b/k: $r")
    assert(r.getDouble(2) == 4.0 && !r.getBoolean(3), s"q: $r")
    // within-day tie (a=b): midrank 1.5 doubled → same max Q via the
    // ties-corrected denominator (a4 108 − C4 96 = 12, devsq 24)
    val mid = df(Seq(ev(1, "a", 5), ev(1, "b", 5), ev(1, "c", 9),
      ev(2, "a", 5), ev(2, "b", 5), ev(2, "c", 9)))
    val m = Robust.friedmanTestOf(mid).collect().head
    assert(m.getDouble(2) == 4.0 && !m.getBoolean(3), s"midrank q: $m")
    // every block fully tied → zero denominator → NULL, not significant
    val flat = df(Seq(ev(1, "a", 7), ev(1, "b", 7), ev(1, "c", 7),
      ev(2, "a", 7), ev(2, "b", 7), ev(2, "c", 7)))
    val f = Robust.friedmanTestOf(flat).collect().head
    assert(f.isNullAt(2) && !f.getBoolean(3), s"tied: $f")
    // Kendall's W: concordance maxes at exactly 1.0 (Q = b(k−1));
    // the tied corpus reads undefined
    val kw = Robust.kendallWOf(conc).collect().head
    assert(kw.getDouble(2) == 1.0 && kw.getString(3) == "strong", s"$kw")
    val kt = Robust.kendallWOf(flat).collect().head
    assert(kt.isNullAt(2) && kt.getString(3) == "undefined", s"$kt")
  }

  test("yuen: hand-checked trimmed t, whale-immune by construction, short arms drop") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val pool = (0L until 200L)
    val armOf = pool.toDF("user_id")
      .select(col("user_id"),
        graft.operators.Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a0 = pool.filter(armOf(_) == 0L).take(10)
    val a1 = pool.filter(armOf(_) == 1L).take(10)
    def df(v0: Seq[Double], v1: Seq[Double]) =
      (a0.zip(v0) ++ a1.zip(v1)).map { case (u, v) => (u, "t", v) }
        .toDF("user_id", "event_type", "value")
    // arm0 = 0..9, arm1 = 10..19: g=2, trim keeps 2..7 / 12..17 →
    // tmeans 4.5 / 14.5, d = 42.5/30 each, df = 10 exactly
    val base = df((0 to 9).map(_.toDouble), (10 to 19).map(_.toDouble))
    val r = Robust.yuenTestOf(base).collect().head
    assert(r.getDouble(3) == 4.5 && r.getDouble(4) == 14.5, s"tmeans: $r")
    assert(r.getDouble(5) < -5.9 && r.getBoolean(7), s"t: $r")
    assert(r.getDouble(6) == 10.0, s"df: $r")
    // a 9e9 whale replacing arm0's max lands OUTSIDE the trim window:
    // every published number must be bit-identical (Welch would explode)
    val whale = df((0 to 8).map(_.toDouble) :+ 9e9,
      (10 to 19).map(_.toDouble))
    val w = Robust.yuenTestOf(whale).collect().head
    assert(w.getDouble(3) == r.getDouble(3) && w.getDouble(5) == r.getDouble(5)
      && w.getDouble(6) == r.getDouble(6), s"whale moved the stats: $w vs $r")
    // one-value arm → h = 1 → the type drops entirely
    val short = (Seq((a0.head, "s", 1.0), (a1.head, "s", 2.0),
      (a1(1), "s", 3.0))).toDF("user_id", "event_type", "value")
    assert(Robust.yuenTestOf(short).count() == 0)
  }

  test("overdispersion: bursty days flag over, clockwork days under, single day drops") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    def ev(rows: Seq[(String, Int)]) = rows.zipWithIndex
      .map { case ((t, day), i) =>
        (i.toLong, t, f"2024-01-$day%02d 10:00:00") }
      .toDF("user_id", "event_type", "s")
      .select(col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"))
    // bursty: [16,1,1,1,1] → mean 4, I = 45/4 = 11.25,
    // z = √90 − √7 = 6.8411 → overdispersed
    // clockwork: 2/day × 5 days → I = 0 → z = −√7 → underdispersed
    // lonely: one day only → dropped
    val rows = Seq.fill(16)(("bursty", 1)) ++
      (2 to 5).map(d => ("bursty", d)) ++
      (1 to 5).flatMap(d => Seq(("clockwork", d), ("clockwork", d))) ++
      Seq(("lonely", 1))
    val out = Robust.overdispersionCheckOf(ev(rows)).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3), r.getDouble(4), r.getString(5)))
      .toMap
    assert(!out.contains("lonely"), s"single-day series must drop: $out")
    assert(out("bursty") == ((5L, 11.25, 6.8411, "overdispersed")), s"$out")
    val (t, disp, z, v) = out("clockwork")
    assert(t == 5L && disp == 0.0 && v == "underdispersed", s"$out")
    assert(z == -2.6458, s"z = -sqrt(7): $out")
  }

  test("kruskal-wallis: hand-checked H on a 2-2-2 split; all-tied nulls H via the tie correction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def arm(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$u".getBytes("UTF-8"))
      (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)) % 3
    }
    val users = (1L to 90L).toSeq
    val a0 = users.filter(arm(_) == 0L).take(2)
    val a1 = users.filter(arm(_) == 1L).take(2)
    val a2 = users.filter(arm(_) == 2L).take(2)
    assert(a0.size == 2 && a1.size == 2 && a2.size == 2,
      "need all three arms among user ids 1-90")
    // arm values {1,2} / {3,4} / {5,6}: ranks 1..6 → R = 3/7/11 →
    // H = 12/(6·7)·(9/2 + 49/2 + 121/2) − 3·7 = 4.571429; no ties so
    // the correction is exactly 1.
    val ev = Seq((a0(0), 1.0), (a0(1), 2.0), (a1(0), 3.0),
        (a1(1), 4.0), (a2(0), 5.0), (a2(1), 6.0))
      .toDF("user_id", "value").withColumn("event_type", lit("t"))
    val Array(r) = graft.operators.Robust.kruskalWallisOf(ev).collect()
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L && r.getLong(3) == 2L)
    assert(r.getDouble(4) == 4.571429, s"h: $r")
    assert(!r.getBoolean(5), "4.57 < 5.9915")
    // every observation tied: Σ(t³−t) = N³−N, correction 0 → NULL H
    val tied = (a0 ++ a1 ++ a2).map((_, 5.0))
      .toDF("user_id", "value").withColumn("event_type", lit("t"))
    val Array(t) = graft.operators.Robust.kruskalWallisOf(tied).collect()
    assert(t.isNullAt(4) && !t.getBoolean(5), s"$t")
  }

  test("discount elasticity: a perfect discount-quantity line reads 1, flat reads NULL, thin types drop") {
    import spark.implicits._
    // type ELASTIC: quantity tracks discount exactly (r = 1);
    // type FLAT: constant quantity (zero variance -> NULL);
    // type THIN: 5 items < minItems -> dropped.
    val li = ((1 to 40).map(i => (1L, i / 1000.0, i.toDouble)) ++
      (1 to 40).map(i => (2L, i / 1000.0, 7.0)) ++
      (1 to 5).map(i => (3L, i / 1000.0, i.toDouble)))
      .toDF("l_partkey", "l_discount", "l_quantity")
    val part = Seq((1L, "ELASTIC"), (2L, "FLAT"), (3L, "THIN"))
      .toDF("p_partkey", "p_type")
    val out = graft.operators.Robust.discountElasticityOf(li, part).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(out.keySet == Set("ELASTIC", "FLAT"), s"got $out")
    assert(out("ELASTIC") == ((40L, Some(1.0))))
    assert(out("FLAT") == ((40L, None)))
  }

  test("median CI: order-statistic ranks on a planted 1..100 grid; tiny groups clamp to the extremes") {
    import spark.implicits._
    // type a: cents 1..100 → n=100, z√n = 19.59964 →
    // k_lo = ⌊80.40036/2⌋ = 40, k_med = 50, k_hi = ⌈119.59964/2+1⌉ = 61
    val rows = (1 to 100).map(i => ("a", i / 100.0)) ++
      Seq(("b", 0.10), ("b", 0.20))
    val ev = rows.zipWithIndex.map { case ((t, v), i) => (i.toLong, t, v) }
      .toDF("event_id", "event_type", "value")
      .select($"event_type", $"value")
    val got = Robust.medianCiOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val kHi = math.ceil((100.0 + 1.959964 * 10.0) / 2.0 + 1.0).toLong
    assert(got("a") == ((100L, 50L, 40L, kHi)), s"a: ${got("a")} (k_hi=$kHi)")
    // n=2: k_lo clamps to 1, k_hi clamps to n → the full range
    assert(got("b") == ((2L, 10L, 10L, 20L)), s"b: ${got("b")}")
  }

  test("hodges-lehmann: hand Walsh medians, exact half-cent flag") {
    import spark.implicits._
    // type a: daily cents 10/20/40 → Walsh sums 20,30,40,50,60,80 →
    // k = 3 → 40 → HL 20c. type b: 10/21 → sums 20,31,42 → k = 2 →
    // 31 → HL 15c + the half flag.
    val rows = Seq(
      ("a", "2024-01-01 10:00:00", 0.10), ("a", "2024-01-02 10:00:00", 0.20),
      ("a", "2024-01-03 10:00:00", 0.40),
      ("b", "2024-01-01 10:00:00", 0.10), ("b", "2024-01-02 10:00:00", 0.21),
      // refund-negative series: sums −20,−31,−42 → median −31 →
      // trunc(−31/2) = −15, |−31| odd → half flag set
      ("c", "2024-01-01 10:00:00", -0.10), ("c", "2024-01-02 10:00:00", -0.21))
    val ev = rows.toDF("event_type", "s", "value")
      .select($"event_type", org.apache.spark.sql.functions.to_timestamp($"s").as("ts"), $"value")
    val got = Robust.hodgesLehmannOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got("a") == ((3L, 6L, 20L, false)), s"a: ${got("a")}")
    assert(got("b") == ((2L, 3L, 15L, true)), s"b: ${got("b")}")
    assert(got("c") == ((2L, 3L, -15L, true)), s"c: ${got("c")}")
  }

  test("revenue var: rank clamps to 1 on short series; cvar averages the exact tail") {
    import spark.implicits._
    // type a: 10 days, cents 10..100 → k = max(1, 0) = 1 → VaR = 10,
    // CVaR = 10. type b: 40 days, cents 1..40 → k = 2 → VaR = 2,
    // CVaR = (1+2) div 2 = 1.
    val rows = (1 to 10).map(i => ("a", f"2024-01-$i%02d 10:00:00", i / 10.0)) ++
      (1 to 40).map(i => ("b", f"2024-${1 + (i - 1) / 28}%02d-${1 + (i - 1) % 28}%02d 10:00:00", i / 100.0))
    val ev = rows.toDF("event_type", "s", "value")
      .select($"event_type", org.apache.spark.sql.functions.to_timestamp($"s").as("ts"), $"value")
    val got = Robust.revenueVarOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((10L, 10L, 10L)), s"a: ${got("a")}")
    assert(got("b") == ((40L, 2L, 1L)), s"b: ${got("b")}")
  }

  test("wasserstein: a pure location shift prices exactly its distance; identical periods read 0") {
    import org.apache.spark.sql.functions._
    def ev(rows: (String, String, Double)*) =
      rows.toDF("event_type", "s", "value")
        .select(col("event_type"), to_timestamp(col("s")).as("ts"),
          col("value"))
    // 'shift': period A uniform {1, 2}, period B uniform {4, 5} — a
    // +3.0 translation, so W1 = 3.0 exactly (KS reads 1.0 for ANY
    // disjoint shift; W1 prices the distance). 'same': identical.
    val out = Robust.wassersteinDriftOf(ev(
      ("shift", "2024-01-10 00:00:00", 1.0), ("shift", "2024-01-10 00:00:00", 2.0),
      ("shift", "2024-01-20 00:00:00", 4.0), ("shift", "2024-01-20 00:00:00", 5.0),
      ("same", "2024-01-10 00:00:00", 1.0), ("same", "2024-01-10 00:00:00", 9.0),
      ("same", "2024-01-20 00:00:00", 1.0), ("same", "2024-01-20 00:00:00", 9.0)),
      "2024-01-16").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out == Map("shift" -> 3.0, "same" -> 0.0), s"got $out")
  }

  test("runs test: a perfectly alternating series over-runs; a two-block series under-runs") {
    import org.apache.spark.sql.functions._
    def ev(rows: (String, String, Double)*) =
      rows.toDF("event_type", "s", "value")
        .select(col("event_type"), to_timestamp(col("s")).as("ts"),
          col("value"))
    // nine days with values {1, 5, 9}: the lone 5-day IS the lower
    // median and drops (tie convention), leaving 4 below / 4 above.
    // alt orders them −+−+−+−+ (8 runs, maximal); block −−−−++++
    // (2 runs, minimal).
    val altDays = Seq(5.0, 1.0, 9.0, 1.0, 9.0, 1.0, 9.0, 1.0, 9.0)
    val blockDays = Seq(5.0, 1.0, 1.0, 1.0, 1.0, 9.0, 9.0, 9.0, 9.0)
    val rows =
      altDays.zipWithIndex.map { case (v, i) =>
        ("alt", f"2024-01-${i + 1}%02d 10:00:00", v) } ++
      blockDays.zipWithIndex.map { case (v, i) =>
        ("block", f"2024-01-${i + 1}%02d 10:00:00", v) }
    val out = Robust.runsTestOf(ev(rows: _*)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    // E[R] = 1 + 32/8 = 5; Var = 32·24/(64·7)
    assert(out("alt") == ((4L, 4L, 8L,
      math.floor((8.0 - 5.0) / math.sqrt(32.0 * 24.0 / (64.0 * 7.0))
        * 1e4 + 0.5) / 1e4)), s"got $out")
    assert(out("block")._3 == 2L &&
      out("block")._4 < 0, s"two blocks must under-run: $out")
  }

  test("seasonal mann-kendall: a pure weekly sawtooth nulls, within-weekday drift scores exactly") {
    import org.apache.spark.sql.functions._
    def ev(rows: (String, String, Double)*) =
      rows.toDF("event_type", "s", "value")
        .select(col("event_type"), to_timestamp(col("s")).as("ts"),
          col("value"))
    // saw: value repeats per weekday over 2 weeks → every in-stratum
    //   pair TIES → S = 0 AND the tie correction cancels the whole
    //   variance → z null (plain MK would see 91 mixed-sign pairs).
    // drift: +1 per week inside every stratum → S = 7, per-stratum
    //   18·Var = 2·1·9, summed 126 → z = 6/sqrt(126/18).
    val rows = (0 until 14).flatMap { i =>
      val d = f"2024-01-${i + 1}%02d 10:00:00"
      Seq(("saw", d, (i % 7).toDouble),
        ("drift", d, (i % 7) * 10.0 + (i / 7).toDouble))
    }
    val out = Robust.seasonalMkOf(ev(rows: _*)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)),
        if (r.isNullAt(5)) null
        else java.lang.Boolean.valueOf(r.getBoolean(5))))).toMap
    val z = math.floor(6.0 / math.sqrt(126.0 / 18.0) * 1e4 + 0.5) / 1e4
    assert(out("saw") == ((14L, 7L, 0L, null, null)), s"got $out")
    assert(out("drift") == ((14L, 7L, 7L, z, true)), s"got $out")
  }

  test("mann-kendall: a strictly rising series scores the textbook z; a flat one nulls") {
    import org.apache.spark.sql.functions._
    def ev(rows: (String, String, Double)*) =
      rows.toDF("event_type", "s", "value")
        .select(col("event_type"), to_timestamp(col("s")).as("ts"),
          col("value"))
    val rows =
      (1 to 5).map(d => ("up", f"2024-01-$d%02d 10:00:00", d.toDouble)) ++
        (1 to 5).map(d => ("flat", f"2024-01-$d%02d 10:00:00", 7.0))
    val out = Robust.mannKendallOf(ev(rows: _*)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)),
        if (r.isNullAt(4)) null
        else java.lang.Boolean.valueOf(r.getBoolean(4))))).toMap
    // up: S = C(5,2) = 10, no ties → 18·Var = 5·4·15 = 300,
    // z = 9/sqrt(300/18); trending at |z| > 1.96
    val z = math.floor(9.0 / math.sqrt(300.0 / 18.0) * 1e4 + 0.5) / 1e4
    assert(out("up") == ((5L, 10L, z, true)), s"got $out")
    // flat: S = 0 and the single 5-way tie cancels the whole
    // variance polynomial → z undefined, never 0
    assert(out("flat") == ((5L, 0L, null, null)), s"got $out")
  }

  // ---- drift, randomness and trend tests on tiny hand-built series:
  // hand-computed values, or the documented degradation (no row, NULL
  // readout) on degenerate input — never an exception

  private def valued(rows: (String, String, Double)*): DataFrame =
    rows.zipWithIndex.map { case ((et, t, v), i) =>
      (i.toLong, i.toLong, et, t, v)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))

  test("wasserstein: W1({1,2},{2,3}) = 1.0 exactly; one-sided types drop; identical = 0") {
    val ev = valued(
      ("click", "2024-01-10 10:00:00", 1.0), ("click", "2024-01-10 11:00:00", 2.0),
      ("click", "2024-01-20 10:00:00", 2.0), ("click", "2024-01-20 11:00:00", 3.0),
      ("view", "2024-01-10 10:00:00", 5.0), // period A only → dropped
      ("buy", "2024-01-10 10:00:00", 7.0), ("buy", "2024-01-20 10:00:00", 7.0))
    val out = Robust.wassersteinDriftOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set("click", "buy"),
      s"a type with an empty side has no drift to price: $out")
    assert(out("click") == ((2L, 2L, 1.0)), s"unit shift of every point: $out")
    assert(out("buy") == ((1L, 1L, 0.0)), s"identical distributions: $out")
  }

  test("runs test: a series entirely AT its median drops every sign — no row, no crash") {
    val rows = (1 to 3).map(d => ("click", f"2024-01-0$d%d 10:00:00", 5.0))
    assert(Robust.runsTestOf(valued(rows: _*)).isEmpty)
  }

  test("runs test: a 2-day series nulls z (zero variance), never divides") {
    val ev = valued(("click", "2024-01-01 10:00:00", 1.0),
      ("click", "2024-01-02 10:00:00", 2.0))
    val r = Robust.runsTestOf(ev).collect().head
    assert(r.getLong(1) == 1L && r.getLong(2) == 0L && r.getLong(3) == 1L,
      s"one sign above the lower median, the median day drops: $r")
    assert(r.isNullAt(4) && r.isNullAt(5),
      s"z and the verdict must be NULL on a degenerate series: $r")
  }

  test("runs test: hand-computed z on a 6-day series with a median tie dropped") {
    // daily totals 1,3,2,3,1,3 → lower median 2 (dropped); signs
    // -,+,+,-,+ → runs 4, n+=3, n-=2, E=3.4, Var=0.84,
    // z = 0.6/sqrt(0.84) = 0.654654… → 0.6547 on the 1e-4 grid.
    val vals = Seq(1.0, 3.0, 2.0, 3.0, 1.0, 3.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      ("click", f"2024-01-0${i + 1}%d 10:00:00", v)
    }
    val r = Robust.runsTestOf(valued(rows: _*)).collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L && r.getLong(3) == 4L,
      s"n_pos/n_neg/runs: $r")
    assert(math.abs(r.getDouble(4) - 0.6547) < 1e-9, s"z: $r")
    assert(!r.getBoolean(5))
  }

  test("mann-kendall: a fully-tied series nulls z; a 1-day type drops its row") {
    val rows = (1 to 5).map(d => ("click", f"2024-01-0$d%d 10:00:00", 2.0)) :+
      (("view", "2024-01-03 10:00:00", 9.0)) // single day → no pair
    val out = Robust.mannKendallOf(valued(rows: _*)).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("click"),
      s"a 1-day series has no pair — the type drops, it doesn't NULL: $out")
    val c = out("click")
    assert(c.getLong(2) == 0L && c.isNullAt(3) && c.isNullAt(4),
      s"fully tied → S=0, variance 0, NULL z and verdict: $c")
  }

  test("seasonal mann-kendall: a one-week series has no same-weekday pair — row drops") {
    val rows = (1 to 7).map(d => ("click", f"2024-01-0$d%d 10:00:00", d.toDouble))
    assert(Robust.seasonalMkOf(valued(rows: _*)).isEmpty,
      "7 distinct weekdays, 1 day each: zero within-stratum pairs")
    // two weeks of a strictly rising series: every stratum has its
    // pair and the trend reads through the weekly cycle
    val rows2 = (1 to 14).map(d => ("click", f"2024-01-$d%02d 10:00:00", d.toDouble))
    val r = Robust.seasonalMkOf(valued(rows2: _*)).collect().head
    assert(r.getLong(1) == 14L && r.getLong(2) == 7L && r.getLong(3) == 7L,
      s"T=14, 7 strata, S = 7 concordant pairs: $r")
  }

  // ---- Dunn post-hoc: separation, ordering, and the all-tied null ----

  private def armedEvents(n: Int): DataFrame = {
    // Resolve each user's md5 arm with the ENGINE's own assignment,
    // then plant fully separated values arm0 < arm1 < arm2.
    val arms = (1L to n.toLong).toDF("user_id")
      .select(col("user_id"), Behavior.arm3(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to n.toLong).map { u =>
      (u, u, "buy", "2024-01-01 00:00:00", 1.0 + arms(u).toDouble)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
  }

  test("dunn_posthoc: planted arm separation is significant with ordered mean ranks") {
    val out = Robust.dunnPosthocOf(armedEvents(60)).collect()
    assert(out.length == 3, "three pairs for one type")
    out.foreach { r =>
      val (a, b) = (r.getLong(1), r.getLong(2))
      val z = r.getDouble(7)
      assert(z < 0.0, s"arm $a ranks below arm $b on planted values: $r")
      assert(r.getBoolean(8), s"full separation must be significant: $r")
      assert(r.getDouble(5) < r.getDouble(6),
        s"mean_rank_a < mean_rank_b under planted ordering: $r")
    }
  }

  test("dunn_posthoc: an all-tied type nulls z and reads not significant") {
    val ev = (1L to 30L).map { u =>
      (u, u, "buy", "2024-01-01 00:00:00", 7.0)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val out = Robust.dunnPosthocOf(ev).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.isNullAt(7), s"tied variance must null z, not NaN: $r")
      assert(!r.getBoolean(8))
    }
  }

  // ---- Wilcoxon signed-rank: hand-computed doubled-rank pin ----

  test("wilcoxon_signed_rank: the hand-computed tie-corrected z pin, zero diffs dropped") {
    // Day diffs (cents): +10, -10, +20, +20, and one exact-zero day
    // (dropped). |d| grid: 10 (t=2, 1 positive), 20 (t=2, 2 positive)
    // → 2W+ = 1·3 + 2·7 = 17, n = 4, tcub = 12,
    // z = (17 − 10)/√(4·5·9/6 − 1) = 7/√29.
    val rows = Seq(
      ("2024-01-01", "purchase", 1.10), ("2024-01-01", "view", 1.00),
      ("2024-01-02", "purchase", 1.00), ("2024-01-02", "view", 1.10),
      ("2024-01-03", "purchase", 1.20), ("2024-01-03", "view", 1.00),
      ("2024-01-04", "purchase", 1.20), ("2024-01-04", "view", 1.00),
      ("2024-01-05", "purchase", 1.00), ("2024-01-05", "view", 1.00))
    val ev = rows.zipWithIndex.map { case ((d, et, v), i) =>
      (i.toLong, i.toLong, et, d + " 12:00:00", v)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val out = Robust.wilcoxonSignedRankOf(ev).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 4L, s"zero-diff day dropped: $r")
    assert(r.getLong(1) == 17L, s"doubled W+: $r")
    val z = math.floor(7.0 / math.sqrt(29.0) * 1e6 + 0.5) / 1e6
    assert(r.getDouble(2) == z, s"z = 7/sqrt(29): $r")
    assert(!r.getBoolean(3))
  }

  test("wilcoxon_signed_rank: an everywhere-tied pairing emits nothing") {
    val ev = Seq(
      (1L, 1L, "purchase", "2024-01-01 12:00:00", 2.0),
      (2L, 2L, "view", "2024-01-01 12:00:00", 2.0))
      .toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    assert(Robust.wilcoxonSignedRankOf(ev).collect().isEmpty)
  }

  // ---- sign test: hand-counted signs and the all-tie refusal ----

  private def pvEvents(rows: (String, Double, Double)*): DataFrame =
    // one purchase and one view row per day
    rows.flatMap { case (d, p, v) =>
      Seq((d, "purchase", p), (d, "view", v))
    }.zipWithIndex.map { case ((d, t, x), i) => (i.toLong, i.toLong, t, d, x) }
      .toDF("event_id", "user_id", "event_type", "d", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("d")).as("ts"), col("value"))

  test("sign_test: hand-counted signs, tie mass published, z = 2/sqrt(4)") {
    val e = pvEvents(
      ("2024-01-01 00:00:00", 2.0, 1.0),  // +
      ("2024-01-02 00:00:00", 3.0, 1.0),  // +
      ("2024-01-03 00:00:00", 4.0, 1.0),  // +
      ("2024-01-04 00:00:00", 1.0, 2.0),  // −
      ("2024-01-05 00:00:00", 5.0, 5.0))  // tie: dropped, counted
    val out = Robust.signTestOf(e).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 1.0, s"z = (3-1)/sqrt(4): $r")
    assert(!r.getBoolean(4))
  }

  test("sign_test: every day tying emits nothing") {
    val e = pvEvents(("2024-01-01 00:00:00", 2.0, 2.0),
      ("2024-01-02 00:00:00", 3.0, 3.0))
    assert(Robust.signTestOf(e).collect().isEmpty)
  }

  // ---- quantile lift, Mood's median, Cox-Stuart, median polish ----

  test("quantile_lift: planted arm values pin v0/v1/lift at every quantile") {
    val arms = (1L to 40L).toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = (1L to 40L).map { u =>
      (u, u, "buy", "2024-01-01 00:00:00", 1.0 + arms(u).toDouble)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val out = Robust.quantileLiftOf(ev).collect()
    assert(out.length == 4, s"p25/p50/p75/p90: ${out.mkString(";")}")
    val n0 = arms.values.count(_ == 0L).toLong
    out.foreach { r =>
      assert(r.getLong(2) == n0 && r.getLong(3) == 40L - n0, s"$r")
      assert(r.getLong(4) == 1000000L && r.getLong(5) == 2000000L, s"$r")
      assert(r.getLong(6) == 1000000L, s"constant unit lift: $r")
    }
  }

  test("quantile_lift: a type missing an arm drops instead of publishing a half-read") {
    val arms = (1L to 60L).toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val arm0 = (1L to 60L).filter(arms(_) == 0L).take(5)
    val ev = arm0.map { u =>
      (u, u, "buy", "2024-01-01 00:00:00", 1.0)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    assert(Robust.quantileLiftOf(ev).collect().isEmpty)
  }

  test("mood_median: planted arm separation is significant; all-equal type refuses") {
    // Resolve the engine's own arm assignment, plant arm-ordered
    // values for 'buy' and a constant for 'flat'.
    val arms = (1L to 90L).toDF("user_id")
      .select(col("user_id"), Behavior.arm3(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = (1L to 90L).flatMap { u =>
      Seq((u, u, "buy", "2024-01-01 00:00:00", 1.0 + arms(u) * 100.0),
        (u, u, "flat", "2024-01-01 00:00:00", 7.0))
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val out = Robust.moodMedianOf(e).collect()
      .map(r => r.getString(0) -> r).toMap
    val buy = out("buy")
    assert(buy.getLong(3) == 3L, s"three arms present: $buy")
    assert(!buy.isNullAt(4) && buy.getDouble(4) > 5.991465, s"chi2: $buy")
    assert(buy.getBoolean(5), s"full separation significant: $buy")
    val flat = out("flat")
    assert(flat.isNullAt(4) && flat.isNullAt(5),
      s"all-equal type refuses (atot = 0): $flat")
    assert(flat.getLong(2) == 700L, "median on the cent grid")
  }

  test("cox_stuart: a monotone series reads increasing; the odd middle drops; tied pair counted") {
    def days(vals: Double*) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, i.toLong, "buy", f"2024-01-${i + 1}%02d 00:00:00", v)
    }.toDF("event_id", "user_id", "event_type", "d", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("d")).as("ts"), col("value"))
    // 9 days strictly increasing: c = 5, middle (rn=5) drops, 4 pairs
    // all positive → z = 4/sqrt(4) = 2.0 > 1.959964
    val out = Robust.coxStuartOf(
      days(1, 2, 3, 4, 5, 6, 7, 8, 9)).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 0L && r.getLong(3) == 0L)
    assert(r.getDouble(4) == 2.0 && r.getString(5) == "increasing", s"$r")
    // one tied pair (day1 = day5 under c = 4, n = 8): dropped + counted
    val out2 = Robust.coxStuartOf(
      days(5, 2, 3, 4, 5, 6, 7, 8)).collect()(0)
    assert(out2.getLong(3) == 1L, s"tie mass published: $out2")
    assert(out2.getLong(1) == 3L && out2.getLong(2) == 0L, s"$out2")
  }

  test("median_polish: a planted whale stays in the residual, identity exact") {
    // 3 types × 3 weekdays (2024-01-01/02/03 → dow 4/5/6):
    //   a: 1 2 3 / b: 2 3 4 / c: 3 4 100 (whale)
    // hand polish: overall 3, type effects (−1,0,1), weekday effects
    // (−1,0,1), sole residual 95 at (c, dow6) — the whale never
    // contaminates an effect (the mean decomposition would smear it).
    val cells = Seq(
      ("a", "01", 1.0), ("a", "02", 2.0), ("a", "03", 3.0),
      ("b", "01", 2.0), ("b", "02", 3.0), ("b", "03", 4.0),
      ("c", "01", 3.0), ("c", "02", 4.0), ("c", "03", 100.0))
    val e = cells.zipWithIndex.map { case ((t, d, v), i) =>
      (i.toLong, i.toLong, t, s"2024-01-$d 00:00:00", v)
    }.toDF("event_id", "user_id", "event_type", "d", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("d")).as("ts"), col("value"))
    val out = Robust.medianPolishOf(e).collect()
    assert(out.length == 9)
    out.foreach { r =>
      assert(r.getLong(2) ==
        r.getLong(3) + r.getLong(4) + r.getLong(5) + r.getLong(6),
        s"identity must be exact: $r")
      assert(r.getLong(3) == 3000000L, s"overall: $r")
    }
    val eff = out.map(r => (r.getString(0), r.getLong(1)) ->
      (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(eff(("a", 4L)) == ((-1000000L, -1000000L, 0L)))
    assert(eff(("c", 6L)) == ((1000000L, 1000000L, 95000000L)),
      s"the whale is pure residual: ${eff(("c", 6L))}")
    assert(out.map(_.getLong(6)).count(_ != 0L) == 1,
      "exactly one nonzero residual")
  }
}
