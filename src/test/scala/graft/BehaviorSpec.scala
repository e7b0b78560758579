package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextF
import graft.operators.Behavior

class BehaviorSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def eventsDf(rows: (Long, String, String)*): DataFrame =
    rows.zipWithIndex.map { case ((u, et, t), i) => (i.toLong, u, et, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), lit(1.0).as("value"))

  test("decayed engagement: today counts full, each day halves, horizon cuts off") {
    val ev = Seq(
      // user 1: 8.0 today + 8.0 yesterday → 8 + 4 = 12
      (1L, 1L, "2024-01-21 10:00:00", 8.0),
      (2L, 1L, "2024-01-20 10:00:00", 8.0),
      // user 2: 8.0 twenty days ago → 8·2^-20 ≈ 0 at 4 dp... but
      // exactly 8/1048576 = 7.6e-6 → rounds to 0.0
      (3L, 2L, "2024-01-01 10:00:00", 8.0),
      // user 3: 21 days old → beyond the horizon, no row at all
      (4L, 3L, "2023-12-31 10:00:00", 8.0),
      // anchor so the max day is fixed
      (5L, 9L, "2024-01-21 00:00:00", 1.0))
      .toDF("event_id", "user_id", "t", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val out = Behavior.decayedEngagementOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((2L, 12.0)))
    assert(out(2L) == ((1L, 0.0)), "2^-20 of 8.0 rounds to zero at 4 dp")
    assert(!out.contains(3L), "events beyond the horizon contribute nothing")
    assert(out(9L) == ((1L, 1.0)))
  }

  test("funnel: steps must be strictly ordered in time per user") {
    val ev = eventsDf(
      // u1 completes the full funnel in order
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:01:00"),
      (1L, "purchase", "2024-01-01 10:02:00"),
      // u2 clicked BEFORE the first view → click step not reached
      (2L, "click", "2024-01-02 09:00:00"),
      (2L, "view", "2024-01-02 10:00:00"),
      // u3 views only
      (3L, "view", "2024-01-03 08:00:00"))
    val out = Behavior.funnelStepsOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("view", 3L, 100.0), ("click", 1L, 33.33), ("purchase", 1L, 33.33)))
  }

  test("funnel: an event at exactly the prior step's time does not advance") {
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:00:00")) // same micro → not strictly after
    val out = Behavior.funnelStepsOf(ev).collect().map(r => r.getLong(2))
    assert(out.toSeq == Seq(1L, 0L, 0L))
  }

  test("funnel: zero step-1 events pin conv_pct to 0.0, not NaN") {
    val ev = eventsDf((1L, "click", "2024-01-01 10:00:00"))
    val out = Behavior.funnelStepsOf(ev).collect()
      .map(r => (r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0L, 0.0), (0L, 0.0), (0L, 0.0)))
  }

  test("cohort retention: offset 0 is the cohort day, beyond maxOffset drops") {
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "view", "2024-01-02 10:00:00"), // offset 1
      (1L, "view", "2024-01-02 11:00:00"), // same (user, day) → one activity
      (1L, "view", "2024-01-20 10:00:00"), // offset 19 > 7 → dropped
      (2L, "view", "2024-01-02 10:00:00"))
    val out = Behavior.cohortRetentionOf(ev).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("2024-01-01", 0, 1L), ("2024-01-01", 1, 1L), ("2024-01-02", 0, 1L)))
  }

  test("event transitions: per-user ordering, cross-user boundaries don't pair") {
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:01:00"),
      (1L, "click", "2024-01-01 10:02:00"),
      // user 2's first event must NOT pair with user 1's last
      (2L, "purchase", "2024-01-01 10:03:00"),
      (2L, "view", "2024-01-01 10:04:00"))
    val out = Behavior.eventTransitionsOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("click", "click", 1L, 1.0),
      ("purchase", "view", 1L, 1.0),
      ("view", "click", 1L, 1.0)))
  }

  test("event transitions: probabilities normalize per source type") {
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:01:00"),
      (2L, "view", "2024-01-01 10:00:00"),
      (2L, "click", "2024-01-01 10:01:00"),
      (3L, "view", "2024-01-01 10:00:00"),
      (3L, "purchase", "2024-01-01 10:01:00"))
    val out = Behavior.eventTransitionsOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out(("view", "click")) == 0.6667)
    assert(out(("view", "purchase")) == 0.3333)
  }

  test("chi2: independent margins give zero contribution, skew shows up") {
    // 2 types × 2 weekdays, perfectly independent: O == E everywhere
    val ev = eventsDf(
      (1L, "click", "2024-01-01 10:00:00"), (2L, "view", "2024-01-01 11:00:00"),
      (3L, "click", "2024-01-02 10:00:00"), (4L, "view", "2024-01-02 11:00:00"))
    val out = Behavior.chi2ContingencyOf(ev).collect()
    assert(out.forall(_.getAs[Double]("contrib") == 0.0),
      "independent margins must contribute 0 to chi-square")
    assert(out.forall(r => r.getAs[Double]("e") == 1.0))
  }

  test("chi2: expected counts come from the margins, not the cells") {
    // type A all on day 1, type B all on day 2 → maximal association:
    // margins 2/2 and 2/2 over N=4 → E = 1 per cell, contrib = 1.
    val ev = eventsDf(
      (1L, "click", "2024-01-01 10:00:00"), (2L, "click", "2024-01-01 11:00:00"),
      (3L, "view", "2024-01-02 10:00:00"), (4L, "view", "2024-01-02 11:00:00"))
    val out = Behavior.chi2ContingencyOf(ev).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getAs[Double]("contrib")).toMap
    assert(out.size == 2, "empty cells emit no row (observed-cells table)")
    assert(out.values.forall(_ == 1.0))
  }

  test("conversion latency: first view pairs with first strictly-later purchase") {
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "purchase", "2024-01-01 10:00:30"),  // +30 s — the one that counts
      (1L, "purchase", "2024-01-01 12:00:00"),  // later purchase ignored
      (2L, "purchase", "2024-01-01 09:00:00"),  // purchase BEFORE any view
      (2L, "view", "2024-01-01 10:00:00"),
      (2L, "view", "2024-01-01 09:30:00"),      // first view 09:30
      (2L, "purchase", "2024-01-01 09:30:00"))  // exactly at view: not after
    val out = Behavior.conversionLatencyOf(ev).collect()
    assert(out.length == 1)
    val r = out.head
    // user 1: 30 s; user 2: first view 09:30, first LATER purchase none
    // (09:00 is before, 09:30 is not strictly after) → only user 1
    assert(r.getLong(1) == 1L && r.getDouble(2) == 30.0 && r.getDouble(3) == 30.0)
  }

  test("conversion latency: p50 interpolates the even-count midpoint") {
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"), (1L, "purchase", "2024-01-01 10:00:10"),
      (2L, "view", "2024-01-01 11:00:00"), (2L, "purchase", "2024-01-01 11:00:30"))
    val r = Behavior.conversionLatencyOf(ev).collect().head
    assert(r.getLong(1) == 2L && r.getDouble(2) == 20.0,
      "median of {10s, 30s} must interpolate to 20s")
  }

  test("item affinity: exclusive pairs out-lift ubiquitous ones, support floor prunes") {
    def basket(u: Long, items: Long*) = items.map(i => (u, s"""{"k": $i}"""))
    val ev = ((1L to 5L).flatMap(basket(_, 1L, 2L)) ++
      (6L to 10L).flatMap(basket(_, 1L, 3L)) ++
      (11L to 15L).flatMap(basket(_, 7L, 8L)) ++
      (16L to 19L).flatMap(basket(_, 9L, 10L)) ++ // support 4 < 5 → pruned
      basket(1L, 1L)) // duplicate (user, item) must not double-count
      .toDF("user_id", "props")
    val out = Behavior.itemAffinityOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // n=19 users; c1: item1=10, items2/3/7/8=5
    // lift(7,8) = (5/19)/((5/19)^2) = 3.8; lift(1,2) = lift(1,3) = 1.9
    assert(out.toSeq == Seq(
      (7L, 8L, 5L, 3.8), (1L, 2L, 5L, 1.9), (1L, 3L, 5L, 1.9)),
      "exclusive pair ranks first on lift; sub-support pair (9,10) is gone")
  }

  test("apriori triples: downward closure holds and the prune is output-transparent") {
    def basket(u: Long, items: Long*) = items.map(i => (u, s"""{"k": $i}"""))
    // {1,2,3} in 3 users (frequent triple at minSupport=3);
    // {4,5} in 3 users but {4,5,6} in only 2 (pair frequent, triple
    // not); a 4th user carries {1,2} only (pair support 4 > triple 3).
    val ev = ((1L to 3L).flatMap(basket(_, 1L, 2L, 3L)) ++
      basket(4L, 1L, 2L) ++
      (5L to 6L).flatMap(basket(_, 4L, 5L, 6L)) ++
      basket(7L, 4L, 5L))
      .toDF("user_id", "props")
    val got = Behavior.aprioriTriplesOf(ev, minSupport = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 3L)),
      s"only the 3-user triple survives; (4,5,6) at support 2 must not: ${got.toSeq}")
  }

  test("did readout: planted trend + treatment effect recovers did = 0.5; zero variance nulls z") {
    val users = (0L until 20L)
    val armOf = users.toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(armOf.values.toSet == Set(0L, 1L))
    // ctrl: pre 1.0 → post 1.2 (common trend +0.2);
    // treat: pre 2.0 → post 2.7 (trend + effect 0.5) → DiD = 0.5.
    def ev(u: Long, t: String, v: Double) = (u, t, v)
    def cellV(arm: Long, post: Boolean) =
      (if (arm == 0L) 1.0 else 2.0) +
        (if (post) 0.2 + (if (arm == 1L) 0.5 else 0.0) else 0.0)
    // ±0.1 within-cell spread (u even/odd) keeps variance nonzero.
    val rows = users.flatMap { u =>
      val d = if (u % 2 == 0) -0.1 else 0.1
      Seq(ev(u, "2024-01-10 10:00:00", cellV(armOf(u), post = false) + d),
        ev(u, "2024-01-20 10:00:00", cellV(armOf(u), post = true) + d))
    }
    def df(rs: Seq[(Long, String, Double)]) =
      rs.toDF("user_id", "t", "value")
        .select(col("user_id"), to_timestamp(col("t")).as("ts"), col("value"))
    val r = Behavior.didReadoutOf(df(rows), "2024-01-16").collect().head
    // each user carries its ±0.1 offset into BOTH periods, so the
    // offsets cancel in the pre→post differences → DiD exactly 0.5
    // even though the cell means shift with the arm's even/odd mix
    assert(r.getDouble(8) == 0.5, s"did: $r")
    assert(!r.isNullAt(9) && r.getDouble(9) > 0, s"z finite positive: $r")
    // zero within-cell variance → exact planted cell means, SE 0 →
    // z NULL, did unchanged
    val flat = users.flatMap { u =>
      Seq(ev(u, "2024-01-10 10:00:00", cellV(armOf(u), post = false)),
        ev(u, "2024-01-20 10:00:00", cellV(armOf(u), post = true)))
    }
    val rf = Behavior.didReadoutOf(df(flat), "2024-01-16").collect().head
    assert(rf.getDouble(4) == 1.0 && rf.getDouble(5) == 1.2 &&
      rf.getDouble(6) == 2.0 && rf.getDouble(7) == 2.7, s"cell means: $rf")
    assert(rf.getDouble(8) == 0.5 && rf.isNullAt(9), s"degenerate: $rf")
  }

  test("mantel-haenszel pools per-stratum evidence to exact hand-computed values") {
    val pool = (0L until 200L)
    val armOf = pool.toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val treated = pool.filter(armOf(_) == 1L).take(12)
    val control = pool.filter(armOf(_) == 0L).take(12)
    // per stratum: 4 treated (3 convert), 4 control (1 converts)
    // → a=3 b=1 c=1 d=3, T=8: E=2, V=4⁴/(64·7), ad/T=9/8, bc/T=1/8
    def mk(u: Long, s: Int, convert: Boolean) = {
      val head = if (convert) Seq((u, "2024-01-20 10:00:00", "purchase"))
                 else Seq((u, "2024-01-10 09:00:00", "view"))
      head ++ (1 to s).map(i => (u, s"2024-01-10 0$i:00:00", "view"))
    }
    val rows = (0 until 3).flatMap { s =>
      val t = treated.slice(s * 4, s * 4 + 4)
      val c = control.slice(s * 4, s * 4 + 4)
      t.take(3).flatMap(mk(_, s, convert = true)) ++
        t.drop(3).flatMap(mk(_, s, convert = false)) ++
        c.take(1).flatMap(mk(_, s, convert = true)) ++
        c.drop(1).flatMap(mk(_, s, convert = false))
    }
    val ev = rows.toDF("user_id", "t", "event_type")
      .select(col("user_id"), to_timestamp(col("t")).as("ts"),
        col("event_type"))
    val r = Behavior.mantelHaenszelOf(ev, cut1 = 1, cut2 = 2).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 9L, s"strata/sum_a: $r")
    // E_nano = 3·2e9; V_nano = 3·((2e9·4)//8·4)//7 = 3·571428571
    assert(r.getLong(2) == 6000000000L, s"e_nano: $r")
    assert(r.getLong(3) == 1714285713L, s"v_nano: $r")
    // OR = Σ(9/8·1e9)/Σ(1/8·1e9) = 9; chi2 = (2.5e9)²/(vs·1e9)
    assert(r.getDouble(4) == 9.0, s"or_mh: $r")
    assert(r.getDouble(5) == 3.645833, s"chi2_mh: $r")
    assert(!r.getBoolean(6), s"3.6458 < 3.8415: $r")
  }

  test("mantel-haenszel drops strata below T=2 and survives the empty frame") {
    val ev = Seq((7L, "2024-01-20 10:00:00", "purchase"))
      .toDF("user_id", "t", "event_type")
      .select(col("user_id"), to_timestamp(col("t")).as("ts"),
        col("event_type"))
    val r = Behavior.mantelHaenszelOf(ev).collect().head
    assert(r.getLong(0) == 0L, s"single-user stratum must drop: $r")
    assert(!r.getBoolean(6), s"null chi2 → not significant: $r")
  }

  test("qini: deciles exhaust users and the final qini equals total incremental conversions") {
    val users = (0L until 40L)
    val armOf = users.toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // score = user id (pre-period value u); treated users convert iff
    // score >= 20 (uplift concentrated in the top half).
    val rows = users.flatMap { u =>
      val pre = Seq((u, "2024-01-10 10:00:00", "view", u.toDouble))
      val post = if (armOf(u) == 1L && u >= 20L)
        Seq((u, "2024-01-20 10:00:00", "purchase", 1.0)) else Seq.empty
      pre ++ post
    }
    val ev = rows.toDF("user_id", "t", "event_type", "value")
      .select(col("user_id"), to_timestamp(col("t")).as("ts"),
        col("event_type"), col("value"))
    val got = Behavior.qiniCurveOf(ev, "2024-01-16").collect()
    assert(got.length == 10)
    assert(got.map(r => r.getLong(1) + r.getLong(2)).sum == 40L,
      "deciles exhaust the scored users")
    // final row: CT = all treated conversions, CC = 0 →
    // qini = total incremental = number of treated high-score users
    val nTreatHigh = users.count(u => armOf(u) == 1L && u >= 20L)
    assert(got.last.getDouble(4) == nTreatHigh.toDouble,
      s"final qini = $nTreatHigh: ${got.last}")
    // uplift lives in the top deciles (high score = low decile index)
    val firstHalf = got.take(5).flatMap(r => Option(r.get(3)).map(_.toString.toDouble))
    assert(firstHalf.exists(_ > 0), s"top deciles carry the uplift: ${got.toSeq}")
  }

  test("dormancy spells: consecutive days are not spells; shares split the spell total") {
    // u1 active 1,2,5,9 → gaps 1 (consecutive, dropped), 3, 4;
    // u2 active 1,3 → gap 2. Three spells → 333333 ppm each.
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "view", "2024-01-02 10:00:00"),
      (1L, "view", "2024-01-05 10:00:00"),
      (1L, "view", "2024-01-09 10:00:00"),
      (2L, "view", "2024-01-01 09:00:00"),
      (2L, "view", "2024-01-03 09:00:00"))
    val out = Behavior.dormancySpellsOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(2L -> ((1L, 333333L)), 3L -> ((1L, 333333L)),
      4L -> ((1L, 333333L))), s"$out")
  }

  test("growth accounting: classes partition DAU and the flow identity holds day over day") {
    // u1 active days 1, 2, 4: new → retained → (churns d3) →
    // resurrected → (churn d5 falls past the corpus edge, dropped);
    // u2 active day 2 only: new, churns d3.
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "view", "2024-01-02 10:00:00"),
      (1L, "view", "2024-01-04 10:00:00"),
      (2L, "view", "2024-01-02 09:00:00"))
    val out = Behavior.growthAccountingOf(ev).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(out("2024-01-01") == ((1L, 1L, 0L, 0L, 0L)), s"$out")
    assert(out("2024-01-02") == ((2L, 1L, 1L, 0L, 0L)), s"$out")
    assert(out("2024-01-03") == ((0L, 0L, 0L, 0L, 2L)),
      s"a zero-DAU day still owes its churn: $out")
    assert(out("2024-01-04") == ((1L, 0L, 0L, 1L, 0L)), s"$out")
    assert(!out.contains("2024-01-05"), "churn past the corpus edge drops")
    // the flow identity on every consecutive pair:
    // DAU(t) = DAU(t−1) + new(t) + resurrected(t) − churned(t)
    val days = out.keys.toSeq.sorted
    days.sliding(2).foreach { case Seq(a, b) =>
      val (dau0, _, _, _, _) = out(a)
      val (dau1, nw, _, res, ch) = out(b)
      assert(dau1 == dau0 + nw + res - ch, s"identity broken $a→$b: $out")
    }
  }

  test("shapley attribution: hand-run 4-channel coalition game, synergy priced to the ppm") {
    // v({view}) = 2/4, v({click}) = 0/4, v({view,click}) = 2/2 = 1.
    // φ·24: view = 6·(v(8)−v(0)) + 2·(v(9)−v(1)) = 6·5e5 + 2·1e6 =
    // 5e6 → 208333; click = 2·(v(9)−v(8)) = 1e6 → 41666; others 0.
    def u(id: Long, types: (String, String)*) = types.map { case (t, ts) => (id, t, ts) }
    val rows =
      (1L to 4L).flatMap(i => u(100 + i, "view" -> s"2024-01-01 0$i:00:00")) ++
      (1L to 2L).flatMap(i => u(100 + i, "purchase" -> s"2024-01-02 0$i:00:00")) ++
      (1L to 4L).flatMap(i => u(200 + i, "click" -> s"2024-01-01 0$i:00:00")) ++
      (1L to 2L).flatMap(i => u(300 + i,
        "view" -> s"2024-01-01 0$i:00:00",
        "click" -> s"2024-01-01 0$i:30:00",
        "purchase" -> s"2024-01-02 0$i:00:00"))
    val out = Behavior.shapleyAttributionOf(eventsDf(rows: _*)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("view") == ((6L, 208333L)), s"$out")
    assert(out("click") == ((6L, 41666L)), s"$out")
    // untouched channels still price NEGATIVE here: the v(S)=0
    // convention for unobserved coalitions makes v(S∪error) − v(S)
    // = −v(S) wherever S converts — the estimator's documented
    // artifact (error: 6·0 + 2·(0−5e5) + 2·(0−1e6) = −3e6 → −125000),
    // and exactly why the signed φ is published unclamped.
    assert(out("error") == ((0L, -125000L)) &&
      out("signup") == ((0L, -125000L)), s"$out")
  }

  test("markov attribution: hand-run removal effects on a 4-journey chain") {
    // u1: view→click→purchase, u2: view→purchase, u3: click→(null),
    // u4: view→(null). Base absorption = 2/4 = 0.5 exactly.
    // Remove view: only START→click survives → p = 0.125.
    // Remove click: view loses its click hop → p = 0.25 (truncated
    // integer mass 249999999 → 249999 ppm).
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:01:00"),
      (1L, "purchase", "2024-01-01 10:02:00"),
      (2L, "view", "2024-01-01 11:00:00"),
      (2L, "purchase", "2024-01-01 11:01:00"),
      (3L, "click", "2024-01-01 12:00:00"),
      (4L, "view", "2024-01-01 13:00:00"))
    val out = Behavior.markovAttributionOf(ev).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set("view", "click"), s"$out")
    assert(out("view") == ((500000L, 125000L, 750000L, 600000L)), s"$out")
    assert(out("click") == ((500000L, 249999L, 500000L, 400000L)), s"$out")
  }

  test("markov attribution: journeys truncate at the FIRST purchase") {
    // after the purchase u1 keeps browsing — those touches must not
    // enter the chain (the classic attribution-window contract)
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "purchase", "2024-01-01 10:01:00"),
      (1L, "error", "2024-01-01 10:02:00"),
      (2L, "view", "2024-01-01 11:00:00"))
    val out = Behavior.markovAttributionOf(ev).collect()
    assert(out.map(_.getString(0)).toSet == Set("view"),
      s"post-purchase error must not become a channel: ${out.toSeq}")
  }

  test("stratified ate: a uniform planted effect reads 0.5 in every stratum and in the sum") {
    val users = (0L until 80L)
    val armOf = users.toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // covariate = user id (pre value), outcome = 1.0 + 0.5·arm (post):
    // every stratum's treated-control gap is exactly the effect
    def ev(u: Long, t: String, v: Double) = (u, t, v)
    val rows = users.flatMap { u =>
      Seq(ev(u, "2024-01-10 10:00:00", u.toDouble),
        ev(u, "2024-01-20 10:00:00",
          1.0 + (if (armOf(u) == 1L) 0.5 else 0.0)))
    } ++ Seq(ev(998L, "2024-01-10 09:00:00", 3.0)) // pre-only: excluded
    val df = rows.toDF("user_id", "t", "value")
      .select(col("user_id"), to_timestamp(col("t")).as("ts"),
        col("value"))
    val out = Behavior.stratifiedAteOf(df, "2024-01-16").collect()
    assert(out.forall(_.getDouble(5) == 0.5), s"uniform effect: ${out.toSeq}")
    assert(out.forall(r => r.getDouble(4) - r.getDouble(3) == 0.5),
      s"means gap: ${out.toSeq}")
    // the pre-only user is excluded from every stratum count
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum == 80L)
    // the table audits itself: Σ contrib = 0.5 · Σ weight (exact to
    // the printed micro grid × strata)
    val ate = out.map(_.getDouble(7)).sum
    val wsum = out.map(_.getLong(6)).sum.toDouble / 1e6
    assert(math.abs(ate - 0.5 * wsum) <= out.length * 1e-6,
      s"ate $ate vs 0.5·$wsum")
  }

  test("logrank: a later-churning arm pulls o_minus_e negative; same-time churn nulls z") {
    val users = (0L until 20L)
    val armOf = users.toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (n0, n1) = (armOf.values.count(_ == 0L), armOf.values.count(_ == 1L))
    assert(n0 > 0 && n1 > 0)
    // arm 0 churns at duration 2, arm 1 at duration 7; an anchor user
    // on Jan 20 fixes report_date so both arms count as churned
    // (report − last ≥ 7). The anchor itself is censored at duration 0.
    def ev(u: Long, t: String) = (u, "view", t)
    val rows = users.flatMap { u =>
      val last = if (armOf(u) == 0L) "2024-01-03 10:00:00"
                 else "2024-01-08 10:00:00"
      Seq(ev(u, "2024-01-01 10:00:00"), ev(u, last))
    } :+ ev(999L, "2024-01-20 10:00:00")
    val r = Behavior.logrankTestOf(eventsDf(rows: _*)).collect().head
    assert(r.getLong(1) == n1.toLong, s"all arm-1 users churn: $r")
    // the only nonzero O−E term is duration 2, where arm 1 is fully
    // at risk but churns nobody: d1 − e1 = −d·n1/nt = −n0·n1/20
    val expected = math.floor(-(n0.toDouble * n1 / 20.0) * 1e9 + 0.5) / 1e9
    assert(r.getDouble(2) == math.floor(expected * 1e6 + 0.5) / 1e6,
      s"o_minus_e = −n0·n1/20: $r")
    assert(!r.isNullAt(3) && r.getDouble(3) < -1.96,
      s"survival differs decisively: $r")
    // both arms churning at ONE shared duration: every risk row has
    // nt = dt → zero hypergeometric variance → z NULL, O−E exactly 0
    val sync = users.flatMap { u =>
      Seq(ev(u, "2024-01-01 10:00:00"), ev(u, "2024-01-03 10:00:00"))
    } :+ ev(999L, "2024-01-20 10:00:00")
    val rs = Behavior.logrankTestOf(eventsDf(sync: _*)).collect().head
    assert(rs.getDouble(2) == 0.0 && rs.isNullAt(3), s"degenerate: $rs")
  }

  test("fpgrowth triples equal the apriori join chain row-for-row") {
    def basket(u: Long, items: Long*) = items.map(i => (u, s"""{"k": $i}"""))
    val ev = ((1L to 6L).flatMap(basket(_, 1L, 2L, 3L, 4L)) ++
      (7L to 9L).flatMap(basket(_, 2L, 3L, 5L)) ++
      basket(10L, 5L, 6L))
      .toDF("user_id", "props")
    val ap = Behavior.aprioriTriplesOf(ev, minSupport = 3)
      .collect().map(_.toString).toSeq
    val fp = Behavior.fpgrowthTriplesOf(ev, minSupport = 3)
      .collect().map(_.toString).toSeq
    assert(ap.nonEmpty && ap == fp,
      s"conditional-tree and candidate-join paths must agree:\n$ap\nvs\n$fp")
  }

  test("pivot: absent event types fill 0.0 and sums are exact") {
    val ev = Seq(
      (1L, "click", "2024-01-01 10:00:00", 1.25),
      (2L, "click", "2024-01-01 11:00:00", 2.25),
      (3L, "view", "2024-01-01 12:00:00", 0.5))
      .toDF("user_id", "event_type", "t", "value")
      .select(col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val row = Behavior.pivotReportOf(ev).collect().head
    assert(row.getAs[Double]("click") == 3.5)
    assert(row.getAs[Double]("view") == 0.5)
    assert(row.getAs[Double]("purchase") == 0.0)
    assert(row.getAs[Double]("error") == 0.0)
    assert(row.getAs[Double]("signup") == 0.0)
  }

  private def valueEvents(rows: (Long, Long, String, Double)*): DataFrame =
    rows.toDF("event_id", "user_id", "t", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("t")).as("ts"), col("value"))

  test("cuped: when post equals pre exactly, θ = 1 and both arms adjust to the pooled mean") {
    // Users 0/2 (arm 0) and 1/3 (arm 1) with distinct baselines; each
    // user's post-period mean equals its pre-period mean → y = x, so
    // θ = 1 and ȳ_arm − (x̄_arm − x̄) = x̄ for BOTH arms.
    val ev = valueEvents(
      (1L, 0L, "2024-01-02 10:00:00", 10.0), (2L, 0L, "2024-01-20 10:00:00", 10.0),
      (3L, 1L, "2024-01-02 10:00:00", 40.0), (4L, 1L, "2024-01-20 10:00:00", 40.0),
      (5L, 2L, "2024-01-02 10:00:00", 20.0), (6L, 2L, "2024-01-20 10:00:00", 20.0),
      (7L, 3L, "2024-01-02 10:00:00", 50.0), (8L, 3L, "2024-01-20 10:00:00", 50.0))
    val out = Behavior.cupedAdjustOf(ev, "2024-01-16").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(0L) == ((2L, 15.0, 30.0, 1.0)), s"got $out")
    assert(out(1L) == ((2L, 45.0, 30.0, 1.0)),
      "identical pre/post series must adjust both arms to the pooled mean 30")
  }

  test("cuped drops users missing either period") {
    val ev = valueEvents(
      (1L, 0L, "2024-01-02 10:00:00", 10.0), (2L, 0L, "2024-01-20 10:00:00", 12.0),
      (3L, 2L, "2024-01-02 10:00:00", 99.0),  // pre only → dropped
      (4L, 4L, "2024-01-20 10:00:00", 99.0),  // post only → dropped
      (5L, 1L, "2024-01-02 10:00:00", 20.0), (6L, 1L, "2024-01-20 10:00:00", 24.0))
    val out = Behavior.cupedAdjustOf(ev, "2024-01-16").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1L, 1L -> 1L),
      "one-period users must not enter the covariate model")
  }
  test("negative samples never collide with a user's history and draw deterministically") {
    import spark.implicits._
    // catalog {1..6}; user 1 saw {1,2}, user 2 saw {3}
    val ev = Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L), (3L, 6L))
      .zipWithIndex.map { case ((u, item), i) =>
        (i.toLong, u, s"""{"k": $item}""") }
      .toDF("event_id", "user_id", "props")
    val out = Behavior.negativeSamplesOf(ev, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val seen = Map(1L -> Set(1L, 2L), 2L -> Set(3L), 3L -> Set(4L, 5L, 6L))
    out.foreach { case (u, item, _) =>
      assert(!seen(u).contains(item), s"user $u sampled a seen item $item") }
    // k negatives per user when the catalog allows; user 3 has exactly 3 unseen
    val perUser = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perUser == Map(1L -> 3, 2L -> 3, 3L -> 3), s"got $perUser")
    val again = Behavior.negativeSamplesOf(ev, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == again.toSeq, "hash-keyed draws are reproducible")
  }

  test("negative samples: hash pre-filter path draws the EXACT same negatives") {
    import spark.implicits._
    // 400-item catalog across 20 users, each with a few interactions.
    val ev = (for {
      u <- 1L to 20L
      item <- Seq(u % 400, (u * 7) % 400, (u * 13) % 400)
    } yield (u, item)) ++ (1L to 400L).map(i => (9999L, i % 400))
    val df = ev.zipWithIndex.map { case ((u, item), i) =>
      (i.toLong, u, s"""{"k": $item}""") }
      .toDF("event_id", "user_id", "props")
    val exact = Behavior.negativeSamplesOf(df, k = 5,
        prefilterCatalogMin = Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // Force the pre-filter on (min=1) with a LOW oversample so the
    // short-user exact fallback engages for some users too — the
    // equality then covers both branches of the union.
    for (os <- Seq(1, 2, 10)) {
      val sampled = Behavior.negativeSamplesOf(df, k = 5,
          prefilterCatalogMin = 1L, oversample = os).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(sampled == exact, s"oversample=$os diverged from the exact draw")
    }
    // user 9999 saw the whole catalog: no negatives exist for them
    assert(!exact.exists(_._1 == 9999L))
  }
  test("ab test: arms partition users, conversion counts the report day, degenerate z is NULL") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // users 1..6; report day = Jan 3; users 2 and 5 purchase on it,
    // user 1 purchased earlier only (must NOT count as converted)
    val ev = Seq(
      (1L, 1L, "purchase", t(1)), (2L, 1L, "view", t(3)),
      (3L, 2L, "purchase", t(3)), (4L, 3L, "view", t(3)),
      (5L, 4L, "view", t(2)), (6L, 5L, "purchase", t(3)), (7L, 6L, "view", t(3)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val r = Behavior.abTestOf(ev).collect().head
    val (n0, n1, c0, c1) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n0 + n1 == 6L, "every user lands in exactly one arm")
    assert(c0 + c1 == 2L, "only report-day purchasers convert")
    // all-convert slice: pooled p = 1 -> zero variance -> z NULL, no error
    val sat = Seq((1L, 1L, "purchase", t(3)), (2L, 2L, "purchase", t(3)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val rs = Behavior.abTestOf(sat).collect().head
    assert(rs.isNullAt(6), "degenerate variance must yield NULL z")
  }

  test("rfm quintiles: 5 users spread one per bucket, 5 = best on every axis") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // user u: u events, last on day u, each worth u dollars
    val ev = (1 to 5).flatMap { u =>
      (1 to u).map(i => (u.toLong * 100 + i, u.toLong, t(u), u.toDouble))
    }.toDF("event_id", "user_id", "ts", "value")
    val out = Behavior.rfmSegmentsOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(4), r.getInt(5),
        r.getInt(6), r.getInt(7))).toMap
    // user 5: most recent (recency 0), most frequent, highest spend -> 555
    assert(out(5L) == ((0L, 5, 5, 5, 555)), s"got $out")
    assert(out(1L) == ((4L, 1, 1, 1, 111)))
    assert(out(3L)._5 == 333)
  }

  test("windowed funnel: deadlines bind each step, greedily") {
    val ev = eventsDf(
      // u1 converts fully inside the windows
      (1L, "view", "2024-01-01 10:00:00"), (1L, "click", "2024-01-01 10:30:00"),
      (1L, "purchase", "2024-01-01 10:45:00"),
      // u2's click misses the 60-min deadline
      (2L, "view", "2024-01-01 10:00:00"), (2L, "click", "2024-01-01 11:30:00"),
      // u3's purchase misses the deadline after its click
      (3L, "view", "2024-01-01 10:00:00"), (3L, "click", "2024-01-01 10:10:00"),
      (3L, "purchase", "2024-01-01 11:20:00"),
      // u4: greedy chains off the FIRST click (10:05); the purchase
      // fits the second click's window only — it must NOT count
      (4L, "view", "2024-01-01 10:00:00"), (4L, "click", "2024-01-01 10:05:00"),
      (4L, "click", "2024-01-01 10:50:00"), (4L, "purchase", "2024-01-01 11:40:00"))
    val out = Behavior.funnelWindowedOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out("view") == ((4L, 100.0)), s"got $out")
    assert(out("click") == ((3L, 75.0)), "u2's late click is out")
    assert(out("purchase") == ((1L, 25.0)),
      "u3 late; u4's second-click path doesn't resurrect the chain")
  }

  test("churn lifetable: censoring, risk sets, hazards") {
    import java.sql.Timestamp
    def t(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    val ev = Seq(
      (1L, 1L, t(1)), (2L, 1L, t(5)),   // duration 4, churned (25d stale)
      (3L, 2L, t(1)), (4L, 2L, t(28)),  // duration 27, censored (2d from report)
      (5L, 3L, t(10)),                  // duration 0, churned
      (6L, 9L, t(30)))                  // duration 0, censored; pins report_date
      .toDF("event_id", "user_id", "ts")
    val out = Behavior.churnLifetableOf(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    // duration 0: risk = all 4 users, 1 churn (u3) + 1 censor (u9)
    assert(out(0L) == ((4L, 1L, 1L, 0.25)), s"got $out")
    // duration 4: risk = {u1, u2}, u1 churns
    assert(out(4L) == ((2L, 1L, 0L, 0.5)))
    // duration 27: risk = {u2}, censored — hazard 0
    assert(out(27L) == ((1L, 0L, 1L, 0.0)))
  }

  test("bounce rate: single-event sessions count against their start day") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $s:00")
    val ev = Seq(
      (1L, 1L, ts("10:00")), (2L, 1L, ts("10:10")),   // one 2-event session
      (3L, 2L, ts("10:00")),                           // bounce
      (4L, 3L, ts("10:00")), (5L, 3L, ts("12:00")))    // two 1-event sessions
      .toDF("event_id", "user_id", "ts")
    val out = graft.operators.EventAnalytics.bounceRateOf(ev).collect().head
    assert(out.getLong(1) == 4L, "sessions: 1 + 1 + 2")
    assert(out.getLong(2) == 3L, "bounces: user 2 once, user 3 twice")
    assert(out.getDouble(3) == 0.75)
  }

  test("cramers v: perfect type-weekday association reads 1, independence reads 0") {
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"1970-01-${day + 1}%02d 12:00:00")
    // A only on tow 0 (1970-01-01), B only on tow 1 -> V = 1.
    val assoc = Seq(("A", ts(0)), ("A", ts(0)), ("B", ts(1)), ("B", ts(1)))
      .toDF("event_type", "ts")
    val a = Behavior.cramersVOf(assoc).collect().head
    assert(a.getLong(0) == 4L && a.getLong(1) == 2L && a.getLong(2) == 2L)
    assert(a.getDouble(4) == 1.0, s"perfect association: $a")
    // Both types uniform over both days -> chi2 = 0 -> V = 0.
    val indep = Seq(("A", ts(0)), ("A", ts(1)), ("B", ts(0)), ("B", ts(1)))
      .toDF("event_type", "ts")
    assert(Behavior.cramersVOf(indep).collect().head.getDouble(4) == 0.0)
  }

  test("user growth: users count once on their first day, actives recount, cumsum exact") {
    import java.sql.Timestamp
    def ev(u: Long, d: Int) =
      (u, Timestamp.valueOf(f"2026-01-$d%02d 10:00:00"))
    // u1 active d1+d2 (new on d1 only), u2 new d1, u3 new d2 with two
    // same-day events (dedup to one active), u4 new d3.
    val events = Seq(ev(1, 1), ev(2, 1), ev(1, 2), ev(3, 2), ev(3, 2),
      ev(4, 3)).toDF("user_id", "ts")
    val got = Behavior.userGrowthOf(events).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("2026-01-01") == ((2L, 2L, 2L)), s"$got")
    assert(got("2026-01-02") == ((2L, 1L, 3L)),
      s"u1 returns (active, not new), u3 dedups same-day: $got")
    assert(got("2026-01-03") == ((1L, 1L, 4L)), s"$got")
  }

  test("chi2 residuals: association drives cells above |2|, independence reads 0, degenerate nulls") {
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"1970-01-${day + 1}%02d 12:00:00")
    // A only on tow 0 (3 events), B only on tow 1 (3) — adjusted
    // residual (3−1.5)/√(1.5·0.5·0.5) ≈ 2.449 on every observed cell.
    val assoc = Seq.fill(3)(("A", ts(0))) ++ Seq.fill(3)(("B", ts(1)))
    val a = Behavior.chi2ResidualsOf(assoc.toDF("event_type", "ts"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getDouble(4), r.getBoolean(5)))).toMap
    assert(a(("A", 0)) == ((2.4495, true)) && a(("B", 1)) == ((2.4495, true)),
      s"association must drive: $a")
    // Uniform table: O = E in every cell → residual 0, not driving.
    val indep = Seq(("A", ts(0)), ("A", ts(1)), ("B", ts(0)), ("B", ts(1)))
    Behavior.chi2ResidualsOf(indep.toDF("event_type", "ts")).collect()
      .foreach(r => assert(r.getDouble(4) == 0.0 && !r.getBoolean(5), s"$r"))
    // Single event type: rt = n → the (1 − rt/n) factor zeroes the
    // denominator → NULL residual, never a division blow-up.
    val degen = Seq(("A", ts(0)), ("A", ts(1)))
    Behavior.chi2ResidualsOf(degen.toDF("event_type", "ts")).collect()
      .foreach(r => assert(r.isNullAt(4) && r.isNullAt(5), s"$r"))
  }

  test("anova f: per-arm shifts reproduce the hand-computed F; degenerate variance nulls") {
    // Recover each test user's md5 arm through the SAME exposed
    // expression, then plant a between-arm effect with within-arm
    // spread and check F against the textbook formula computed here.
    val users = (0L until 30L)
    val armOf = users.toDF("user_id")
      .select(col("user_id"), Behavior.arm3(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(armOf.values.toSet == Set(0L, 1L, 2L), "all arms populated")
    val rows = users.zipWithIndex.map { case (u, i) =>
      val base = 1.0 + armOf(u)           // means 1, 2, 3 by arm
      val spread = if (i % 2 == 0) -0.5 else 0.5
      (u, "click", "2026-01-01 10:00:00", base + spread)
    }
    def ev(rs: Seq[(Long, String, String, Double)]) =
      rs.toDF("user_id", "event_type", "t", "value")
        .select(col("user_id"), col("event_type"),
          to_timestamp(col("t")).as("ts"), col("value"))
    val got = Behavior.anovaFOf(ev(rows)).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == 30L)
    // Hand computation on the micro grid from the same arm map.
    val byArm: Map[Long, Seq[Double]] = rows.groupBy(t => armOf(t._1))
      .map { case (a, ts) => a -> ts.map(t => math.floor(t._4 * 1e6 + 0.5)).toSeq }
    val k = 3
    val n = rows.size.toDouble
    val all: Seq[Double] = byArm.values.flatten.toSeq
    val sb: Double = (0 until k).map { a =>
      val s = byArm(a.toLong).sum; s * s / byArm(a.toLong).size }.sum
    val st: Double = all.sum
    val ssb = sb - st * st / n
    val ssw = all.map(v => v * v).sum - sb
    val f = (ssb / 2.0) / (ssw / (n - k))
    assert(math.abs(r.getDouble(4) - f) < 1e-4, s"F ${r.getDouble(4)} vs $f")
    assert(r.getBoolean(5) == (f > 2.9957))
    // All-constant values: SSW = 0 AND SSB = 0 → NULL F, no blow-up.
    val const = users.map(u => (u, "click", "2026-01-01 10:00:00", 7.0))
    val c = Behavior.anovaFOf(ev(const)).collect().head
    assert(c.isNullAt(4) && c.isNullAt(5), s"degenerate must null: $c")
  }

  test("nelson-aalen: hazard increments accumulate on the nano grid") {
    import java.sql.Timestamp
    def ev(u: Long, d: Int) =
      (u, Timestamp.valueOf(f"2026-01-$d%02d 10:00:00"))
    // Report date = Jan 20. Users: a (d1..d2, duration 1, churned),
    // b (d1..d1, duration 0, churned), c (d1..d20, duration 19,
    // censored by the <7d rule).
    val events = Seq(ev(1, 1), ev(1, 2), ev(2, 1), ev(3, 1), ev(3, 20))
      .toDF("user_id", "ts")
    val out = graft.operators.Behavior.nelsonAalenOf(events).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // durations: 0 (risk 3, churn 1), 1 (risk 2, churn 1), 19 (risk 1, churn 0)
    assert(out(0L) == ((3L, 1L, 0.333333)), s"H(0)=1/3: $out")
    assert(out(1L) == ((2L, 1L, 0.833333)), "H(1)=1/3+1/2")
    assert(out(19L) == ((1L, 0L, 0.833333)), "censoring adds no hazard")
  }

  test("cohort ltv: day-0 denominator stays fixed while revenue accumulates") {
    import java.sql.Timestamp
    def ev(u: Long, d: Int, v: Double) =
      (u, Timestamp.valueOf(f"2026-01-$d%02d 10:00:00"), v)
    // Cohort Jan 1: users 1, 2 (day-0 revenue 10 + 2). Only user 1
    // returns on day 1 (+4): cum LTV = 12/2 then 16/2 — churn must
    // not shrink the denominator.
    val events = Seq(ev(1, 1, 10.0), ev(2, 1, 2.0), ev(1, 2, 4.0))
      .toDF("user_id", "ts", "value")
    val out = graft.operators.Behavior.cohortLtvOf(events).collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out(0) == ((2L, 12.0, 6.0)), s"day 0: $out")
    assert(out(1) == ((2L, 4.0, 8.0)), "day 1 divides by the DAY-0 cohort size")
  }

  test("item cosine: co-occurrence normalizes by both margins, top-k per item") {
    // u1:{1,2} u2:{1,2} u3:{1} u4:{2,3}: c1(1)=3, c1(2)=3, c1(3)=1;
    // cos(1,2)=2/3, cos(2,3)=1/sqrt(3).
    val events = Seq((1L, """{"k": 1}"""), (1L, """{"k": 2}"""),
      (2L, """{"k": 1}"""), (2L, """{"k": 2}"""), (3L, """{"k": 1}"""),
      (4L, """{"k": 2}"""), (4L, """{"k": 3}"""))
      .toDF("user_id", "props")
    val out = graft.operators.Behavior
      .itemCosineOf(events, minSupport = 1, topN = 2).collect()
      .map(r => (r.getLong(0), r.getInt(4)) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    assert(out((1L, 1)) == ((2L, 0.666667)), s"got $out")
    assert(out((2L, 1)) == ((1L, 0.666667)))
    assert(out((2L, 2)) == ((3L, 0.57735)), "1/sqrt(3) on the 6-dp grid")
    assert(out((3L, 1)) == ((2L, 0.57735)))
  }

  test("lorenz curve: linear revenue ramp gives exact triangular shares") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val events = (1 to 10).map(u => (u.toLong, ts, u.toDouble))
      .toDF("user_id", "ts", "value")
    val out = graft.operators.Behavior.lorenzCurveOf(events).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet == (1 to 10).toSet)
    assert(out(1) == ((1L, 18181L, 18181L)), "poorest decile: 1/55")
    assert(out(10)._2 == 181818L, "richest decile: 10/55")
    assert(out(10)._3 == 1000000L, "cumulative closes at 100%")
  }

  test("markov accuracy: a deterministic chain scores 100% and beats the marginal") {
    import java.sql.Timestamp
    // Train (Jan 1-15): strict A->B->A... chains for 3 users; test
    // (Jan 20): the same alternation. Rule: A predicts B, B predicts A.
    def ev(u: Long, day: Int, sec: Int, t: String) =
      (u, t, Timestamp.valueOf(f"2024-01-$day%02d 10:00:$sec%02d"), 1L + sec)
    val rows = (1 to 3).flatMap { u =>
      (0 until 6).map(i => ev(u, 2, i, if (i % 2 == 0) "A" else "B")) ++
        (0 until 4).map(i => ev(u, 20, i, if (i % 2 == 0) "A" else "B"))
    }.zipWithIndex.map { case ((u, t, ts, _), i) => (i.toLong, u, t, ts) }
    val events = rows.toDF("event_id", "user_id", "event_type", "ts")
    val r = graft.operators.Behavior.markovAccuracyOf(events).collect().head
    assert(r.getLong(0) == 9L, s"3 users x 3 test pairs: $r")
    assert(r.getLong(2) == 1000000L, "the chain is perfectly predictable")
    assert(r.getBoolean(4), "and the marginal cannot match it")
  }

  test("linear attribution: equal split to the micro, remainder earliest, totals preserved") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // user 1: $1.00 purchase with 3 in-window clicks (items 7, 8, 9) —
    // 1e6 micros over 3 = 333333 each + 1 micro to the EARLIEST click;
    // one click outside the 3-day window must not count.
    // user 2: purchase with NO clicks → the item -1 row.
    val ev = Seq(
      (1L, 1L, "click", """{"k": 7}""", 0.0, t("2024-01-10 09:00:00")),
      (2L, 1L, "click", """{"k": 8}""", 0.0, t("2024-01-10 10:00:00")),
      (3L, 1L, "click", """{"k": 9}""", 0.0, t("2024-01-10 11:00:00")),
      (4L, 1L, "click", """{"k": 5}""", 0.0, t("2024-01-01 11:00:00")),
      (5L, 1L, "purchase", "{}", 1.0, t("2024-01-11 12:00:00")),
      (6L, 2L, "purchase", "{}", 2.5, t("2024-01-11 12:00:00")))
      .toDF("event_id", "user_id", "event_type", "props", "value", "ts")
    val out = graft.operators.Behavior.linearAttributionOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set(-1L, 7L, 8L, 9L), s"got $out")
    assert(out(7L) == ((1L, 1L, 0.3333)), s"earliest click takes the remainder micro: $out")
    assert(out(8L) == ((1L, 1L, 0.3333)) && out(9L) == ((1L, 1L, 0.3333)))
    assert(out(-1L) == ((0L, 1L, 2.5)), "the clickless purchase lands unattributed")
    // micro-exact conservation: 333334 + 333333 + 333333 = 1e6
    val micros = Seq(334L, 333L, 333L) // at 4dp the shares render equal
    assert(micros.sum == 1000L)
  }

  test("decay attribution: recency earns share 8:4:2, remainder to the newest, totals preserved") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // $1.00 purchase; clicks at age 0/1/2 days weigh 8/4/2 (Σ=14):
    // bases 571428/285714/142857 sum to 999999 — the 1-micro
    // remainder goes to the NEWEST click (linear gives it to the
    // oldest). Out-of-window click and clickless purchase as in the
    // linear spec.
    val ev = Seq(
      (1L, 1L, "click", """{"k": 7}""", 0.0, t("2024-01-11 11:00:00")),
      (2L, 1L, "click", """{"k": 8}""", 0.0, t("2024-01-10 11:00:00")),
      (3L, 1L, "click", """{"k": 9}""", 0.0, t("2024-01-09 11:00:00")),
      (4L, 1L, "click", """{"k": 5}""", 0.0, t("2024-01-01 11:00:00")),
      (5L, 1L, "purchase", "{}", 1.0, t("2024-01-11 12:00:00")),
      (6L, 2L, "purchase", "{}", 2.5, t("2024-01-11 12:00:00")))
      .toDF("event_id", "user_id", "event_type", "props", "value", "ts")
    val out = graft.operators.Behavior.decayAttributionOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set(-1L, 7L, 8L, 9L), s"got $out")
    assert(out(7L) == ((1L, 1L, 0.5714)),
      s"newest click: 571428 + the remainder micro: $out")
    assert(out(8L) == ((1L, 1L, 0.2857)), s"$out")
    assert(out(9L) == ((1L, 1L, 0.1429)), s"$out")
    assert(out(-1L) == ((0L, 1L, 2.5)), "clickless purchase unattributed")
    assert(571429L + 285714L + 142857L == 1000000L, "micro conservation")
  }

  test("attribution conservation holds for refunds (negative value, sign-split)") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // A -$1.00 refund with the decay spec's 3-click window: magnitude
    // division keeps the remainder non-negative so the top-up fires,
    // and the re-signed shares sum to qv = -1e6 bit-exactly. Before
    // the sign-split, (qv*w) div tw truncated toward zero and the
    // rk <= rem top-up never fired, losing micros.
    val ev = Seq(
      (1L, 1L, "click", """{"k": 7}""", 0.0, t("2024-01-11 11:00:00")),
      (2L, 1L, "click", """{"k": 8}""", 0.0, t("2024-01-10 11:00:00")),
      (3L, 1L, "click", """{"k": 9}""", 0.0, t("2024-01-09 11:00:00")),
      (5L, 1L, "purchase", "{}", -1.0, t("2024-01-11 12:00:00")))
      .toDF("event_id", "user_id", "event_type", "props", "value", "ts")
    val decay = graft.operators.Behavior.decayAttributionOf(ev).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(decay == Map(7L -> -0.5714, 8L -> -0.2857, 9L -> -0.1429),
      s"decay shares re-sign, newest takes the remainder micro: $decay")
    val linear = graft.operators.Behavior.linearAttributionOf(ev).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(linear == Map(7L -> -0.3333, 8L -> -0.3333, 9L -> -0.3333),
      s"linear refund thirds: $linear")
  }

  test("welch test: hand-checked t/df/d on a 3-vs-3 split; zero variance nulls the stats") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def arm(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$u".getBytes("UTF-8"))
      (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)) % 2
    }
    val users = (1L to 60L).toSeq
    val a0 = users.filter(arm(_) == 0L).take(3)
    val a1 = users.filter(arm(_) == 1L).take(3)
    assert(a0.size == 3 && a1.size == 3, "need both arms among user ids 1-60")
    // arm0 {1,2,3}: m0 = 2, v0 = 1; arm1 {2,4,6}: m1 = 4, v1 = 4.
    // diff = 2, se² = 1/3 + 4/3 → t = 2/√(5/3) = 1.549193,
    // df = (5/3)²/((1/9)/2 + (16/9)/2) = 2.9412,
    // d = 2/√(((2·1)+(2·4))/4) = 2/√2.5 = 1.264911.
    val ev = Seq((a0(0), 1.0), (a0(1), 2.0), (a0(2), 3.0),
        (a1(0), 2.0), (a1(1), 4.0), (a1(2), 6.0))
      .toDF("user_id", "value").withColumn("event_type", lit("t"))
    val Array(r) = graft.operators.Behavior.welchTestOf(ev).collect()
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 2.0, s"mean_diff: $r")
    assert(r.getDouble(4) == 1.549193, s"t: $r")
    assert(r.getDouble(5) == 2.9412, s"df: $r")
    assert(r.getDouble(6) == 1.264911, s"d: $r")
    assert(!r.getBoolean(7))
    // both arms constant: se² = 0 → NULL t/df/d, not significant
    val flat = (a0 ++ a1).map((_, 5.0))
      .toDF("user_id", "value").withColumn("event_type", lit("t"))
    val Array(f) = graft.operators.Behavior.welchTestOf(flat).collect()
    assert(f.getDouble(3) == 0.0 && f.isNullAt(4) && f.isNullAt(5) &&
      f.isNullAt(6) && !f.getBoolean(7), s"$f")
  }

  test("poisson rate test: 2-vs-1 events-per-user reads z = -1 exactly") {
    import spark.implicits._
    def arm(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$u".getBytes("UTF-8"))
      (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)) % 2
    }
    val users = (1L to 60L).toSeq
    val a0 = users.filter(arm(_) == 0L).take(3)
    val a1 = users.filter(arm(_) == 1L).take(3)
    // arm0: 2 clicks/user (rate 2), arm1: 1 (rate 1):
    // z = (1−2)/√(6/9 + 3/9) = −1 exactly.
    val ev = (a0.flatMap(u => Seq((u, "click"), (u, "click"))) ++
      a1.map(u => (u, "click")))
      .toDF("user_id", "event_type")
    val Array(r) = graft.operators.Behavior.poissonRateTestOf(ev).collect()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((6L, 3L, 3L, 3L)), s"$r")
    assert(r.getDouble(5) == 2.0 && r.getDouble(6) == 1.0, s"$r")
    assert(r.getDouble(7) == -1.0 && !r.getBoolean(8), s"$r")
  }

  test("cochran-armitage: a perfect 0/50/100% dose-response reads z = 2.828427") {
    import spark.implicits._
    def arm(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$u".getBytes("UTF-8"))
      (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)) % 3
    }
    val users = (1L to 120L).toSeq
    val a0 = users.filter(arm(_) == 0L).take(4)
    val a1 = users.filter(arm(_) == 1L).take(4)
    val a2 = users.filter(arm(_) == 2L).take(4)
    assert(a0.size == 4 && a1.size == 4 && a2.size == 4)
    // converts: 0/4, 2/4, 4/4 → N·T = 48, R(N−R)(NA−B²)/N = 288,
    // z = 48/√288 = 2.828427.
    val ev = (a0.map((_, "view")) ++
      a1.take(2).map((_, "purchase")) ++ a1.drop(2).map((_, "view")) ++
      a2.map((_, "purchase")))
      .toDF("user_id", "event_type")
    val Array(r) = graft.operators.Behavior.cochranArmitageOf(ev).collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((4L, 4L, 4L, 0L, 2L, 4L)), s"$r")
    assert(r.getDouble(6) == 2.828427 && r.getBoolean(7), s"$r")
  }


  test("repeat purchase latency: first-to-second gaps interpolate exactly; one-timers drop") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, "purchase", t("2024-01-01 00:00:00")),
      (1L, "purchase", t("2024-01-03 00:00:00")), // gap 2 days
      (1L, "purchase", t("2024-01-09 00:00:00")), // third: ignored
      (2L, "purchase", t("2024-01-01 00:00:00")),
      (2L, "purchase", t("2024-01-02 00:00:00")), // gap 1 day
      (3L, "purchase", t("2024-01-05 00:00:00")), // never repeats
      (4L, "view", t("2024-01-01 00:00:00")))
      .toDF("user_id", "event_type", "ts")
    val Array(r) = graft.operators.Behavior.repeatPurchaseLatencyOf(ev)
      .collect()
    // gaps {1d, 2d}: p50 = 1.5, p90 = 1.9 (linear interpolation)
    assert((r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)) ==
      (("2024-01", 2L, 1.5, 1.9)), s"got $r")
  }

  test("funnel stage latency: the click splits the span; per-stage percentiles interpolate exactly") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:00:10"),     // v2c 10 s
      (1L, "purchase", "2024-01-01 10:00:30"),  // c2p 20 s
      (2L, "view", "2024-01-01 10:00:00"),
      (2L, "click", "2024-01-01 10:00:20"))     // v2c 20 s, no purchase
      .map { case (u, ty, s) => (u, ty, t(s)) }
      .toDF("user_id", "event_type", "ts")
    val out = graft.operators.Behavior.funnelStageLatencyOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // v2c gaps {10, 20}: p50 = 15, p90 = 19; c2p gaps {20}: both 20.
    assert(out("view_to_click") == ((2L, 15.0, 19.0)), s"got $out")
    assert(out("click_to_purchase") == ((1L, 20.0, 20.0)), s"got $out")
  }

  test("gateway items: the first touch owns the user; conversion needs a strictly-later purchase") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 1L, "view", 7L, "2024-01-01 10:00:00"),
      (2L, 1L, "view", 8L, "2024-01-01 11:00:00"), // later: not first
      (3L, 1L, "purchase", 5L, "2024-01-02 10:00:00"), // converts u1
      (4L, 2L, "view", 8L, "2024-01-01 10:00:00"),     // never buys
      (5L, 3L, "purchase", 9L, "2024-01-01 10:00:00")) // first IS purchase
      .map { case (id, u, ty, k, s) => (id, u, ty, s"""{"k": $k}""", t(s)) }
      .toDF("event_id", "user_id", "event_type", "props", "ts")
    val out = graft.operators.Behavior.gatewayItemsOf(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(7L -> ((1L, 1L, 1000000L)), 8L -> ((1L, 0L, 0L)),
      9L -> ((1L, 0L, 0L))),
      s"a first-touch purchase is not strictly-later: $out")
  }

  test("funnel by arm: each arm converts against its OWN base, lift in points") {
    import spark.implicits._
    def arm(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$u".getBytes("UTF-8"))
      (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)) % 2
    }
    val users = (1L to 80L).toSeq
    val a0 = users.filter(arm(_) == 0L).take(2) // control: views only
    val a1 = users.filter(arm(_) == 1L).take(2) // treatment: 1 of 2 clicks
    assert(a0.size == 2 && a1.size == 2)
    val rows =
      a0.map(u => (u, "view", "2024-01-01 10:00:00")) ++
      a1.map(u => (u, "view", "2024-01-01 10:00:00")) :+
      ((a1.head, "click", "2024-01-01 10:05:00"))
    val ev = rows.zipWithIndex.map { case ((u, et, t), i) =>
      (i.toLong, u, et, java.sql.Timestamp.valueOf(t)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.operators.Behavior.funnelByArmOf(ev).collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out(1) == ((2L, 2L, 100.0, 100.0, 0.0)), s"got $out")
    assert(out(2) == ((0L, 1L, 0.0, 50.0, 50.0)),
      "treatment clicks at 50%, control at 0 -> +50.0 pp lift")
    assert(out(3) == ((0L, 0L, 0.0, 0.0, 0.0)))
  }

  test("audience overlap: activity volume can't inflate the set Jaccard") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s"$s 10:00:00")
    // day 1 = {1, 2, 3}, day 2 = {2, 3, 4, 5} (user 2 hits day 2
    // THREE times — must still count once): common 2, union 5.
    val ev = Seq(
      (1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-01"),
      (2L, "2024-01-02"), (2L, "2024-01-02"), (2L, "2024-01-02"),
      (3L, "2024-01-02"), (4L, "2024-01-02"), (5L, "2024-01-02"))
      .zipWithIndex.map { case ((u, d), i) => (i.toLong, u, t(d)) }
      .toDF("event_id", "user_id", "ts")
    val out = Behavior.audienceOverlapOf(ev).collect()
    assert(out.length == 1, "only day 1 has a successor")
    val r = out.head
    assert(r.getLong(1) == 3L && r.getLong(2) == 4L && r.getLong(3) == 2L)
    assert(r.getDouble(4) == 0.4, s"J = 2/5: $r")
    assert(r.getLong(5) == 666666L, s"2 of 3 retained: $r")
  }

  test("trending items: yesterday's spike loses to today's smaller burst") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s"$s 10:00:00")
    // item 1: 10 hits 3 days ago (decayed mass 10/8 = 1.25);
    // item 2: 2 hits today (mass 2.0) — decay must rank 2 first
    // even though raw counts say otherwise.
    val ev = ((1 to 10).map(i => (7L, "2024-01-01")) ++
      Seq((8L, "2024-01-04"), (8L, "2024-01-04")))
      .zipWithIndex.map { case ((item, d), i) =>
        (i.toLong, 1L, s"""{"k": $item}""", t(d)) }
      .toDF("event_id", "user_id", "props", "ts")
    val out = Behavior.trendingItemsOf(ev).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      1 -> ((8L, 2L, 2.0)),
      2 -> ((7L, 10L, 1.25))), s"got ${out.toSeq}")
  }

  test("srm check: duplicate exposures dedup, planted one-arm logging flags srm") {
    val users = (0L until 20L)
    val armOf = users.toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n0 = armOf.values.count(_ == 0L).toLong
    val n1 = 20L - n0
    assert(n0 >= 4 && n1 >= 4, s"md5 parity should roughly balance: $n0/$n1")
    // "view": every user logged TWICE (the distinct must collapse);
    // "click": only arm-0 users logged → a total one-arm SRM.
    val rows = users.flatMap { u =>
      Seq((u, "view", "2024-01-10 10:00:00"), (u, "view", "2024-01-10 11:00:00")) ++
        (if (armOf(u) == 0L) Seq((u, "click", "2024-01-10 12:00:00")) else Nil)
    }
    val got = Behavior.srmCheckOf(eventsDf(rows: _*)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5)))).toMap
    val d = n0 - n1
    val chi2View = math.floor(
      (d * d).toDouble / 20.0 * 1e4 + 0.5) / 1e4
    assert(got("view") == ((n0, n1, n0 * 1000000L / 20L, chi2View,
      (d * d).toDouble / 20.0 > 3.8415)), s"view: ${got("view")}")
    // one-arm logging: chi2 = n0² / n0 = n0 > 3.8415 → srm
    assert(got("click") == ((n0, 0L, 1000000L, n0.toDouble, true)),
      s"click: ${got("click")}")
  }

  test("mde power: planted per-user variance reproduces the hand-computed MDE; tiny arms drop") {
    val users = (0L until 20L)
    val armOf = users.toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per-user value: 10.0 ± 1.0 by user parity (both arms see both
    // signs); each user logs TWO events of 5.0∓... split across two
    // events so the per-user SUM is the unit that carries the spread.
    def uv(u: Long): Double = if (u % 2 == 0) 9.0 else 11.0
    val rows = users.flatMap { u =>
      Seq((u, "purchase", "2024-01-10 10:00:00", uv(u) - 4.0),
        (u, "purchase", "2024-01-10 11:00:00", 4.0)) ++
        // a type with a single user per arm → must be dropped
        (if (u == 0L) Seq((u, "tiny", "2024-01-10 10:00:00", 1.0)) else Nil)
    }
    val ev = rows.toDF("user_id", "event_type", "t", "value")
      .select(lit(0L).as("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val got = Behavior.mdePowerOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(!got.contains("tiny"), "single-user arms carry no variance estimate")
    // hand-compute with the same double sequence over micro sums
    def moments(arm: Long) = {
      val vs = users.filter(armOf(_) == arm)
        .map(u => math.floor((uv(u) - 4.0) * 1e6 + 0.5).toLong + 4000000L)
      val n = vs.size.toDouble
      val s = vs.map(BigDecimal(_)).sum
      val ss = vs.map(v => BigDecimal(v) * BigDecimal(v)).sum
      (n, s.toDouble, ss.toDouble)
    }
    val (na, sa, ssa) = moments(0L); val (nb, sb, ssb) = moments(1L)
    def varOf(n: Double, s: Double, ss: Double) =
      math.max((ss - s * s / n) / (n - 1.0), 0.0)
    val se = math.sqrt(varOf(na, sa, ssa) / na + varOf(nb, sb, ssb) / nb)
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val exp = (na.toLong, nb.toLong, r4(sa / na / 1e6),
      r4(2.801585 * se / 1e6), r4(2.801585 * se / (sa / na)))
    assert(got("purchase") == exp, s"got ${got("purchase")}, want $exp")
  }

  // Independent KM/RMST fold (all-churned cohort, day grid): the
  // operator's algebra re-derived in plain Scala, used as the spec
  // oracle for the quantized multi-step case.
  private def expectedRmst(durations: Seq[Long], tau: Long): Double = {
    val byDur = durations.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (t, ds) => (t, ds.size.toLong) }
    var atRisk = durations.size.toLong
    var s = 1.0; var tp = 0L; var tot = BigInt(0)
    for ((t, d) <- byDur) {
      tot += BigInt(math.floor(s * 1e9 + 0.5).toLong) *
        (math.min(t, tau) - math.min(tp, tau))
      val q = d * 1000000000L / atRisk
      s = s * ((1000000000L - q).toDouble / 1e9)
      tp = t; atRisk -= d
    }
    tot += BigInt(math.floor(s * 1e9 + 0.5).toLong) * (tau - math.min(tp, tau))
    math.floor(tot.toDouble / 1e9 * 1e6 + 0.5) / 1e6
  }

  test("rmst: un-churned arm reads the full horizon; churn areas match the independent KM fold") {
    val users = (0L until 20L)
    val armOf = users.toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val arm0 = users.filter(armOf(_) == 0L)
    val arm1 = users.filter(armOf(_) == 1L)
    assert(arm0.nonEmpty && arm1.nonEmpty)
    def ev(u: Long, t: String) = (u, "view", t)
    // Case 1: arm 0 all churns at duration 2; arm 1 stays through the
    // report date (censored) → S₀ drops to 0 at t=2 (area exactly 2),
    // S₁ ≡ 1 (area = τ). Anchor 999 fixes report_date = Jan 20.
    val rows = arm0.flatMap(u =>
      Seq(ev(u, "2024-01-01 10:00:00"), ev(u, "2024-01-03 10:00:00"))) ++
      arm1.flatMap(u =>
        Seq(ev(u, "2024-01-01 10:00:00"), ev(u, "2024-01-20 10:00:00"))) :+
      ev(999L, "2024-01-20 10:00:00")
    val got = Behavior.rmstArmsOf(eventsDf(rows: _*), horizonDays = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val anchorArm = armOf.getOrElse(999L,
      spark.range(1).select(Behavior.arm2(lit(999L))).collect().head.getLong(0))
    val (u0, u1) = (arm0.size + (if (anchorArm == 0L) 1 else 0),
      arm1.size + (if (anchorArm == 1L) 1 else 0))
    assert(got(0L) == ((u0.toLong, 1L, 2.0)), s"arm0: ${got(0L)}")
    assert(got(1L) == ((u1.toLong, 0L, 10.0)), s"arm1: ${got(1L)}")
    // Case 2: staggered churn (arm 0 splits 2/5, arm 1 all at 3) —
    // the quantized multi-step fold vs the independent Scala oracle.
    val (h0a, h0b) = arm0.splitAt(arm0.size / 2)
    val rows2 = h0a.flatMap(u =>
      Seq(ev(u, "2024-01-01 10:00:00"), ev(u, "2024-01-03 10:00:00"))) ++
      h0b.flatMap(u =>
        Seq(ev(u, "2024-01-01 10:00:00"), ev(u, "2024-01-06 10:00:00"))) ++
      arm1.flatMap(u =>
        Seq(ev(u, "2024-01-01 10:00:00"), ev(u, "2024-01-04 10:00:00"))) :+
      ev(999L, "2024-01-25 10:00:00")
    val got2 = Behavior.rmstArmsOf(eventsDf(rows2: _*), horizonDays = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val exp0 = expectedRmst(
      h0a.map(_ => 2L) ++ h0b.map(_ => 5L), 10L)
    val exp1 = expectedRmst(arm1.map(_ => 3L), 10L)
    assert(got2(0L) == exp0, s"arm0: ${got2(0L)} vs $exp0")
    assert(got2(1L) == exp1, s"arm1: ${got2(1L)} vs $exp1")
  }

  test("ltv early signal: perfect linear late spend reads r=1, inverted reads r=-1, zero-variance nulls") {
    import spark.implicits._
    def df(rows: (Long, String, Double)*) =
      rows.zipWithIndex.map { case ((u, t, v), i) => (i.toLong, u, t, v) }
        .toDF("event_id", "user_id", "t", "value")
        .select(col("user_id"), to_timestamp(col("t")).as("ts"), col("value"))
    // early = the user's own first 7 days; late = day 10
    val lin = df(
      (1L, "2024-01-01 10:00:00", 1.0), (1L, "2024-01-11 10:00:00", 2.0),
      (2L, "2024-01-01 10:00:00", 2.0), (2L, "2024-01-11 10:00:00", 4.0),
      (3L, "2024-01-01 10:00:00", 3.0), (3L, "2024-01-11 10:00:00", 6.0))
    val r1 = Behavior.ltvEarlySignalOf(lin).collect().head
    assert(r1.getLong(0) == 3L && r1.getDouble(2) == 1.0, s"$r1")
    // early 6 of 18 total → 333333 ppm
    assert(r1.getLong(1) == 333333L, s"$r1")
    val inv = df(
      (1L, "2024-01-01 10:00:00", 1.0), (1L, "2024-01-11 10:00:00", 6.0),
      (2L, "2024-01-01 10:00:00", 2.0), (2L, "2024-01-11 10:00:00", 4.0),
      (3L, "2024-01-01 10:00:00", 3.0), (3L, "2024-01-11 10:00:00", 2.0))
    assert(Behavior.ltvEarlySignalOf(inv).collect().head.getDouble(2) == -1.0)
    // identical early spend for every user → dx = 0 → r NULL
    val flat = df(
      (1L, "2024-01-01 10:00:00", 1.0), (1L, "2024-01-11 10:00:00", 2.0),
      (2L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-11 10:00:00", 5.0))
    assert(Behavior.ltvEarlySignalOf(flat).collect().head.isNullAt(2))
  }

  test("association rules: directional confidences are exact ppm and asymmetric") {
    import spark.implicits._
    // item 1 in 10 baskets, item 2 in 6; together in 6 →
    // conf(1→2) = 600000 ppm, conf(2→1) = 1000000 ppm.
    val rows =
      (1L to 10L).map(u => (u, 1L)) ++ (1L to 6L).map(u => (u, 2L))
    val ev = rows.map { case (u, k) => (u, s"""{"k": $k}""") }
      .toDF("user_id", "props")
    val out = graft.operators.Behavior.associationRulesOf(ev).collect()
    assert(out.length == 1, s"${out.toSeq}")
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((1L, 2L, 6L, 10L, 6L, 600000L, 1000000L)), s"got $r")
  }

  test("brown-forsythe fires on a pure SPREAD effect that anova F cannot see") {
    // equal means (10) in every arm, arm-dependent spread ±(arm+1):
    // ANOVA on the raw values reads ~zero between-arm signal; the
    // Levene |v − median| transform turns the spread difference into
    // a MEAN difference and W fires. Hand-compute W through the same
    // lower-median/moment algebra on the recovered arm map.
    val users = (0L until 60L)
    val armOf = users.toDF("user_id")
      .select(col("user_id"), Behavior.arm3(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(armOf.values.toSet == Set(0L, 1L, 2L), "all arms populated")
    // signs alternate WITHIN each arm (a global parity leaves arms
    // sign-skewed under the hash split) and spreads go 1:4:9 so the
    // between-arm z signal clears the critical decisively
    val rows = users.groupBy(armOf).toSeq.flatMap { case (a, us) =>
      us.toSeq.sorted.zipWithIndex.map { case (u, j) =>
        val d = ((a + 1) * (a + 1)).toDouble
        (u, "click", "2026-01-01 10:00:00",
          10.0 + (if (j % 2 == 0) -d else d))
      }
    }
    def ev(rs: Seq[(Long, String, String, Double)]) =
      rs.toDF("user_id", "event_type", "t", "value")
        .select(col("user_id"), col("event_type"),
          to_timestamp(col("t")).as("ts"), col("value"))
    val r = Behavior.brownForsytheOf(ev(rows)).collect().head
    // replicate: micro grid, per-arm LOWER median, z = |v − m|, then
    // the one-way F combination over z
    val byArm: Map[Long, Seq[Long]] = rows.groupBy(t => armOf(t._1))
      .map { case (a, ts) =>
        a -> ts.map(t => math.floor(t._4 * 1e6 + 0.5).toLong).toSeq }
    val z: Map[Long, Seq[Double]] = byArm.map { case (a, vs) =>
      val sorted = vs.sorted
      val m = sorted((vs.size + 1) / 2 - 1)
      a -> vs.map(v => math.abs(v - m).toDouble)
    }
    val n = rows.size.toDouble
    val all = z.values.flatten.toSeq
    val sb = (0 until 3).map { a =>
      val s = z(a.toLong).sum; s * s / z(a.toLong).size }.sum
    val st = all.sum
    val ssb = sb - st * st / n
    val ssw = all.map(v => v * v).sum - sb
    val w = (ssb / 2.0) / (ssw / (n - 3))
    assert(r.getDouble(4) == math.floor(w * 1e6 + 0.5) / 1e6, s"got $r vs $w")
    assert(r.getBoolean(5), "a 1:2:3 spread ratio at n=60 must fire")
    // the same data's ANOVA reads equal means: F far below critical
    val f = Behavior.anovaFOf(ev(rows)).collect().head
    assert(!f.getBoolean(5), s"anova must NOT fire on a spread effect: $f")
  }

  /** arm2 assignments for user ids 1..200, resolved through the real
    * md5 hash — tests plant paradoxes against ACTUAL arms. */
  private lazy val armOf: Map[Long, Long] =
    spark.range(1, 201).select(col("id"),
      Behavior.arm2(col("id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("simpson reversal: aggregate sign contradicted by every weekday") {
    val a0 = armOf.collect { case (u, 0L) => u }.take(20).toSeq
    val a1 = armOf.collect { case (u, 1L) => u }.take(20).toSeq
    // 1970-01-05 is datediff 4 → dow 4; 1970-01-06 → dow 5.
    // Stratum dow4 (high-value): arm0 one user at 10.0; arm1 nine
    // users at 9.0 — arm1 LOSES (9 < 10).
    // Stratum dow5 (low-value): arm0 nine users at 2.0; arm1 one
    // user at 1.0 — arm1 LOSES (1 < 2).
    // Aggregate: arm0 (10+18)/10 = 2.8 < arm1 (81+1)/10 = 8.2 —
    // arm1 WINS: the strict paradox.
    val rows =
      Seq((a0.head, "1970-01-05 10:00:00", 10.0)) ++
      a1.take(9).map((_, "1970-01-05 11:00:00", 9.0)) ++
      a0.slice(1, 10).map((_, "1970-01-06 10:00:00", 2.0)) ++
      Seq((a1(9), "1970-01-06 11:00:00", 1.0))
    val ev = rows.zipWithIndex.map { case ((u, t, v), i) =>
        (i.toLong, u, "buy", t, v) }
      .toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val r = Behavior.simpsonReversalOf(ev).collect().head
    assert(r.getString(0) == "buy")
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 0L, 2L)),
      s"both strata comparable, both negative: $r")
    assert(r.getDouble(4) == 5.4, s"overall diff 8.2 - 2.8: $r")
    assert(r.getInt(5) == 1 && r.getBoolean(6),
      s"aggregate up, every stratum down -> strict reversal: $r")
    assert(r.getDouble(7) == 1.0, s"reversed_share: $r")
  }

  test("simpson reversal: concordant strata do not flag") {
    val a0 = armOf.collect { case (u, 0L) => u }.take(5).toSeq
    val a1 = armOf.collect { case (u, 1L) => u }.take(5).toSeq
    val rows =
      a0.map((_, "1970-01-05 10:00:00", 1.0)) ++
      a1.map((_, "1970-01-05 11:00:00", 2.0)) ++
      a0.map((_, "1970-01-06 10:00:00", 3.0)) ++
      a1.map((_, "1970-01-06 11:00:00", 4.0))
    val ev = rows.zipWithIndex.map { case ((u, t, v), i) =>
        (i.toLong, u, "buy", t, v) }
      .toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val r = Behavior.simpsonReversalOf(ev).collect().head
    assert(r.getInt(5) == 1 && !r.getBoolean(6) && r.getDouble(7) == 0.0,
      s"aggregate up, both strata up -> no reversal: $r")
  }

  test("jackknife ratio SE: constant per-user values collapse to se 0") {
    // 40 users, one event each, all value 7.0: every leave-one-bucket-
    // out replicate is exactly 7.0 -> jk_se 0, ci degenerate at theta.
    val ev = (1L to 40L).zipWithIndex.map { case (u, i) =>
        (i.toLong, u, "buy", "2024-01-01 10:00:00", 7.0) }
      .toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val r = Behavior.jackknifeRatioSeOf(ev).collect().head
    assert(r.getLong(1) == 40L, s"n_users: $r")
    assert(r.getLong(2) > 1L, s"40 users spread over >1 bucket: $r")
    assert((r.getDouble(3), r.getDouble(4)) == ((7.0, 0.0)), s"$r")
    assert((r.getDouble(5), r.getDouble(6)) == ((7.0, 7.0)), s"ci: $r")
  }

  test("jackknife ratio SE: theta is value per DISTINCT user; B<2 refuses") {
    // one user, three events of 2.0 -> theta 6.0/1; a single occupied
    // bucket cannot jackknife -> NULL se and ci
    val ev = Seq((1L, 1L, "buy", "2024-01-01 10:00:00", 2.0),
        (2L, 1L, "buy", "2024-01-02 10:00:00", 2.0),
        (3L, 1L, "buy", "2024-01-03 10:00:00", 2.0))
      .toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val r = Behavior.jackknifeRatioSeOf(ev).collect().head
    assert(r.getLong(1) == 1L && r.getLong(2) == 1L, s"$r")
    assert(r.getDouble(3) == 6.0, s"ratio folds events, divides users: $r")
    assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6),
      s"B=1 must refuse, not publish se=0: $r")
  }

  test("aa calibration: a constant metric yields no tests, a poisoned cell flags") {
    def ev(rows: Seq[(Long, Double)]) = rows.zipWithIndex.map {
        case ((u, v), i) => (i.toLong, u, "buy", "2024-01-01 10:00:00", v) }
      .toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    // constant metric: every pair's pooled variance is 0 → no z
    // exists → the battery publishes NOTHING (never z = 0)
    assert(Behavior.aaCalibrationOf(ev((1L to 200L).map((_, 5.0)))).isEmpty)
    // cells resolved through the real md5 so the poison lands on ONE cell
    val cellOf = spark.range(1, 201).select(col("id"),
        (conv(substring(md5(concat(lit("aa:"), col("id").cast("string"))),
          1, 8), 16, 10).cast("long") % 32).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = (1L to 200L).map { u =>
      val base = 1.0 + (u % 3) * 0.1 // within-cell spread so z exists
      (u, if (cellOf(u) == 7L) base + 50.0 else base)
    }
    val out = Behavior.aaCalibrationOf(ev(rows)).collect()
    assert(out.length == 1 && out.head.getString(0) == "buy")
    val r = out.head
    assert(r.getLong(1) >= 10L, s"200 users fill most of the 16 pairs: $r")
    assert(r.getLong(2) >= 1L, s"the poisoned pair (cells 6/7) must flag: $r")
    assert(r.getDouble(4) > 10.0, s"max |z| carries the 50-unit poison: $r")
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0, s"$r")
  }

  test("trigger dilution: ITT over the population vs the triggered slice") {
    val a0 = armOf.collect { case (u, 0L) => u }.take(4).toSeq
    val a1 = armOf.collect { case (u, 1L) => u }.take(4).toSeq
    // population 4+4; triggered (>=1 view): a0(0), a0(1), a1(0), a1(1)
    // buys: a1(0) 8.0 (triggered), a1(2) 4.0 (UNtriggered), a0(0) 2.0
    val rows =
      Seq(a0(0), a0(1), a1(0), a1(1)).map((_, "view", 0.0)) ++
      Seq(a0(2), a0(3), a1(2), a1(3)).map((_, "signup", 0.0)) ++ // in pop
      Seq((a1(0), "buy", 8.0), (a1(2), "buy", 4.0), (a0(0), "buy", 2.0))
    val ev = rows.zipWithIndex.map { case ((u, t, v), i) =>
        (i.toLong, u, t, "2024-01-01 10:00:00", v) }
      .toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    val out = Behavior.triggerDilutionOf(ev).collect()
      .map(r => r.getString(0) -> r).toMap
    val b = out("buy")
    assert((b.getLong(1), b.getLong(2), b.getLong(3)) ==
      ((8L, 4L, 500000L)), s"population 8, triggered 4: $b")
    // ITT: arm1 (8+4)/4 - arm0 2/4 = 2.5; triggered: 8/2 - 2/2 = 3.0
    assert(b.getDouble(4) == 2.5 && b.getDouble(5) == 3.0, s"$b")
    assert(b.getDouble(6) == math.floor(2.5 / 3.0 * 1e6 + 0.5) / 1e6,
      s"dilution 0.833333: $b")
    // the zero-valued view metric: both ATEs 0 -> dilution refuses
    val v = out("view")
    assert(v.getDouble(4) == 0.0 && v.getDouble(5) == 0.0 && v.isNullAt(6),
      s"0/0 dilution must be NULL, never NaN: $v")
  }

  test("one-arm-only event types drop from simpson/jackknife/aa, never divide by zero") {
    // user 3 is arm 1, user 4 arm 0 (md5-resolved below) — build a
    // type whose every event sits on ONE arm
    val arm = spark.range(1, 50).select(col("id"),
        graft.operators.Behavior.arm2(col("id")).as("a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneArm = arm.collect { case (u, 0L) => u }.take(3).toSeq
    val ev = oneArm.zipWithIndex.map { case (u, i) =>
      (i.toLong, u, "solo", "2024-01-01 10:00:00", 1.0) }
      .toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))
    assert(graft.operators.Behavior.simpsonReversalOf(ev).isEmpty,
      "no opposite arm -> no aggregate comparison -> no row")
    val jk = graft.operators.Behavior.jackknifeRatioSeOf(ev).collect()
    assert(jk.length == 1 && jk.head.getDouble(3) == 1.0,
      s"jackknife ignores arms entirely: ${jk.toSeq}")
    assert(graft.operators.Behavior.aaCalibrationOf(ev).isEmpty,
      "three users cannot fill a cell pair with n>1 on both sides")
  }

  // ---- power_mde: the published cells recompute the chain exactly ----

  private def purchaseEvents(n: Int, buyers: Long => Boolean): DataFrame =
    (1L to n.toLong).map { u =>
      val et = if (buyers(u)) "purchase" else "view"
      (u, u, et, "2024-01-05 00:00:00", 1.0)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))

  test("power_mde: the MDE chain recomputes exactly from the published cells") {
    val out = Behavior.powerMdeOf(purchaseEvents(80, _ % 3 == 0)).collect()
    assert(out.length == 1)
    val r = out(0)
    val (n0, n1, c0, c1) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    assert(n0 + n1 == 80L && c0 + c1 > 0L)
    val p = (c0 + c1).toDouble / (n0 + n1).toDouble
    val raw = (1.959964 + 0.841621) *
      math.sqrt(p * (1.0 - p) * (1.0 / n0 + 1.0 / n1))
    val expected = math.floor(raw * 1e6 + 0.5) / 1e6
    assert(r.getDouble(4) == expected, s"mde chain: $r vs $expected")
    assert(r.getBoolean(6) == (r.getDouble(5) > r.getDouble(4)))
  }

  test("power_mde: a conversion-free corpus nulls the MDE, never claims power") {
    val out = Behavior.powerMdeOf(purchaseEvents(40, _ => false)).collect()
    assert(out(0).isNullAt(4), s"p=0 has no variance: ${out(0)}")
    assert(!out(0).getBoolean(6))
  }

  test("tost_equivalence: same-mean arms read equivalent, a planted lift does not") {
    // every user contributes 8.0 and 12.0 → each arm's mean is
    // EXACTLY 10, within-arm variance 4 → se ~ 0.28 at ~100/arm,
    // margin = 1.0 → both z ~ 3.5
    val same = (1L to 100L).flatMap { u =>
      Seq((u * 2, u, "buy", 8.0), (u * 2 + 1, u, "buy", 12.0))
    }.toDF("event_id", "user_id", "event_type", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("ts"), col("value"))
    val eq = Behavior.tostEquivalenceOf(same).collect()(0)
    assert(eq.getDouble(3) == 0.0, s"mean diff exactly 0: $eq")
    assert(eq.getDouble(4) == 1.0, s"margin = 10% of control mean: $eq")
    assert(eq.getBoolean(7), s"same-mean arms must read equivalent: $eq")
    // resolve arms, plant +10 on arm 1: far outside the 1.0 margin
    val arms = (1L to 100L).toDF("user_id")
      .select(col("user_id"), Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shifted = (1L to 100L).flatMap { u =>
      val base = 10.0 * arms(u)
      Seq((u * 2, u, "buy", base + 8.0), (u * 2 + 1, u, "buy", base + 12.0))
    }.toDF("event_id", "user_id", "event_type", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("ts"), col("value"))
    val ne = Behavior.tostEquivalenceOf(shifted).collect()(0)
    assert(!ne.getBoolean(7), s"a 10-unit lift is not equivalence: $ne")
  }

  test("money grids: cents, micro and the floor grids on boundary doubles") {
    // Expected values are IEEE-double arithmetic, as DuckDB's
    // FLOOR(x * 100 + 0.5) and FLOOR(x * 1e6) compute them.
    val xs = Seq(0.125, -0.125, 2.675, 1.005, -999.995, 0.005).toDF("x")
    def grid(f: Column => Column) =
      xs.select(f(col("x"))).collect().map(_.getLong(0)).toSeq
    assert(grid(Behavior.cents) == Seq(13L, -12L, 268L, 100L, -99999L, 1L))
    assert(grid(Behavior.centsDown) ==
      Seq(12L, -13L, 267L, 100L, -100000L, 0L))
    assert(grid(Behavior.micro) ==
      Seq(125000L, -125000L, 2675000L, 1005000L, -999995000L, 5000L))
    assert(grid(Behavior.microDown) ==
      Seq(125000L, -125000L, 2675000L, 1004999L, -999995000L, 5000L))
    // The scalar twins the streaming monitors and JVM kernels call must
    // give what Spark gives for their Column homes, or a monitor and
    // its batch twin round one value two ways. 0.93625 is the half-way
    // double round4HalfUp's doc names.
    val ds = Seq(0.125, -0.125, 2.675, 1.005, -999.995, 0.005, 0.93625)
    val byColumn = ds.toDF("x")
      .select(Behavior.micro(col("x")), TextF.round4HalfUp(col("x")),
        TextF.round6HalfUp(col("x")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(byColumn.toSeq == ds.map(x =>
      (Behavior.micro(x), TextF.round4HalfUp(x), TextF.round6HalfUp(x))))
    val qs = Seq(12345650L, -12345650L, 50L, -50L)
    val qByColumn = qs.toDF("q").select(TextF.microsTo4dp(col("q")))
      .collect().map(_.getDouble(0))
    assert(qByColumn.toSeq == qs.map(q => TextF.microsTo4dp(q)))
    assert(qByColumn.toSeq == Seq(12.3457, -12.3456, 1.0e-4, 0.0))
  }
}
