package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Behavior, CorpusStats, EventAnalytics, Multimodal,
  Robust, Similarity, Warehouse}

/** Adversarial edge-case audit of the round-16 operator tranche (the
  * standing hostile-input practice): every case pins either a
  * hand-computed exact value on a fixture built to stress the
  * argued-but-untested property (threshold boundaries, window-max
  * ties, denominator-zero refusals) or the DOCUMENTED degradation on
  * degenerate input — never an exception. */
class Round16TrancheSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

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

  // ---- Cochran's Q + Fleiss kappa: exact hand pins via the lang gate ----

  /** Docs whose ONLY passable gate is lang=='en': empty text fails the
    * gopher conjunction and the quality threshold via the coalesce
    * contract, so each doc's pass count is 1 (en) or 0 (other). */
  private def langOnlyDocs(en: Int, other: Int): DataFrame =
    ((1 to en).map(i => (i.toLong, "", "en")) ++
      (1 to other).map(i => ((en + i).toLong, "", "de")))
      .toDF("doc_id", "text", "lang")

  test("cochran_q_gates: lang-only passes give the exact Q = 2c pin") {
    // c_gopher = c_quality = 0, c_lang = c, T = c, sum R^2 = c →
    // Q = 2*(3c^2 - c^2)/(3c - c) = 2c. c = 10 → Q = 20, significant.
    val out = CorpusStats.cochranQGatesOf(langOnlyDocs(10, 5)).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 15L && r.getLong(1) == 0L &&
      r.getLong(2) == 0L && r.getLong(3) == 10L, s"cells: $r")
    assert(r.getDouble(4) == 20.0, s"Q = 2c exactly: $r")
    assert(r.getBoolean(5))
  }

  test("cochran_q_gates: unanimous docs zero the denominator and refuse the verdict") {
    val out = CorpusStats.cochranQGatesOf(langOnlyDocs(0, 8)).collect()
    assert(out.length == 1)
    assert(out(0).isNullAt(4), s"all-R=0 → Q undefined: ${out(0)}")
    assert(!out(0).getBoolean(5))
  }

  test("fleiss_kappa_gates: the hand-computed kappa = -0.2 'poor' pin") {
    // n = 4, 2 en + 2 other: P(R=1) = 1/3, P(R=0) = 1 → Pbar = 2/3;
    // p = 2/12 → Pe = 13/18; kappa = (2/3 - 13/18)/(5/18) = -0.2.
    val out = CorpusStats.fleissKappaGatesOf(langOnlyDocs(2, 2)).collect()
    assert(out.length == 1)
    assert(out(0).getDouble(2) == -0.2, s"kappa: ${out(0)}")
    assert(out(0).getString(3) == "poor")
  }

  test("fleiss_kappa_gates: all-R-equal chance agreement 1 reads 'undefined'") {
    val out = CorpusStats.fleissKappaGatesOf(langOnlyDocs(0, 6)).collect()
    assert(out(0).isNullAt(2) && out(0).getString(3) == "undefined")
  }

  // ---- Durbin-Watson: exact DW pins on two-week fixtures ----

  private def dailyEvents(rows: (String, Double)*): DataFrame =
    rows.zipWithIndex.map { case ((d, v), i) =>
      (i.toLong, i.toLong, "rev", d + " 12:00:00", v)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))

  test("durbin_watson: a two-week level shift pins DW = 1.0 'positive'") {
    // Weekday means are the midpoints, residuals [-1,-1,+1,+1]·1e9:
    // num = 0 + (2e9)^2 + 0, den = 4e18 → DW = 1.0 exactly.
    val out = EventAnalytics.durbinWatsonOf(dailyEvents(
      "2024-01-01" -> 10.0, "2024-01-02" -> 20.0,
      "2024-01-08" -> 30.0, "2024-01-09" -> 40.0)).collect()
    assert(out.length == 1)
    assert(out(0).getDouble(2) == 1.0, s"DW: ${out(0)}")
    assert(out(0).getString(3) == "positive")
  }

  test("durbin_watson: an alternating shift pins DW = 2.0 'none'") {
    // Residuals [+1,-1,-1,+1]·1e9 → num 8e18 / den 4e18 = 2.0.
    val out = EventAnalytics.durbinWatsonOf(dailyEvents(
      "2024-01-01" -> 30.0, "2024-01-02" -> 10.0,
      "2024-01-08" -> 10.0, "2024-01-09" -> 30.0)).collect()
    assert(out(0).getDouble(2) == 2.0, s"DW: ${out(0)}")
    assert(out(0).getString(3) == "none")
  }

  test("durbin_watson: weekday-constant series nulls DW as 'undefined'") {
    val out = EventAnalytics.durbinWatsonOf(dailyEvents(
      "2024-01-01" -> 10.0, "2024-01-02" -> 20.0,
      "2024-01-08" -> 10.0, "2024-01-09" -> 20.0)).collect()
    assert(out(0).isNullAt(2), s"zero residuals → null, not NaN: ${out(0)}")
    assert(out(0).getString(3) == "undefined")
  }

  // ---- embedding MMD: exact separation pin + single-label refusal ----

  private def embs(rows: (Long, Seq[Double], Long)*): DataFrame =
    rows.toDF("vec_id", "embedding", "label")

  test("embedding_mmd: orthogonal one-hot labels pin MMD^2 = 2.0 exactly") {
    // label 0 mean (1,0), complement mean (0,1): per-dim gaps ±1e12,
    // MMD^2 = 2e24/1e24 = 2.0; top_dim ties on gap^2 → smallest pos.
    val out = Similarity.embeddingMmdOf(embs(
      (1L, Seq(1.0, 0.0), 0L), (2L, Seq(1.0, 0.0), 0L),
      (3L, Seq(0.0, 1.0), 1L))).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getDouble(3) == 2.0, s"mmd2: $r")
      assert(r.getInt(4) == 0, s"tie → smallest dim: $r")
      assert(r.getLong(5) == 500000L, s"even split: $r")
    }
    val byLabel = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byLabel(0L) == (2L, 1L) && byLabel(1L) == (1L, 2L))
  }

  test("embedding_mmd: a single-label corpus has no complement and emits nothing") {
    val out = Similarity.embeddingMmdOf(embs(
      (1L, Seq(1.0, 0.0), 0L), (2L, Seq(0.5, 0.5), 0L))).collect()
    assert(out.isEmpty, s"no complement → no row: ${out.mkString(";")}")
  }

  // ---- quantile lift: planted separation pins every quantile ----

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

  // ---- sentence dedup: exact per-source duplication accounting ----

  test("sentence_dedup: cross-source duplicate sentences count per instance; fragments filter") {
    val docs = Seq(
      (1L, "The quick brown fox jumps over the dog. Alpha beta gamma delta epsilon zeta eta.", "a"),
      (2L, "The quick brown fox jumps over the dog. Short.", "a"),
      (3L, "The quick brown fox jumps over the dog.", "b"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.Corpus.sentenceDedupOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(out("a") == ((3L, 2L, 2L, 666666L)),
      s"src a: 3 sentences, 2 distinct, 2 dup instances: $out")
    assert(out("b") == ((1L, 1L, 1L, 1000000L)),
      s"src b: its one sentence is a corpus-wide dup: $out")
  }

  // ---- source overlap: exact gram pair + absent-pair contract ----

  test("source_overlap_matrix: one shared 8-gram pins the pair; disjoint pairs emit no row") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9", "a"),  // grams: [w1..w8], [w2..w9]
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 x9", "b"),  // shares [w1..w8] only
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8", "c"))     // disjoint
      .toDF("doc_id", "text", "source")
    val out = graft.operators.Corpus.sourceOverlapMatrixOf(docs).collect()
    assert(out.length == 1, s"only (a,b) overlaps: ${out.mkString(";")}")
    val r = out(0)
    assert(r.getString(0) == "a" && r.getString(1) == "b")
    assert(r.getLong(2) == 1L && r.getLong(3) == 2L && r.getLong(4) == 2L,
      s"shared/totals: $r")
    assert(r.getLong(5) == 333333L, s"jaccard 1/3 ppm: $r")
  }

  // ---- audio clipping: the hot-threshold boundary on exact bytes ----

  test("audio_clipping_audit: the 15000 boundary splits 'u' (15040) from 't' (14976)") {
    // byte b → |sample| = (b<<7)+64: 'u'=117 → 15040 (hot), 't'=116 →
    // 14976 (cold); "uuut" → 3 hot of 4, ppm = 750000.
    val docs = Seq((1L, "uuut", "xsrc")).toDF("doc_id", "text", "source")
    val out = Multimodal.audioClippingAuditOf(docs).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(2) == 4L && r.getLong(3) == 3L, s"hot count: $r")
    assert(r.getLong(4) == 1L, "one hot doc")
    assert(r.getLong(5) == 15040L, s"peak: $r")
    assert(r.getLong(6) == 750000L, s"ppm: $r")
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

  // ---- fourth tranche: the assumption-audit stats shelf ----

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

  test("ljung_box: a period-2 cycle is detected; short series refuses; constant series nulls Q") {
    def mk(rows: Seq[(String, Int)]): DataFrame =
      rows.zipWithIndex.flatMap { case ((d, c), _) =>
        (1 to c).map(j => (d, j))
      }.zipWithIndex.map { case ((d, _), i) => (i.toLong, i.toLong, "buy", d) }
        .toDF("event_id", "user_id", "event_type", "d")
        .select(col("event_id"), col("user_id"), col("event_type"),
          to_timestamp(col("d")).as("ts"), lit(1.0).as("value"))
    // 30 days alternating 1/11 events: strong negative lag-1, positive
    // lag-2 autocorrelation → Q far above 14.067
    val alt = mk((1 to 30).map(i =>
      (f"2024-01-$i%02d 00:00:00", if (i % 2 == 0) 11 else 1)))
    val out = EventAnalytics.ljungBoxOf(alt).collect()(0)
    assert(out.getLong(1) == 30L && out.getLong(2) == 7L, s"$out")
    assert(out.getDouble(3) > 14.067140 && out.getBoolean(4), s"$out")
    // 6 days: only 5 lags observable → verdict refuses
    val short = mk((1 to 6).map(i =>
      (f"2024-01-$i%02d 00:00:00", i)))
    val s = EventAnalytics.ljungBoxOf(short).collect()(0)
    assert(s.getLong(2) == 5L && s.isNullAt(4), s"partial lags refuse: $s")
    // constant series: den = 0 → Q null, verdict null
    val const = mk((1 to 20).map(i => (f"2024-01-$i%02d 00:00:00", 3)))
    val c = EventAnalytics.ljungBoxOf(const).collect()(0)
    assert(c.isNullAt(3) && c.isNullAt(4), s"constant refuses: $c")
  }

  // ---- fifth tranche: n-gram novelty, the acquisition curve ----

  test("ngram_novelty: the first holder claims the gram, repeats claim nothing") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9", "a"),  // both grams novel
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9", "a"),  // exact repeat: 0
      (3L, "w2 w3 w4 w5 w6 w7 w8 w9 x1", "b"),  // shares [w2..w9]: 1/2
      (4L, "too short", "b"))                   // <8 tokens: absent
      .toDF("doc_id", "text", "source")
    val out = graft.operators.Dedup.ngramNoveltyOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 3 && !out.contains(4L))
    assert(out(1L).getLong(3) == 2L && out(1L).getLong(4) == 1000000L)
    assert(out(2L).getLong(3) == 0L && out(2L).getLong(4) == 0L)
    assert(out(3L).getLong(2) == 2L && out(3L).getLong(3) == 1L &&
      out(3L).getLong(4) == 500000L, s"${out(3L)}")
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

  // ---- sixth tranche: the third residual gate + the arrival dashboard ----

  private def weekEvents(resid: Int => Long): DataFrame = {
    // 4 weeks × 7 weekdays, base level 100·(w+1) dollars, residuals
    // ±resid(w) alternating within each weekday so the weekday mean
    // is EXACTLY the base (cent grid, no truncation loss).
    val rows = for {
      week <- 0 until 4
      w <- 0 until 7
    } yield {
      val dayIdx = week * 7 + w
      val sign = if (week % 2 == 0) 1L else -1L
      val cents = (w + 1) * 10000L + sign * resid(w)
      (dayIdx.toLong, dayIdx.toLong, "buy",
        f"2024-01-${dayIdx + 1}%02d 00:00:00", cents / 100.0)
    }
    rows.toDF("event_id", "user_id", "event_type", "d", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("d")).as("ts"), col("value"))
  }

  test("breusch_pagan: level-proportional noise flags, alternating noise does not") {
    // NOTE 2024-01-01 is a Monday but the op buckets by epoch-day mod
    // 7 — the fixture only needs each calendar weekday to hold its own
    // level, which consecutive days give regardless of phase.
    val het = EventAnalytics.breuschPaganOf(
      weekEvents(w => (w + 1) * 1000L)).collect()(0)
    assert(het.getLong(1) == 28L, s"$het")
    assert(!het.isNullAt(2) && het.getDouble(2) > 3.841459, s"lm: $het")
    assert(het.getBoolean(3), s"level-proportional noise must flag: $het")
    val hom = EventAnalytics.breuschPaganOf(
      weekEvents(w => if (w % 2 == 0) 2000L else 1000L)).collect()(0)
    assert(!hom.isNullAt(2) && hom.getDouble(2) < 3.841459, s"lm: $hom")
    assert(!hom.getBoolean(3), s"level-blind noise must not flag: $hom")
    // constant residual variance: the aux regression is 0/0 — refuse
    val const = EventAnalytics.breuschPaganOf(
      weekEvents(_ => 1000L)).collect()(0)
    assert(const.isNullAt(2) && const.isNullAt(3),
      s"degenerate constant e² refuses: $const")
  }

  test("arrival_quality_mix: exact token masses, decile arithmetic, quality consistency") {
    val text = "the cat sat on a mat with the hat"   // 9 ws tokens
    val docs = (1L to 10L).map { id =>
      (id, text, if (id <= 5) "early-src" else "late-src")
    }.toDF("doc_id", "text", "source")
    val out = graft.operators.CorpusStats.arrivalQualityMixOf(docs).collect()
    assert(out.length == 10, s"one (decile, source) row per doc here")
    assert(out.map(_.getLong(0)).toSeq == (0L to 9L))
    out.foreach { r =>
      assert(r.getLong(2) == 1L && r.getLong(4) == 9L,
        s"ws tokens exact: $r")
      assert(r.getString(1) == (if (r.getLong(0) <= 4) "early-src"
        else "late-src"), s"source mix follows arrival: $r")
    }
    // identical text ⇒ identical quality in every decile
    assert(out.map(_.getDouble(3)).distinct.length == 1)
    val q = out.head.getDouble(3)
    assert(q > 0.0 && q <= 1.0, s"quality in (0,1]: $q")
  }

  test("novelty_curve: dense ids 1..10 land one per decile; repeats sink late deciles") {
    val text = (1 to 9).map(i => s"w$i").mkString(" ")
    val docs = (1L to 10L).map { id =>
      // first five docs novel texts, last five repeat doc 1
      val t = if (id <= 5) text.replace("w1", s"u$id") else text
      (id, t, "a")
    }.toDF("doc_id", "text", "source")
    val out = graft.operators.Dedup.noveltyCurveOf(docs).collect()
    assert(out.length == 10, s"${out.mkString(";")}")
    assert(out.map(_.getLong(0)).toSeq == (0L to 9L), s"one per decile")
    val ppm = out.map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(ppm(0L) == 1000000L, "decile 0 is all-novel")
    assert((6L to 9L).forall(ppm(_) == 0L),
      s"the repeated tail adds nothing: $ppm")
  }
}
