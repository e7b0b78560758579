package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, EventAnalytics, TextAnalysis}
import graft.sources.Tables

/** Round-17 adversarial audit: behavioral pins for the two parameter
  * fixes the round's ADVICE flagged (a non-default config must not
  * silently mis-scale), and edge contracts for the new sketch twins.
  * The standing TrancheAuditSpec practice — every round's touches get
  * the hostile-input pass. */
class Round17TrancheSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def dayCounts(rows: Seq[(String, Int)]): DataFrame =
    rows.flatMap { case (d, c) => (1 to c).map(j => (d, j)) }
      .zipWithIndex.map { case ((d, _), i) => (i.toLong, i.toLong, "buy", d) }
      .toDF("event_id", "user_id", "event_type", "d")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("d")).as("ts"), lit(1.0).as("value"))

  test("ljung_box at maxLag=1 gates on the df=1 critical value, not the df=7 literal") {
    // 10 days alternating 1/11 events: r1 = -0.9 exactly, so
    // Q = n(n+2)·r1²/(n−1) = 10·12·0.81/9 = 10.8 — ABOVE the df=1
    // 0.95 quantile (3.841) but BELOW the df=7 literal (14.067) the
    // pre-r17 code compared every maxLag against: the fix flips this
    // verdict from a wrong false to true.
    val alt = dayCounts((1 to 10).map(i =>
      (f"2024-01-$i%02d 00:00:00", if (i % 2 == 0) 11 else 1)))
    val out = EventAnalytics.ljungBoxOf(alt, maxLag = 1).collect()(0)
    assert(out.getLong(2) == 1L, s"lags_used: $out")
    assert(math.abs(out.getDouble(3) - 10.8) < 1e-6, s"q_stat: $out")
    assert(!out.isNullAt(4) && out.getBoolean(4),
      s"10.8 > chi2(df=1, 0.95) = 3.84 must read significant: $out")
    // control: the same series is NOT significant against df=12
    // (21.03) when all 12 lags are in play and most r_k are small
    val long = dayCounts((1 to 20).map(i =>
      (f"2024-01-$i%02d 00:00:00", if (i % 2 == 0) 4 else 2)))
    val o12 = EventAnalytics.ljungBoxOf(long, maxLag = 12).collect()(0)
    assert(o12.getLong(2) == 12L && !o12.isNullAt(4), s"df=12 gates: $o12")
  }

  test("sketch twins return empty frames on an empty corpus, never an error") {
    val empty = Tables.documents(spark, Sf).filter(lit(false))
    assert(Corpus.sourceOverlapMatrixOf(empty, approx = true).isEmpty)
    assert(Corpus.sentenceDedupOf(empty, approx = true).isEmpty)
    assert(TextAnalysis.winnowFingerprintsOf(empty, approx = true).isEmpty)
    // and the exact twins agree on the degenerate contract
    assert(Corpus.sourceOverlapMatrixOf(empty).isEmpty)
    assert(Corpus.sentenceDedupOf(empty).isEmpty)
    assert(TextAnalysis.winnowFingerprintsOf(empty).isEmpty)
  }

  test("hot-key-proof gram passes survive a single-gram-dominant corpus unchanged") {
    // the planted-skew semantics pin (the ×100 perf corner lives in
    // SURVEY §6): appending ONE shared 16-token run to 30% of docs
    // must (a) not disturb other docs' novelty, (b) count the planted
    // 8-grams as boilerplate for every planted doc
    val docs = Tables.documents(spark, Sf)
    val planted = (1 to 16).map(i => s"plantedboiler$i").mkString(" ")
    val skew = docs.withColumn("text",
      when(pmod(xxhash64(col("doc_id")), lit(100)) < 30,
        concat(col("text"), lit(" " + planted))).otherwise(col("text")))
    val base = graft.operators.Dedup.ngramNoveltyOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val out = graft.operators.Dedup.ngramNoveltyOf(skew).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val plantedIds = skew.filter(
      pmod(xxhash64(col("doc_id")), lit(100)) < 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plantedIds.nonEmpty, "fixture must plant something")
    out.foreach { case (id, _, novel) =>
      if (!plantedIds.contains(id))
        assert(novel == base(id), s"unplanted doc $id novelty moved")
    }
    // exactly ONE planted doc (the min id) owns the 9 run-internal
    // grams as novel; every planted doc may also gain up to 7 doc-
    // unique JUNCTION grams (8-grams straddling its own tail and the
    // planted run), but no more
    val minPlanted = plantedIds.min
    out.foreach { case (id, _, novel) =>
      if (plantedIds.contains(id) && id != minPlanted)
        assert(novel <= base(id) + 7,
          s"planted doc $id claimed run-internal grams: $novel vs base ${base(id)}")
    }
    val minNovel = out.collectFirst { case (`minPlanted`, _, n) => n }.get
    assert(minNovel >= base(minPlanted) + 9,
      s"first planted doc must own the 9 run-internal grams: " +
        s"$minNovel vs base ${base(minPlanted)}")
    // boilerplate: every planted doc counts planted grams as dup mass
    val bp = Corpus.boilerplateStatsOf(skew).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bpBase = Corpus.boilerplateStatsOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    plantedIds.foreach { id =>
      assert(bp(id) >= bpBase.getOrElse(id, 0L) + 9,
        s"planted doc $id must read its 9+ planted 8-grams as dup")
    }
  }

  // ---- hostile-input edges for the round-17 second/third tranches ----

  private def evFrame(rows: (Long, Long, String, String, Double)*): DataFrame =
    rows.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))

  test("ccf with a single event type emits nothing (no pair exists)") {
    val ev = evFrame((1 to 5).map(d =>
      (d.toLong, d.toLong, "only", f"2024-01-0$d 10:00:00", 1.0)): _*)
    assert(graft.operators.EventAnalytics.ccfLeadlagOf(ev).isEmpty)
  }

  test("ccf parameter bounds and reorder/epoch/aa require-guards refuse") {
    val ev = evFrame((1L, 1L, "a", "2024-01-01 10:00:00", 1.0))
    val docs = Seq((1L, "s", "t")).toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException](
      graft.operators.EventAnalytics.ccfLeadlagOf(ev, maxLag = 0))
    intercept[IllegalArgumentException](
      graft.operators.EventAnalytics.ccfLeadlagOf(ev, maxLag = 15))
    intercept[IllegalArgumentException](
      graft.operators.Warehouse.reorderPointOf(
        Seq((1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 1.0))
          .toDF("l_partkey", "l_shipdate", "l_quantity"),
        Seq((1L, "B")).toDF("p_partkey", "p_brand"), leadDays = 0))
    intercept[IllegalArgumentException](
      graft.operators.Corpus.epochShuffleOf(docs, epochs = 1))
    intercept[IllegalArgumentException](
      graft.operators.Behavior.aaCalibrationOf(ev, cells = 7))
  }

  test("split leakage on a pair-free corpus is empty, not a 0/0 error") {
    val docs = Seq(
      (1L, "web", "alpha beta gamma delta epsilon"),
      (2L, "web", "one two three four five"))
      .toDF("doc_id", "source", "text")
    assert(graft.operators.Corpus.splitLeakageOf(docs).isEmpty,
      "no near-dup pairs -> no rows (the ppm division never runs)")
  }

  test("epoch shuffle survives a single-doc corpus") {
    val docs = Seq((7L, "s", "only doc")).toDF("doc_id", "source", "text")
    val pos = graft.operators.Corpus.epochShuffleOf(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    assert(pos.toSeq == Seq((0, 7L, 1L), (1, 7L, 1L), (2, 7L, 1L)), s"$pos")
    val audit = graft.operators.Corpus.epochShuffleAuditOf(docs).collect()
    assert(audit.length == 3 && audit.forall(r =>
      r.getLong(2) == 1L && r.getLong(3) == 0L),
      s"one doc: zero displacement in every epoch pair: ${audit.toSeq}")
  }
}
