package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Behavior, Corpus, Dedup, EventAnalytics, Warehouse}

/** Degenerate-input audit for the round-8 tranche: empty corpora,
  * budgets that nothing can absorb, single-observation series — the
  * inputs a production pipeline feeds an operator the first day a
  * source is onboarded or a filter upstream removes everything. Each
  * case pins the DOCUMENTED degradation (zeros, NULLs, full funding),
  * never an exception or a silently-dropped report row. */
class EdgeCasesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def eventsDf(rows: (Long, String, String)*): DataFrame =
    rows.zipWithIndex.map { case ((u, et, t), i) => (i.toLong, u, et, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), lit(1.0).as("value"))

  test("dedup cascade: an empty corpus still emits the 3-row zero funnel") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Dedup.dedupCascadeOf(empty).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out.keySet == Set("1_exact", "2_jaccard", "3_total"),
      s"funnel must keep its shape on empty input, got ${out.keySet}")
    out.foreach { case (stage, counts) =>
      assert(counts == ((0L, 0L, 0L)), s"$stage: expected zeros, got $counts")
    }
  }

  test("dedup cascade: a corpus with no duplicates passes through unreduced") {
    val unique = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"),
      (3L, "completely different words here now")).toDF("doc_id", "text")
    val out = Dedup.dedupCascadeOf(unique).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out("3_total") == ((3L, 0L, 3L)), s"got $out")
  }

  test("waterfill: budget above the whole corpus fully funds everyone, surplus reported") {
    val docs = Seq(
      (1L, "a b c", "s1"),        // 3 tokens
      (2L, "d e", "s2"),          // 2 tokens
      (3L, "f g h i", "s3"))      // 4 tokens
      .toDF("doc_id", "text", "source")
    val out = Corpus.waterfillBudgetOf(docs, budget = 100L).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getBoolean(3), s"${r.getString(0)} must be fully funded")
      assert(r.getLong(2) == r.getLong(1), "alloc == capacity when short")
      assert(r.getDouble(4) == 1.0, "sample_frac 1.0 when fully funded")
      assert(r.getLong(5) == 100L - 9L, "surplus = budget - total corpus")
    }
  }

  test("waterfill: budget below every capacity spreads the equal water level") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" "), "s1"), // 10 tokens
      (2L, (1 to 12).map(i => s"w$i").mkString(" "), "s2"), // 12
      (3L, (1 to 14).map(i => s"w$i").mkString(" "), "s3")) // 14
      .toDF("doc_id", "text", "source")
    // budget 9 < 3·10: nobody is fully funded, λ = 9 div 3 = 3 each
    val out = Corpus.waterfillBudgetOf(docs, budget = 9L).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3), r.getLong(5))))
      .toMap
    assert(out.values.forall(v => v._1 == 3L && !v._2 && v._3 == 0L),
      s"expected uniform level 3, none full, no remainder: $out")
  }

  test("acf: a single-day series pins NULL at every lag (den = 0), never divides") {
    val ev = eventsDf(
      (1L, "click", "2024-01-05 10:00:00"),
      (2L, "click", "2024-01-05 11:00:00"))
    val out = EventAnalytics.acfDailyOf(ev).collect()
    assert(out.length == 7, "lags 1..7 must all report")
    out.foreach { r =>
      assert(r.getLong(2) == 1L, "n_days = 1")
      assert(r.isNullAt(3), s"lag ${r.getInt(1)}: ACF undefined must be NULL")
    }
  }

  test("acf: a type seen once inside a longer span gets the zero-filled grid") {
    val ev = eventsDf(
      (1L, "view", "2024-01-01 08:00:00"),
      (2L, "view", "2024-01-10 08:00:00"),
      (3L, "click", "2024-01-05 10:00:00")) // 1 observation, 10-day grid
    val out = EventAnalytics.acfDailyOf(ev).collect()
      .filter(_.getString(0) == "click")
    assert(out.length == 7)
    out.foreach { r =>
      assert(r.getLong(2) == 10L, "grid spans the corpus calendar")
      assert(!r.isNullAt(3), "zero-days make the variance positive → defined")
    }
  }

  test("windowed funnel: no purchases → zero rows at the step, funnel intact") {
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:30:00"))
    val out = Behavior.funnelWindowedOf(ev).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("view" -> 1L, "click" -> 1L, "purchase" -> 0L), s"got $out")
  }

  test("windowed funnel: empty input keeps the 3-step report with 0.0 conv") {
    val ev = eventsDf().limit(0)
    val out = Behavior.funnelWindowedOf(ev).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("view", "click", "purchase"))
    assert(out.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.0))
  }

  test("incremental rollup: a lateMod slicing out nothing merges as identity") {
    val ev = eventsDf(
      (1L, "view", "2024-01-01 10:00:00"),
      (2L, "view", "2024-01-02 10:00:00"))
    // event_ids are 0 and 1; lateMod guards require >1, and with mod 2
    // id 0 IS late — so check both a populated and an empty delta.
    val some = Warehouse.incrementalRollupOf(ev, lateMod = 2).collect()
    assert(some.map(_.getLong(3)).sum == 1L, "id 0 lands in the delta")
    val none = Warehouse.incrementalRollupOf(
      ev.withColumn("event_id", col("event_id") * 2 + 1), lateMod = 2)
      .collect()
    assert(none.map(_.getLong(3)).sum == 0L, "empty delta: n_late all zero")
    assert(none.map(r => (r.getDate(0).toString, r.getLong(1))).toSet ==
      Set(("2024-01-01", 1L), ("2024-01-02", 1L)),
      "snapshot ⊕ empty delta ≡ snapshot")
  }

  // ── round-9 tranche ──────────────────────────────────────────────

  test("exact-substring spans: empty corpus and sub-minLen docs report nothing") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactSubstringSpansOf(empty, minLen = 4).count() == 0L)
    // identical docs SHORTER than minLen carry no full gram — the
    // lead() tail nulls out and the filter drops every position, so
    // duplication below the granule is invisible by contract (that is
    // spanDedup's 8-gram territory, not this report's)
    val short = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    assert(Dedup.exactSubstringSpansOf(short, minLen = 4).count() == 0L)
  }

  test("exact-substring spans: all-unique corpus reports nothing, not empty-span rows") {
    val unique = Seq(
      (1L, (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.exactSubstringSpansOf(unique, minLen = 4).count() == 0L)
  }

  test("lsh recall: empty corpus keeps the 1-row audit with NULL recall") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Seq(1, 2).foreach { s =>
      val out = Dedup.lshRecallOf(empty, 0.5, sampleOneIn = s).collect()
      assert(out.length == 1, "audit is a 1-row report even with nothing to audit")
      val r = out.head
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L)
      assert(r.isNullAt(4), "0/0 recall must be NULL, not NaN or 1.0")
    }
  }

  test("graph ops: an event stream with no transitions yields empty reports, not errors") {
    // one event per user = no lag pairs = no edges anywhere
    val ev = eventsDf((1L, "view", "2024-01-01 10:00:00"),
      (2L, "view", "2024-01-01 11:00:00"))
      .withColumn("props", lit("""{"k": 7}"""))
    assert(graft.operators.Graph.hitsOf(ev).count() == 0L)
    assert(graft.operators.Graph.lpaCommunitiesOf(ev).count() == 0L)
  }

  test("item key: a non-integer, absent or NULL props.k reads as item 0, never an exception") {
    val ev = Seq(
      (1L, 1L, "view", "2024-01-01 10:00:00", Some("""{"k":3}""")),
      (2L, 1L, "click", "2024-01-01 10:01:00", Some("""{"k":"abc"}""")),
      (3L, 1L, "view", "2024-01-01 10:02:00", Some("""{"k":3}""")),
      (4L, 1L, "view", "2024-01-01 10:03:00", Some("{}")),
      (5L, 2L, "view", "2024-01-01 11:00:00", Some("""{"k":7}""")),
      (6L, 2L, "view", "2024-01-01 11:01:00", Option.empty[String]))
      .toDF("event_id", "user_id", "event_type", "t", "props")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("props"), lit(1.0).as("value"))
    // user 1 walks 3 → 0 → 3 → 0 and user 2 walks 7 → 0: the distinct
    // edges are (3,0), (0,3) and (7,0), of which two are reciprocal.
    val r = graft.operators.Graph.reciprocityOf(ev).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((3L, 2L)))
    val ctr = graft.operators.CtrAlerts.ctrShrunkOf(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(ctr == Map(0L -> ((1L, 2L)), 3L -> ((0L, 2L)), 7L -> ((0L, 1L))),
      s"(clicks, impressions) per item: $ctr")
    // A fractional or exponent k rounds half away from zero, as the
    // oracles' TRY_CAST(... AS BIGINT) reads it, instead of item 0.
    val frac = Seq(
      (7L, 3L, "view", "2024-01-01 12:00:00", """{"k":1.5}"""),
      (8L, 3L, "click", "2024-01-01 12:01:00", """{"k":"1.5"}"""),
      (9L, 3L, "view", "2024-01-01 12:02:00", """{"k":-2.5}"""),
      (10L, 3L, "view", "2024-01-01 12:03:00", """{"k":1e3}"""))
      .toDF("event_id", "user_id", "event_type", "t", "props")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("props"), lit(1.0).as("value"))
    val fracCtr = graft.operators.CtrAlerts.ctrShrunkOf(frac).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fracCtr == Map(2L -> ((1L, 1L)), -3L -> ((0L, 1L)),
      1000L -> ((0L, 1L))), s"(clicks, impressions) per item: $fracCtr")
  }

  test("hybrid search: a missing query vector leaves the sparse leg standing alone") {
    val docs = Seq((10L, "spark merge"), (11L, "window")).toDF("doc_id", "text")
    val embs = Seq((5L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // queryVecId 0 does not exist → dense leg is empty, full-outer
    // keeps every sparse hit with a NULL dense_rank and a pure-sparse
    // RRF — a degraded report, never an empty or crashed one.
    val out = graft.operators.Similarity.hybridSearchOf(
      docs, embs, Seq("spark", "merge", "window"), legK = 4, k = 4).collect()
    assert(out.length == 2, s"sparse-only fusion must survive: ${out.toSeq}")
    assert(out.forall(_.isNullAt(2)), "dense_rank NULL throughout")
    assert(out.forall(r => r.getDouble(3) > 0.0), "rrf = sparse reciprocal alone")
  }

  test("dsir weights: a target filter matching nothing degrades to the uniform prior") {
    val docs = Seq((1L, "web", "aa bb"), (2L, "web", "cc dd"))
      .toDF("doc_id", "source", "text")
    val out = Corpus.dsirWeightsOf(docs, Seq("no_such_source")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // t_tot = 0, every ct = 0: ratio = (1/(0+B)) / ((cr+1)/(R+B)) —
    // finite, identical across docs with equal-frequency vocab
    assert(out.size == 2 && out(1L) == out(2L),
      s"empty target must give a flat, finite prior: $out")
    assert(out.values.forall(w => w > 0.0), "never zero or NULL")
  }

  test("lsh recall: sample that keeps no near-dup pair degrades to NULL recall") {
    // two docs that ARE near-dups but whose ids hash into different
    // 1-in-s residues: the sampled subcorpus retains at most one
    // endpoint, the pair count drops to zero, and the audit reports
    // NULL recall rather than a fabricated 1.0 — the power-knob
    // failure mode the §6 sampling rule (pair_mass/s² ≫ 1) guards.
    val t = (1 to 12).map(i => s"w$i").mkString(" ")
    val ids = (1L to 64L).filter(id => // endpoints in distinct residues mod 4
      spark.range(1).select(pmod(xxhash64(lit(id)), lit(4L))).head.getLong(0) == 0L)
    val other = (1L to 64L).find(id =>
      spark.range(1).select(pmod(xxhash64(lit(id)), lit(4L))).head.getLong(0) == 1L).get
    val docs = Seq((ids.head, t), (other, t)).toDF("doc_id", "text")
    val r = Dedup.lshRecallOf(docs, 0.5, sampleOneIn = 4).collect().head
    assert(r.getLong(1) == 0L, "pair must not survive one-endpoint sampling")
    assert(r.isNullAt(4), "no surviving pairs → NULL recall, not a verdict")
  }

  test("round-11 tranche degenerates: empty/one-sided inputs degrade, never throw") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // linear attribution with no purchases at all: no rows, no
    // spurious unattributed bucket.
    val viewsOnly = Seq((1L, 1L, "view", "{}", 1.0, t("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "event_type", "props", "value", "ts")
    assert(Behavior.linearAttributionOf(viewsOnly).collect().isEmpty)
    // merge-upsert where EVERYTHING is on one side of the split.
    val allBefore = Seq((1L, 1L, "view", 1.0, t("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    val mu = Warehouse.mergeUpsertOf(allBefore, "2024-01-15").collect()
    assert(mu.length == 1 && mu.head.getString(1) == "keep")
    // mann-whitney when one arm is empty for a type: the type drops
    // (no comparison exists), it must not emit a NaN row.
    val oneUser = Seq((1L, 5.0, "t"), (1L, 6.0, "t"))
      .toDF("user_id", "value", "event_type")
    val mwRows = graft.operators.Robust.mannWhitneyOf(oneUser).collect()
    assert(mwRows.isEmpty || mwRows.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0))
    // seasonal decompose on a 2-day series: no full frame anywhere →
    // rows survive with NULL trend/effect/residual.
    val twoDays = Seq(
      (1L, 1L, "click", 5.0, t("2024-01-01 10:00:00")),
      (2L, 1L, "click", 7.0, t("2024-01-02 10:00:00")))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val sd = EventAnalytics.seasonalDecomposeOf(twoDays).collect()
    assert(sd.length == 2 && sd.forall(r => r.isNullAt(3) && r.isNullAt(5)))
    // nearest as-of with an EMPTY right side: all left rows kept, NULLs.
    val l = Seq((1L, 10L, 100L)).toDF("user_id", "t", "click_id")
    val rEmpty = Seq.empty[(Long, Long, Long)].toDF("user_id", "t", "view_id")
    val an = graft.operators.AsofJoin
      .asofNearest(l, rEmpty, "user_id", "t", "view_id", Seq("view_id"))
      .collect()
    assert(an.length == 1 && an.head.isNullAt(3) && an.head.isNullAt(4))
    // deletion audit with nobody to delete: empty report.
    val clean = Seq((1L, 5L, t("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    assert(Warehouse.deletionAuditOf(clean).collect().isEmpty)
  }
}
