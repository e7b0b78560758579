package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusStats, EventAnalytics, Robust, TextAnalysis}

/** Adversarial edge-case audit of the round-14 operator tranche — the
  * pass that caught int-width/regex/short-span bugs in every earlier
  * tranche. Each case pins either a hand-computed exact value on a
  * fixture chosen to stress the argued-but-untested property
  * (bipartite +I guard, max-normalization induction, minEvidence
  * boundary, tie-heavy series) or the DOCUMENTED degradation on
  * degenerate input (empty frames, NULL readouts) — never an
  * exception. */
class TrancheAuditSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def valued(rows: (String, String, Double)*): DataFrame =
    rows.zipWithIndex.map { case ((et, t, v), i) =>
      (i.toLong, i.toLong, et, t, v)
    }.toDF("event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("value"))

  // ---- PRF retrieval: empty feedback set, all-banned expansion,
  // ---- and the vocabulary-mismatch fix actually firing

  test("prf: a corpus with zero query matches returns the empty ranking, no crash") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    assert(CorpusStats.prfSearchOf(docs).isEmpty)
  }

  test("prf: feedback docs with only stopword/query tokens expand nothing and degrade to pass-1") {
    val docs = Seq((1L, "spark merge window the and"), (2L, "unrelated body here"))
      .toDF("doc_id", "text")
    val out = CorpusStats.prfSearchOf(docs).collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L),
      s"no expansion terms exist; only the query-matching doc ranks: $out")
  }

  test("prf: the expansion term retrieves a doc the raw query cannot") {
    val docs = Seq(
      (1L, "spark merge catalyst planner"),
      (2L, "catalyst tungsten codegen"), // no query term at all
      (3L, "completely different words")).toDF("doc_id", "text")
    val got = CorpusStats.prfSearchOf(docs).collect().map(_.getLong(0)).toSet
    assert(got.contains(2L),
      s"doc 2 is reachable only through the mined expansion term: $got")
    assert(!got.contains(3L), s"doc 3 shares no term with the expanded query: $got")
  }

  // ---- Pettitt: hand-computed level shift, tie-heavy, single-day

  test("pettitt: a clean level shift lands K=16 at the boundary day, below significance") {
    // 1 event/day Jan 1-4, 3/day Jan 5-8: U_t = -4(t+1) for t<=3 then
    // -4(7-t); K = 16 at t = 3. 6K² = 1536 < 3.68888·(8³+8²) = 2124.8.
    val rows = (1 to 4).map(d => ("click", f"2024-01-0$d%d 10:00:00", 1.0)) ++
      (5 to 8).flatMap(d => (0 until 3).map(h =>
        ("click", f"2024-01-0$d%d 1$h%d:00:00", 1.0)))
    val out = EventAnalytics.pettittChangepointOf(valued(rows: _*)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 8L && r.getLong(2) == 16L && r.getLong(3) == 3L,
      s"t_days=8, K=16, change at idx 3: $r")
    assert(r.getDate(4).toString == "2024-01-04", s"boundary day: $r")
    assert(!r.getBoolean(5), s"K=16 on T=8 is not significant: $r")
  }

  test("pettitt: an all-tied series reads K=0 at the earliest boundary, not significant") {
    val rows = (1 to 5).map(d => ("click", f"2024-01-0$d%d 10:00:00", 1.0))
    val r = EventAnalytics.pettittChangepointOf(valued(rows: _*)).collect().head
    assert(r.getLong(2) == 0L && r.getLong(3) == 0L && !r.getBoolean(5),
      s"ties everywhere → zero statistic, earliest argmax: $r")
  }

  test("pettitt: a single-day corpus has no boundary to test — empty output, no crash") {
    val ev = valued(("click", "2024-01-05 10:00:00", 1.0),
      ("click", "2024-01-05 11:00:00", 2.0))
    assert(EventAnalytics.pettittChangepointOf(ev).isEmpty)
  }

  // ---- code-switch: the minEvidence boundary and the unmatched source

  test("code-switch: total-best == minEvidence is mixed; one foreign word is not") {
    val docs = Seq(
      ("a", "the of und"),      // en 2, de 1 → diff 1 < 2: pure enough
      ("a", "the of und die"),  // en 2, de 2 → diff 2 = minEvidence: mixed
      ("b", "zzz qqq"))         // no profile word at all
      .toDF("source", "text")
    val out = TextAnalysis.codeSwitchOf(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getLong(1) == 2L && a.getLong(2) == 2L && a.getLong(3) == 1L,
      s"both matched, exactly the boundary doc is mixed: $a")
    assert(a.getLong(4) == 500000L, s"mixed share 1/2: $a")
    // purities: 2e6 div 3 = 666666 and 2e6 div 4 = 500000 → mean 583333
    assert(a.getLong(5) == 583333L, s"mean purity: $a")
    val b = out("b")
    assert(b.getLong(1) == 1L && b.getLong(2) == 0L && b.getLong(3) == 0L)
    assert(b.isNullAt(4) && b.isNullAt(5),
      s"an unmatched source reads NULL shares, never a 0-division: $b")
  }

  // ---- SBC demand classes: the single-demand-day CV²=0 convention

  test("demand classes: single-demand-day and constant-size items read CV²=0 and class by ADI") {
    val ev = Seq(
      (1L, 1L, "purchase", "2024-01-01 10:00:00", """{"k": 1}"""),
      (2L, 2L, "purchase", "2024-01-01 11:00:00", """{"k": 1}"""),
      (3L, 3L, "purchase", "2024-01-01 10:00:00", """{"k": 2}"""),
      (4L, 4L, "purchase", "2024-01-08 10:00:00", """{"k": 2}"""))
      .toDF("event_id", "user_id", "event_type", "t", "props")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("props"))
    val out = EventAnalytics.demandClassesOf(ev).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    // span Jan 1..8 → T=8; item 1: nd=1, ADI=8 ≥ 4/3 → intermittent,
    // var = 1·4-4 = 0; item 2: nd=2 equal sizes → var = 2·2-4 = 0.
    assert(out(1L) == ((8L, 1L, 8000000L, 0L, "intermittent")), s"$out")
    assert(out(2L) == ((8L, 2L, 4000000L, 0L, "intermittent")), s"$out")
  }
}
