package graft

import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusStats, Dedup}
import graft.sources.Tables

/** The sketch-path (`approx = true`) contract: every sketch swap must
  * (a) agree with its exact twin within a stated band on the sf0.01
  * corpus, and (b) actually produce the cheaper plan shape it promises
  * — fixed state for the distinct/percentile swaps, and for the dup
  * matrix the DISAPPEARANCE of the per-gram equi-join. */
class ScaleApproxSpec extends AnyFunSuite with SparkFixture {
  private val Dir = "/root/testdata/sf0.01"
  private def docs = Tables.documents(spark, Dir)

  test("ngram diversity: HLL distinct tracks exact within the 2% rsd band") {
    val exact = CorpusStats.distinctNgramDiversityOf(docs).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val approx = CorpusStats.distinctNgramDiversityOf(docs, approx = true)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (total, dExact)) =>
      val (aTotal, dApprox) = approx(k)
      assert(aTotal == total, s"$k: total_ngrams must be exact either way")
      val relErr = math.abs(dApprox - dExact).toDouble / dExact
      assert(relErr <= 0.06, // 3× the 2% rsd ≈ a 3-sigma band
        s"$k: approx distinct $dApprox strayed ${relErr * 100}%% from exact $dExact")
    }
  }

  test("dup matrix: sketch inclusion-exclusion tracks exact, union-relative") {
    val exact = Dedup.dupMatrixOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val approx = Dedup.dupMatrixOf(docs, approx = true).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // Inclusion-exclusion error is rsd·|A∪B| (NOT intersection-
    // relative): compute each pair's union from exact per-source
    // distinct gram counts and band at ~3 sigma of the 0.2% lgK=18
    // rsd, floored for integer-rounding noise.
    val perSrc = docs
      .select(col("source"),
        explode(graft.functions.TextF.strictShingles(col("text"), 8)).as("g"))
      .select(col("source"), xxhash64(col("g")).as("h")).distinct()
      .groupBy("source").agg(count(lit(1)).as("n_grams")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def slack(k: (String, String), inter: Long): Long =
      math.max(6L, (0.006 * (perSrc(k._1) + perSrc(k._2) - inter)).toLong)
    exact.foreach { case (k, nExact) =>
      val nApprox = approx.getOrElse(k, 0L)
      assert(math.abs(nApprox - nExact) <= slack(k, nExact),
        s"$k: sketch estimate $nApprox vs exact $nExact " +
          s"(union-relative slack ${slack(k, nExact)})")
    }
    // No hallucinated heavy pairs: anything the sketch path emits that
    // the exact matrix lacks must sit at the pair's noise floor.
    approx.foreach { case (k, n) =>
      if (!exact.contains(k))
        assert(n <= slack(k, 0L), s"$k: phantom shared mass $n")
    }
  }

  test("quantile normalize: sketch grid maps every doc within 0.05 of exact") {
    val exact = CorpusStats.quantileNormalizeOf(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val approx = CorpusStats.quantileNormalizeOf(docs, approx = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(approx.keySet == exact.keySet)
    val worst = exact.keys.map(k => math.abs(approx(k) - exact(k))).max
    assert(worst <= 0.05,
      s"worst per-doc |q_norm(sketch) - q_norm(exact)| = $worst > 0.05")
  }

  test("plan: the sketch dup matrix carries NO per-gram equi-join") {
    def equiJoins(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    val exactPlan = Dedup.dupMatrixOf(docs).queryExecution.sparkPlan
    val sketchPlan = Dedup.dupMatrixOf(docs, approx = true)
      .queryExecution.sparkPlan
    // Control (r17 shape): the exact path aggregates per-gram source
    // sets (collect_set keyed on the gram hash) — the sketch path must
    // not carry that per-gram aggregate, only per-source HLL state.
    assert(exactPlan.toString.contains("collect_set"),
      "control: the exact path aggregates per-gram source sets")
    assert(!sketchPlan.toString.contains("collect_set"),
      "sketch path must not build per-gram source sets")
    assert(equiJoins(sketchPlan).isEmpty,
      s"sketch path must not equi-join grams:\n$sketchPlan")
    assert(sketchPlan.toString.contains("hll_union"),
      "sketch path must pair sketches via hll_union")
  }

  test("source overlap matrix: sketch cells track exact, union-relative") {
    import graft.operators.Corpus
    val exact = Corpus.sourceOverlapMatrixOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val approx = Corpus.sourceOverlapMatrixOf(docs, approx = true).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // totals are per-source HLL estimates: 3 sigma of the 2%-class rsd
    exact.foreach { case (k, (_, ta, tb)) =>
      approx.get(k).foreach { case (_, aa, ab) =>
        assert(math.abs(aa - ta).toDouble / ta <= 0.06 &&
          math.abs(ab - tb).toDouble / tb <= 0.06,
          s"$k: totals ($aa,$ab) strayed from exact ($ta,$tb)")
      }
    }
    // shared mass is inclusion-exclusion: error is union-relative
    def slack(ta: Long, tb: Long, inter: Long): Long =
      math.max(6L, (0.006 * (ta + tb - inter)).toLong)
    exact.foreach { case (k, (sE, ta, tb)) =>
      val sA = approx.get(k).map(_._1).getOrElse(0L)
      assert(math.abs(sA - sE) <= slack(ta, tb, sE),
        s"$k: sketch shared $sA vs exact $sE")
    }
    approx.foreach { case (k, (sA, ta, tb)) =>
      if (!exact.contains(k))
        assert(sA <= slack(ta, tb, 0L), s"$k: phantom shared mass $sA")
    }
  }

  // Twin-heavy fixture for the dup/shared-mass estimators: sf0.1 docs
  // plus a second copy of the even-id half under shifted ids — every
  // even doc's sentences/prints become cross-doc duplicates, giving
  // each source a ~2/3 known dup-instance share (sf0.01 itself has
  // ~zero dup mass, which would test nothing).
  private def twinDocs = {
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
    base.union(base.filter(col("doc_id") % 2 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L))
  }

  test("sentence dedup sketch: HLL distinct + x4 key-sample dup mass") {
    import graft.operators.Corpus
    val exact = Corpus.sentenceDedupOf(twinDocs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val approx = Corpus.sentenceDedupOf(twinDocs, approx = true).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(approx.keySet == exact.keySet)
    var (dupE, dupA) = (0L, 0L)
    exact.foreach { case (src, (nE, dE, dupIE)) =>
      val (nA, dA, dupIA) = approx(src)
      assert(nA == nE, s"$src: instance totals must be exact either way")
      assert(math.abs(dA - dE).toDouble / dE <= 0.06,
        s"$src: HLL distinct $dA strayed from exact $dE")
      // per-source: a 1/4 key-space sample of a few-hundred-sentence
      // stratum is granular (x4 steps) — band at ~3 sigma of the
      // binomial key-sampling error, floored at the x4 grain. At
      // production scale (1e9+ sentences/source) the same relative
      // error is ~1e-4.
      assert(math.abs(dupIA - dupIE) <= math.max(0.5 * dupIE, 24.0),
        s"$src: sampled dup mass $dupIA vs exact $dupIE")
      dupE += dupIE; dupA += dupIA
    }
    // corpus-wide the per-source sampling noise averages out
    assert(math.abs(dupA - dupE).toDouble / dupE <= 0.15,
      s"corpus dup mass: sampled $dupA vs exact $dupE")
  }

  test("winnow sketch: HLL distinct prints + x4 key-sample shared prints") {
    import graft.operators.TextAnalysis
    val exact = TextAnalysis.winnowFingerprintsOf(twinDocs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6)))
      .toMap
    val approx = TextAnalysis.winnowFingerprintsOf(twinDocs, approx = true)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6)))
      .toMap
    assert(approx.keySet == exact.keySet)
    var (shE, shA) = (0L, 0L)
    exact.foreach { case (src, (docsE, gramsE, printsE, dE, sE)) =>
      val (docsA, gramsA, printsA, dA, sA) = approx(src)
      assert((docsA, gramsA, printsA) == (docsE, gramsE, printsE),
        s"$src: doc/gram/print masses must be exact either way")
      assert(math.abs(dA - dE).toDouble / dE <= 0.06,
        s"$src: HLL distinct prints $dA strayed from exact $dE")
      assert(math.abs(sA - sE) <= math.max(0.5 * sE, 24.0),
        s"$src: sampled shared prints $sA vs exact $sE")
      shE += sE; shA += sA
    }
    assert(math.abs(shA - shE).toDouble / shE <= 0.15,
      s"corpus shared prints: sampled $shA vs exact $shE")
  }

  test("plan: the sketch overlap matrix carries NO per-gram equi-join") {
    import graft.operators.Corpus
    def equiJoins(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    val exactPlan = Corpus.sourceOverlapMatrixOf(docs)
      .queryExecution.sparkPlan
    val sketchPlan = Corpus.sourceOverlapMatrixOf(docs, approx = true)
      .queryExecution.sparkPlan
    assert(equiJoins(exactPlan).nonEmpty,
      "control: the exact path equi-joins the per-source totals")
    assert(equiJoins(sketchPlan).isEmpty,
      s"sketch path must not equi-join grams:\n$sketchPlan")
    assert(sketchPlan.toString.contains("hll_union"),
      "sketch path must pair sketches via hll_union")
    // the dup/shared samplers: distinct state must be sketched, the
    // only per-key shuffle carries the 1/4 sample
    import graft.operators.{Corpus => C, TextAnalysis => T}
    Seq(C.sentenceDedupOf(docs, approx = true),
        T.winnowFingerprintsOf(docs, approx = true)).foreach { df =>
      val s = df.queryExecution.sparkPlan.toString
      assert(s.contains("approx_count_distinct"),
        s"distinct mass must ride the HLL:\n$s")
      assert(s.contains("pmod"), s"dup mass must ride the key sample:\n$s")
    }
  }

  test("default: the registered exact wrappers build the exact path") {
    assert(!SparkEntry.queries("dup_matrix")(spark, Dir)
      .queryExecution.analyzed.toString.contains("hll_union"))
  }
}
