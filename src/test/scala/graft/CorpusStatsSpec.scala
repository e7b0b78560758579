package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Cluster, Corpus, CorpusStats}

class CorpusStatsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("tfidf ranks a doc-specific term above corpus-wide terms") {
    // "zebra" appears only in doc 1; "common" in every doc.
    val docs = docsDf(
      1L -> "common words zebra zebra common words",
      2L -> "common words again common words again",
      3L -> "common words more common words more")
    val top = CorpusStats.tfidfTopTermsOf(docs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) == "zebra",
      s"rare repeated term must out-score ubiquitous terms: $top")
    // tf=2, df=1, N=3 → score = 2 * (4/2) = 4.0
    val row = CorpusStats.tfidfTopTermsOf(docs, k = 1)
      .filter("doc_id = 1").collect().head
    assert(row.getDouble(4) == 4.0)
  }

  test("tfidf emits at most k terms per doc with dense ranks 1..k") {
    val docs = docsDf(1L -> "a b c d e f g h", 2L -> "a a a")
    val out = CorpusStats.tfidfTopTermsOf(docs, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(5)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byDoc(1L) == Seq(1, 2, 3))
    assert(byDoc(2L) == Seq(1), "doc 2 has a single distinct term")
  }

  test("repetition stats flag looped text and pass diverse text") {
    val docs = docsDf(
      1L -> "buy now buy now buy now buy now buy now buy now",
      2L -> "the quick brown fox jumps over one lazy sleeping dog",
      3L -> "solo") // < 2 tokens → no bigrams, frac 0
    val out = CorpusStats.repetitionStatsOf(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(3), r.getLong(4), r.getDouble(5), r.getBoolean(6))).toMap
    val (dr1, _, frac1, keep1) = out(1L)
    assert(dr1 < 0.2 && frac1 > 0.4 && !keep1,
      s"looped doc must fail both gates: $out")
    val (dr2, top2, _, keep2) = out(2L)
    assert(dr2 == 1.0 && top2 == 1L && keep2)
    val (_, top3, frac3, keep3) = out(3L)
    assert(top3 == 0L && frac3 == 0.0 && keep3)
  }

  test("collocations lift promotes exclusive pairs over frequent-word pairs") {
    // "san francisco" always co-occur; "the" pairs with everything.
    val pair = Seq.fill(6)("san francisco").mkString(" ")
    val noise = "the cat the dog the bird the fish the goat"
    val docs = docsDf(1L -> pair, 2L -> noise, 3L -> noise, 4L -> noise)
    val out = CorpusStats.collocationsOf(docs, minCount = 5, k = 10).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.contains(("san", "francisco")))
    val sfLift = out(("san", "francisco"))._2
    assert(out.filterNot(_._1 == ("san", "francisco")).values.forall(_._2 < sfLift),
      s"exclusive pair must have the top lift: $out")
  }

  test("lang quality gate keeps only docs at/above their language's p75") {
    val docs = Seq(
      (1L, "en", "x"), (2L, "en", "x"), (3L, "en", "x"),
      (4L, "en", "the cat sat on a mat with a hat and a rat. " * 4))
      .toDF("doc_id", "lang", "text")
    val kept = CorpusStats.langQualityGateOf(docs).collect().map(_.getLong(0)).toSet
    assert(kept.contains(4L), "the high-quality doc must pass")
    assert(!kept.contains(1L), "low-quality docs below p75 must be dropped")
  }

  test("chunking covers every token with stride overlap and md5-stable content") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val out = Corpus.chunkDocsOf(docsDf(1L -> text), window = 64, stride = 48)
      .collect()
    // starts at 0 and 48 (the chunk at 48 already reaches token 100,
    // so the start at 96 would only repeat covered tokens — dropped)
    assert(out.map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSeq ==
      Seq((0, 0, 64), (1, 48, 52)))
    assert(out.map(_.getString(4)).distinct.length == 2)
  }

  test("chunking emits a tail chunk only when it adds uncovered tokens") {
    // 65 tokens: chunk 0 covers 1..64, the start at 48 adds token 65.
    val t65 = (1 to 65).map(i => s"t$i").mkString(" ")
    val out65 = Corpus.chunkDocsOf(docsDf(1L -> t65), window = 64, stride = 48)
      .collect().map(r => (r.getInt(2), r.getInt(3))).toSeq
    assert(out65 == Seq((0, 64), (48, 17)))
    // exactly-64 tokens: one chunk covers everything, no tail.
    val t64 = (1 to 64).map(i => s"t$i").mkString(" ")
    val out64 = Corpus.chunkDocsOf(docsDf(1L -> t64), window = 64, stride = 48)
      .collect().map(r => (r.getInt(2), r.getInt(3))).toSeq
    assert(out64 == Seq((0, 64)))
  }

  test("chunking a short doc yields exactly one whole-doc chunk") {
    val out = Corpus.chunkDocsOf(docsDf(1L -> "a b c"), window = 64, stride = 48)
      .collect()
    assert(out.length == 1 &&
      out.head.getInt(2) == 0 && out.head.getInt(3) == 3)
  }

  test("greedy packing lays docs end-to-end per source under the token budget") {
    val docs = Seq(
      (1L, "s1", Seq.fill(100)("w").mkString(" ")),  // begin 0   → seq 0
      (2L, "s1", Seq.fill(200)("w").mkString(" ")),  // begin 100 → seq 0
      (3L, "s1", Seq.fill(50)("w").mkString(" ")),   // begin 300 → seq 1, off 44
      (4L, "s2", Seq.fill(10)("w").mkString(" ")))   // other source restarts
      .toDF("doc_id", "source", "text")
    val out = Corpus.packGreedyOf(docs, budget = 256).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (0L, 0L))
    assert(out(2L) == (0L, 100L))
    assert(out(3L) == (1L, 44L))
    assert(out(4L) == (0L, 0L), "packing must restart per source")
  }

  test("train split is deterministic, exhaustive, and ~90/5/5") {
    val docs = (1L to 400L).map(i => (i, s"document number $i body")).toDF("doc_id", "text")
    val out = Corpus.trainSplitOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2))
    assert(out.length == 400)
    val frac = out.groupBy(_._2).view.mapValues(_.length / 400.0).toMap
    assert(frac("train") > 0.8 && frac("train") < 0.97, s"split fractions: $frac")
    assert(frac.getOrElse("val", 0.0) + frac.getOrElse("test", 0.0) > 0.03)
    // identical input → identical assignment (content-hash keyed)
    val again = Corpus.trainSplitOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2))
    assert(out.toSeq == again.toSeq)
  }

  test("mixSources keeps per-source fractions deterministically") {
    val docs = (1L to 40L).map { i =>
      (i, if (i <= 20) "curated" else "crawl", s"document body number $i")
    }.toDF("doc_id", "source", "text")
    val out = Corpus.mixSourcesOf(docs,
      Map("curated" -> 1.0), defaultFrac = 0.25).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySource = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySource == Map("curated" -> 20, "crawl" -> 5),
      s"20·1.0 curated + ceil(20·0.25) crawl: $bySource")
    // deterministic: identical input → identical kept set
    val again = Corpus.mixSourcesOf(docs,
      Map("curated" -> 1.0), defaultFrac = 0.25).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == again.toSeq)
  }

  test("kmeans groups identical vectors and separates orthogonal ones") {
    // Two orthogonal families, k=2: seeds 0,1 land one in each.
    val e1 = Array(1.0f) ++ Array.fill(63)(0.0f)
    val e2 = Array(0.0f, 1.0f) ++ Array.fill(62)(0.0f)
    val rows = Seq(
      (0L, e1.toSeq), (1L, e2.toSeq),
      (2L, e1.map(_ * 2).toSeq), (3L, e2.map(_ * 3).toSeq),
      (4L, e1.toSeq))
    val out = Cluster.kmeansEmbedOf(rows.toDF("vec_id", "embedding"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == out(2L) && out(2L) == out(4L))
    assert(out(1L) == out(3L))
    assert(out(0L) != out(1L))
  }

  test("kmeans assignment is total: every vector gets exactly one cluster") {
    val rnd = new scala.util.Random(5)
    val rows = (0L until 40L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    val out = Cluster.kmeansEmbedOf(rows.toDF("vec_id", "embedding")).collect()
    assert(out.length == 40)
    assert(out.map(_.getLong(0)).toSet == (0L until 40L).toSet)
    assert(out.map(_.getLong(1)).toSet.subsetOf((0L until 8L).toSet))
  }

  test("lm quality: common-trigram docs outscore rare-trigram docs") {
    // model: aaa×2 (from "aaaa"), abc, bcd, xyz… — doc 1 reuses the
    // corpus's most frequent trigram, doc 2's grams are singletons.
    val out = CorpusStats.lmQualityOf(docsDf(
      (1L, "aaaa"), (2L, "abcd"), (3L, "xy"))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // total grams = 4; doc 1: 2 grams, Σcnt = 4 → 4e6/(2·4) = 500000
    assert(out(1L) == ((2L, 500000.0)))
    // doc 2: 2 grams, Σcnt = 2 → 2e6/(2·4) = 250000
    assert(out(2L) == ((2L, 250000.0)))
    assert(!out.contains(3L), "a doc too short for one trigram emits no row")
  }

  test("oov rate counts occurrences outside the top-k vocabulary") {
    // k=2 vocab: "the" (df 3) and "cat" (df 2); "zap"/"qux" are OOV.
    val out = CorpusStats.oovRateOf(docsDf(
      (1L, "the cat the"), (2L, "the cat zap"), (3L, "the qux zap")), k = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((3L, 0L, 0.0)))
    assert(out(2L) == ((3L, 1L, 0.3333)))
    assert(out(3L) == ((3L, 2L, 0.6667)))
  }

  test("oov rate is occurrence-weighted, not type-weighted") {
    // doc 2: one vocab type repeated 4× + one OOV token → 0.2, not 0.5
    val out = CorpusStats.oovRateOf(docsDf(
      (1L, "aa aa aa"), (2L, "aa aa aa aa zz")), k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(2L) == 0.2)
  }

  test("gopher rules: each rule gates independently and keep is their conjunction") {
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    val docs = docsDf(
      // 50 alphabetic tokens + stopwords "the" "of" swapped in → keep
      1L -> (fifty.split(" ").take(48).mkString(" ") + " the of"),
      2L -> "too short the of",                       // fails length rule
      // 50 tokens but every one numeric → fails alpha + stopword rules
      3L -> (1 to 50).map(_.toString).mkString(" "))
    val out = CorpusStats.gopherRulesOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(6))
    assert(!out(2L).getBoolean(6) && out(2L).getInt(1) == 4)
    assert(!out(3L).getBoolean(6))
    assert(out(3L).getDouble(4) == 0.0, "alpha_frac of all-digit doc")
    assert(out(3L).getLong(5) == 0L, "no stopword hits")
    // mean word length: doc 3 tokens are 1-2 chars → mean < 3
    assert(out(3L).getDouble(2) < 3.0)
  }

  test("inverted index: one window shuffle yields df, cf and tf-ranked postings") {
    val docs = docsDf(
      1L -> "apple apple apple banana",
      2L -> "apple banana banana",
      3L -> "apple cherry",
      4L -> "apple", 5L -> "apple")
    val out = CorpusStats.invertedIndexOf(docs, minDf = 5, k = 2).collect()
    // only "apple" reaches df=5
    assert(out.map(_.getString(0)).distinct.toSeq == Seq("apple"))
    assert(out.forall(_.getLong(1) == 5L))        // df
    assert(out.forall(_.getLong(2) == 7L))        // cf = 3+1+1+1+1
    // rank 1 = doc 1 (tf 3); rank 2 = doc 2? no — tf ties (1) break on doc_id → doc 2
    val byRank = out.map(r => r.getInt(5) -> (r.getLong(3), r.getLong(4))).toMap
    assert(byRank(1) == ((1L, 3L)))
    assert(byRank(2) == ((2L, 1L)))
  }

  test("bm25: rare query terms outweigh common ones, long docs are damped") {
    val docs = docsDf(
      1L -> "rare filler filler filler",          // 1× rare, len 4
      2L -> "common filler filler filler",        // 1× common, len 4
      3L -> ("common one two three four five six seven eight nine " +
        "ten eleven twelve thirteen fourteen fifteen"), // 1× common, len 16
      4L -> "common filler filler filler",
      5L -> "common filler filler filler")
    val out = CorpusStats.bm25SearchOf(docs, Seq("rare", "common"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // df(rare)=1 vs df(common)=4 → doc 1 scores far above any common doc
    assert(out(1L) > out(2L) * 2, s"rare term must dominate: $out")
    // same tf/term, longer doc → lower score (length normalization)
    assert(out(3L) < out(2L), s"length damping: $out")
    // docs without any query term never appear
    assert(!out.contains(6L) && out.size == 5)
  }

  test("bm25 per-doc score sums each matched term once") {
    val docs = docsDf(
      1L -> "alpha beta",
      2L -> "alpha alpha alpha")
    val out = CorpusStats.bm25SearchOf(docs, Seq("alpha", "beta"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L), "n_terms counts DISTINCT matched terms")
  }

  test("lm quality normalizes whitespace runs before windowing") {
    val out = CorpusStats.lmQualityOf(docsDf(
      (1L, "a b\t\nc"), (2L, "a b c"))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == out(2L),
      "tab/newline runs must collapse to one space, making the two docs identical")
  }

  private def cardDocs(rows: (Long, String, String, String)*): DataFrame =
    rows.toDF("doc_id", "lang", "source", "text")

  test("corpus card sums both token bases per (lang, source)") {
    val out = CorpusStats.corpusCardOf(cardDocs(
      (1L, "en", "s0", "a b c"),
      (2L, "en", "s0", "d e"),
      (3L, "de", "s0", "f"))).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(("en", "s0")) == ((2L, 5L, 5L)), "3+2 ws tokens, same under BPE")
    assert(out(("de", "s0")) == ((1L, 1L, 1L)))
  }

  test("corpus card mean quality of a singleton group is that doc's quality") {
    val text = Seq.fill(40)("the word").mkString(" ")
    val q = docsDf(1L -> text)
      .select(graft.functions.TextF.qualityScore(
        org.apache.spark.sql.functions.col("text"),
        graft.operators.TextAnalysis.Stopwords))
      .collect().head.getDouble(0)
    val card = CorpusStats.corpusCardOf(cardDocs((1L, "en", "s0", text)))
      .collect().head
    assert(card.getDouble(5) == q)
    assert(card.getDouble(6) == 0.0 || card.getDouble(6) == 1.0)
  }

  test("auc: a perfectly separating score gives 1.0, pure ties give 0.5") {
    val long = Seq.fill(60)("word").mkString(" ")  // high length score
    val sep = CorpusStats.aucQualityOf(cardDocs(
      (1L, "en", "s0", long), (2L, "en", "s0", long),
      (3L, "de", "s0", "x"), (4L, "fr", "s0", "y"))).collect()
    assert(sep.length == 1)
    assert(sep.head.getLong(1) == 2L && sep.head.getLong(2) == 2L)
    assert(sep.head.getDouble(3) == 1.0)

    val tied = CorpusStats.aucQualityOf(cardDocs(
      (1L, "en", "s0", "same text here"),
      (2L, "de", "s0", "same text here"))).collect()
    assert(tied.head.getDouble(3) == 0.5, "all-tied scores must credit 1/2")
  }

  test("auc: single-class sources are excluded") {
    val out = CorpusStats.aucQualityOf(cardDocs(
      (1L, "en", "only_pos", "a"), (2L, "de", "only_neg", "b"))).collect()
    assert(out.isEmpty)
  }

  test("source word tvd: identical sources read 0, shared-anchor disjoint mass prices exactly") {
    // s1/s2 carry identical text → TVD 0; s3/s4 share only the
    // anchor word "x" (p = 250000 each) and put their remaining
    // 750000 ppm on disjoint words → TVD = (0 + 75e4 + 75e4)/2
    val out = CorpusStats.sourceWordTvdOf(cardDocs(
      (1L, "en", "s1", "same words here today"),
      (2L, "en", "s2", "same words here today"),
      (3L, "en", "s3", "x aa aa aa"),
      (4L, "en", "s4", "x bb bb bb"))).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("s1", "s2")) == 0L, s"$out")
    assert(out(("s3", "s4")) == 750000L, s"$out")
    // fully disjoint vocabularies read the maximum distance
    assert(out(("s1", "s3")) == 1000000L && out(("s2", "s4")) == 1000000L,
      s"$out")
    // every unordered pair appears exactly once
    assert(out.size == 6, s"$out")
  }

  test("ccnet buckets: nearest-rank terciles partition the corpus; head means top the tail") {
    // six docs per lang with spread trigram typicality; the expected
    // frame is recomputed from the operator's OWN per-doc scores with
    // the same nearest-rank rule (draw-equivalence, not a second
    // opinion on the LM model itself)
    val docs = cardDocs(
      (1L, "en", "s0", "the cat sat on the mat and the cat sat again"),
      (2L, "en", "s0", "the cat sat on a mat"),
      (3L, "en", "s0", "a dog ran far away from home"),
      (4L, "en", "s0", "zq xv jk wp"),
      (5L, "en", "s0", "the the the the the"),
      (6L, "en", "s0", "cats sit mats fit"))
    val perDoc = CorpusStats.lmQualityOf(docs).collect()
      .map(r => r.getLong(0) -> math.floor(r.getDouble(2) * 1e4 + 0.5).toLong)
      .toMap
    val toks = Map(1L -> 11L, 2L -> 6L, 3L -> 7L, 4L -> 4L, 5L -> 5L,
      6L -> 4L)
    val sorted = perDoc.values.toSeq.sorted
    val total = sorted.size
    def cutAt(r: Long) = {
      val grid = sorted.distinct
      grid.find(s => sorted.count(_ <= s) >= r).get
    }
    val (c1, c2) = (cutAt((total + 2) / 3), cutAt((2 * total + 2) / 3))
    val expected = perDoc.toSeq
      .map { case (id, sq) =>
        val b = if (sq <= c1) "tail" else if (sq <= c2) "middle" else "head"
        (b, id, sq)
      }
      .groupBy(_._1)
      .map { case (b, rows) =>
        b -> (rows.size.toLong, rows.map(r => toks(r._2)).sum,
          math.floor(rows.map(_._3).sum.toDouble / rows.size + 0.5) / 1e4)
      }
    val out = CorpusStats.ccnetBucketsOf(docs).collect()
      .map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out == expected, s"got $out want $expected")
    assert(out.values.map(_._1).sum == 6L, "buckets partition the corpus")
    for {
      h <- out.get("head"); t <- out.get("tail")
    } assert(h._3 > t._3, s"head mean above tail: $out")
  }

  test("source ablation: removing the drag source raises LOO quality; singleton corpus nulls") {
    val good = Seq.fill(60)("word").mkString(" ") // ~0.95 quality
    val bad = "x!x"                               // ~0.2883
    val out = CorpusStats.sourceAblationOf(cardDocs(
      (1L, "en", "s_good", good), (2L, "en", "s_good", good),
      (3L, "de", "s_bad", bad), (4L, "de", "s_bad", bad))).collect()
      .map(r => r.getString(0) -> r).toMap
    // dropping the bad source leaves only good docs, so its LOO mean
    // sits strictly above the global mean
    assert(out("s_bad").getDouble(3) > out("s_bad").getDouble(2),
      s"LOO of the drag source exceeds the global mean: $out")
    assert(out("s_bad").getDouble(4) > 0, s"positive delta: $out")
    assert(out("s_good").getDouble(4) < 0, s"good source's removal hurts: $out")
    // en share: dropping s_bad leaves only en docs → 1e6 ppm
    assert(out("s_bad").getLong(6) == 1000000L, s"$out")
    assert(out("s_good").getLong(6) == 0L, s"$out")
    // a single-source corpus has no leave-one-out frame → NULLs
    val solo = CorpusStats.sourceAblationOf(cardDocs(
      (1L, "en", "only", good))).collect().head
    assert(solo.isNullAt(3) && solo.isNullAt(4) && solo.isNullAt(6),
      s"singleton: $solo")
  }

  test("pr_auc: perfect ranking reads 1, inverted ranking reads prevalence, no-pos drops") {
    val long = Seq.fill(60)("word").mkString(" ") // high quality score
    // positives strictly above every negative → every positive block
    // has precision 1 → AP = 1
    val sep = CorpusStats.prAucOf(cardDocs(
      (1L, "en", "s0", long), (2L, "en", "s0", long),
      (3L, "de", "s0", "x"), (4L, "fr", "s0", "y"))).collect()
    assert(sep.length == 1)
    assert(sep.head.getLong(1) == 2L && sep.head.getLong(2) == 2L)
    assert(sep.head.getDouble(3) == 1.0, s"perfect ranking: ${sep.head}")
    // inverted: both positives share ONE block at the bottom →
    // AP = (np/n_pos)·(cumTP/cumAll) = 1 · 2/4 = prevalence
    val inv = CorpusStats.prAucOf(cardDocs(
      (1L, "de", "s0", long), (2L, "fr", "s0", long),
      (3L, "en", "s0", "x!x"), (4L, "en", "s0", "x!x"))).collect()
    assert(inv.head.getDouble(3) == 0.5, s"inverted ranking: ${inv.head}")
    // a source with zero positives has no defined AP → dropped;
    // zero negatives keeps AP = 1 (PR handles it, unlike ROC)
    val edge = CorpusStats.prAucOf(cardDocs(
      (1L, "de", "neg_only", "a"),
      (2L, "en", "pos_only", "b"))).collect()
    assert(edge.length == 1 && edge.head.getString(0) == "pos_only")
    assert(edge.head.getDouble(3) == 1.0, s"all-positive source: ${edge.head}")
  }

  test("calibration curve bins by score and reports per-bin positive rate") {
    val text = Seq.fill(40)("the word").mkString(" ")
    val q = docsDf(1L -> text)
      .select(graft.functions.TextF.qualityScore(
        org.apache.spark.sql.functions.col("text"),
        graft.operators.TextAnalysis.Stopwords))
      .collect().head.getDouble(0)
    val out = CorpusStats.calibrationCurveOf(cardDocs(
      (1L, "en", "s0", text), (2L, "de", "s0", text))).collect()
    assert(out.length == 1, "identical texts share one bin")
    val r = out.head
    assert(r.getLong(0) == math.min(math.floor(q * 20).toLong, 19L))
    assert(r.getLong(1) == 2L && r.getDouble(2) == q && r.getDouble(3) == 0.5)
  }

  private def cellsDf(rows: (Long, Long, Long)*): DataFrame =
    rows.toDF("bin", "n_docs", "n_pos")

  test("isotonic fit pools adjacent violators and keeps monotone runs") {
    // rates 0.4, 0.8, 0.2: pooling (0.8, 0.2) gives 0.5 >= 0.4 → done
    val out = CorpusStats.isotonicFitOf(cellsDf(
      (0L, 5L, 2L), (1L, 5L, 4L), (2L, 5L, 1L)))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((0L, 400000L, 400000L),
      (1L, 800000L, 500000L), (2L, 200000L, 500000L)), s"got ${out.toSeq}")
  }

  test("isotonic fit is the identity on an already-monotone curve") {
    val out = CorpusStats.isotonicFitOf(cellsDf(
      (0L, 4L, 0L), (1L, 4L, 2L), (2L, 4L, 4L)))
      .collect().map(r => (r.getLong(3), r.getLong(4)))
    assert(out.forall { case (raw, iso) => raw == iso }, s"got ${out.toSeq}")
  }

  test("isotonic fit pools a fully-decreasing curve to the global rate") {
    // rates 1.0, 0.5, 0.0 all pool: (4+2+0)/12 = 0.5
    val out = CorpusStats.isotonicFitOf(cellsDf(
      (0L, 4L, 4L), (1L, 4L, 2L), (2L, 4L, 0L)))
      .collect().map(_.getLong(4))
    assert(out.forall(_ == 500000L), s"got ${out.toSeq}")
  }

  test("isotonic calibration is monotone end-to-end on the corpus") {
    val out = SparkEntry.queries("isotonic_calibration")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(4)))
    assert(out.nonEmpty)
    assert(out.sortBy(_._1).map(_._2).sliding(2).forall(
      s => s.length < 2 || s(0) <= s(1)), s"non-monotone fit: ${out.toSeq}")
  }

  // Gate-controlled fixtures for McNemar: A passes both gates, B only
  // gopher (comma mass zeroes the quality punct leg), C only quality
  // (23 tokens < 50), D neither.
  private val McA = (Seq.fill(51)("wordword") ++ Seq.fill(8)("the") :+ "and")
    .mkString(" ")
  private val McB = (Seq.fill(51)("wordword") ++ Seq.fill(8)("the")
    ++ Seq("and") ++ Seq.fill(8)(",,,,,,,,")).mkString(" ")
  private val McC = (Seq.fill(20)("abcdefghij") ++ Seq.fill(2)("the")
    :+ "and").mkString(" ")
  private val McD = "x! x! x!"

  test("mcnemar: balanced disagreement scores zero, cells partition the corpus") {
    // the whitespace-only doc nulls both raw gate measures (0-token
    // divisions): it must land in n_neither, not vanish from the 2×2
    val out = CorpusStats.mcnemarGatesOf(docsDf(
      1L -> McA, 2L -> McB, 3L -> McC, 4L -> McD, 5L -> "   "))
      .collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3), out.getLong(4)) == ((5L, 1L, 1L, 1L, 2L)), s"$out")
    // b=c=1: continuity correction clamps (|0|-1) to 0 → chi2 = 0
    assert(out.getDouble(5) == 0.0 && !out.getBoolean(6), s"$out")
  }

  test("mcnemar: one-sided disagreement crosses 3.841 and perfect agreement nulls") {
    val oneSided = CorpusStats.mcnemarGatesOf(docsDf(
      (Seq(1L -> McA) ++ (2L to 7L).map(_ -> McB) :+ (8L -> McD)): _*))
      .collect().head
    // b=6, c=0: chi2 = (6-1)²/6 = 4.166667
    assert(oneSided.getLong(2) == 6L && oneSided.getLong(3) == 0L, s"$oneSided")
    assert(oneSided.getDouble(5) == 4.166667 && oneSided.getBoolean(6),
      s"$oneSided")
    val agree = CorpusStats.mcnemarGatesOf(docsDf(1L -> McA, 2L -> McD))
      .collect().head
    assert(agree.isNullAt(5) && !agree.getBoolean(6),
      s"agreement must null chi2: $agree")
  }

  test("term keyness promotes focus-exclusive terms with exact smoothed ratios") {
    val docs = Seq(
      (1L, "src0", "zebra zebra common"),
      (2L, "srcX", "common common"))
      .toDF("doc_id", "source", "text")
    val out = CorpusStats.termKeynessOf(docs, focus = "src0", minCount = 1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // nf=3, nr=2, v=2: zebra (2+1)·(2+2) / (0+1)·(3+2) = 12/5 = 2.4
    assert(out("zebra") == ((2L, 0L, 2.4)), s"got $out")
    // common (1+1)·4 / (2+1)·5 = 8/15 = 0.5333
    assert(out("common") == ((1L, 2L, 0.5333)))
  }

  test("term keyness enforces the focus-side support floor") {
    val docs = Seq(
      (1L, "src0", "rare common common common common"),
      (2L, "srcX", "common"))
      .toDF("doc_id", "source", "text")
    val out = CorpusStats.termKeynessOf(docs, focus = "src0", minCount = 2)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("common"), "a 1-occurrence focus term must not rank")
  }

  test("vocab overlap reports pairwise vocabulary jaccard") {
    val docs = Seq(
      (1L, "A", "a b c"),
      (2L, "B", "b c d"),
      (3L, "B", "b"))  // duplicate token within a source counts once
      .toDF("doc_id", "source", "text")
    val out = CorpusStats.vocabOverlapOf(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getString(1)) == (("A", "B")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((3L, 3L, 2L)))
    assert(r.getDouble(5) == 0.5, "J = 2 / (3 + 3 - 2)")
  }

  test("auc matches the pairwise definition on a mixed case") {
    // Scores by construction: longer text → higher score. One inversion.
    val docs = cardDocs(
      (1L, "en", "s0", Seq.fill(50)("the word").mkString(" ")), // high, pos
      (2L, "en", "s0", "short pos"),                            // low, pos
      (3L, "de", "s0", Seq.fill(20)("the word").mkString(" ")), // mid, neg
      (4L, "de", "s0", "tiny"))                                 // lowest, neg
    val q = docs.select($"doc_id",
      graft.functions.TextF.qualityScore($"text",
        graft.operators.TextAnalysis.Stopwords).as("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pos = Seq(1L, 2L); val neg = Seq(3L, 4L)
    val u = (for { p <- pos; n <- neg } yield
      if (q(p) > q(n)) 1.0 else if (q(p) == q(n)) 0.5 else 0.0).sum
    val expected = math.floor(u / (pos.size * neg.size) * 1e6 + 0.5) / 1e6
    val out = CorpusStats.aucQualityOf(docs).collect().head.getDouble(3)
    assert(out == expected, s"AUC $out vs pairwise $expected (scores $q)")
  }

  test("quality retention curve is complete, monotone, and anchored at keep-everything") {
    val docs = docsDf(
      1L -> "tiny",
      2L -> ("the quick brown fox jumps over a lazy dog " * 5),
      3L -> ("a solid mid length document with the usual words " * 3),
      4L -> "!!! ??? ,,, ;;; noise !!!")
    val out = CorpusStats.qualityRetentionOf(docs).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 10, "one row per threshold band, empty bands included")
    assert(out.map(_._1).toSeq == (0 until 10).map(_ / 10.0))
    assert(out.head._2 == 4L && out.head._4 == 1.0,
      "threshold 0.0 keeps every doc")
    val docsKept = out.map(_._2).toSeq
    assert(docsKept.zip(docsKept.tail).forall { case (a, b) => a >= b },
      s"retention must be non-increasing in the threshold: $docsKept")
    val tokensKept = out.map(_._3).toSeq
    assert(tokensKept.zip(tokensKept.tail).forall { case (a, b) => a >= b })
  }

  test("quantile normalization equalizes identically-shaped sources and preserves order") {
    // Source A and source B contain the same score multiset (identical
    // texts), so after normalization matching ranks must map to the
    // SAME global value; within a source, order must be preserved.
    val texts = Seq(
      "tiny",
      "the quick brown fox jumps over a lazy dog here today",
      ("a longer document with the usual words repeated " * 4))
    val docs = (texts.zipWithIndex.map { case (t, i) => (i.toLong, "A", t) } ++
      texts.zipWithIndex.map { case (t, i) => (100L + i, "B", t) })
      .toDF("doc_id", "source", "text")
    val out = CorpusStats.quantileNormalizeOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(out.size == 6)
    texts.indices.foreach { i =>
      assert(out(i.toLong)._3 == out(100L + i)._3,
        s"matching ranks across identical sources must normalize equally: $out")
    }
    // order preservation within a source
    val a = out.filter(_._2._1 == "A").toSeq.sortBy(_._2._2).map(_._2._3)
    assert(a.zip(a.tail).forall { case (x, y) => x <= y })
  }
  test("ngram diversity: repetition craters distinct-2/3 while distinct-1 stays flat") {
    val docs = Seq(
      (1L, "loop", "a a a a"),                // TTR1 = 1/4; strict 2-grams: 3x "a a"
      (2L, "fresh", "w x y z"))               // all distinct at every n
      .toDF("doc_id", "source", "text")
    val out = CorpusStats.distinctNgramDiversityOf(docs).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(("loop", 1)) == ((4L, 1L, 0.25)), s"got $out")
    assert(out(("loop", 2)) == ((3L, 1L, 0.3333)))
    assert(out(("loop", 3)) == ((2L, 1L, 0.5)))
    assert(out(("fresh", 1)) == ((4L, 4L, 1.0)))
    assert(out(("fresh", 2)) == ((3L, 3L, 1.0)))
    assert(out(("fresh", 3)) == ((2L, 2L, 1.0)))
  }

  test("lang hhi: monolingual scores 1.0; an even split halves; ties pick the smaller lang") {
    val docs = Seq(
      (1L, "mono", "en", "x"), (2L, "mono", "en", "x"),
      (3L, "tied", "de", "x"), (4L, "tied", "fr", "x"))
      .toDF("doc_id", "source", "lang", "text")
    val out = CorpusStats.langHhiOf(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4), r.getDouble(5)))).toMap
    assert(out("mono") == ((2L, 1L, 1.0, "en", 1.0)), s"got $out")
    assert(out("tied") == ((2L, 2L, 0.5, "de", 0.5)),
      s"50/50 split → HHI 0.5, tie to 'de': $out")
  }

  test("coverage curve: clamped ranks, exact prefix shares") {
    // counts: a×5, b×3, c×2 → total 10; k=1 covers 0.5, k=2 covers
    // 0.8, k=100 clamps to the 3-type vocabulary and covers 1.0
    val docs = docsDf(1L -> "a a a b b c", 2L -> "a a b c")
    val out = CorpusStats.coverageCurveOf(docs, ks = Seq(1, 2, 100)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(out(1) == ((3L, 10L, 5L, 0.5)), s"got $out")
    assert(out(2) == ((3L, 10L, 8L, 0.8)), s"got $out")
    assert(out(100) == ((3L, 10L, 10L, 1.0)), s"got $out")
  }

  test("best split: a clean separation puts the cut between the classes") {
    // y=1 mass at q4=2000, y=0 mass at q4=8000: any threshold in
    // (2000, 8000] separates perfectly; gain quantization ties them
    // and the tiebreak picks the SMALLEST such threshold (0.25).
    val binned = (Seq.fill(10)((2000L, 1L)) ++ Seq.fill(10)((8000L, 0L)))
      .toDF("q4", "y")
    val r = graft.operators.CorpusStats.bestSplitBinned(binned).collect().head
    assert(r.getDouble(0) == 0.25, s"smallest perfect cut: $r")
    assert(r.getLong(1) == 20L && r.getLong(2) == 10L && r.getLong(3) == 10L)
    assert(r.getDouble(4) == 0.5, "parent Gini 0.5 -> child 0: full gain")
    assert(r.getDouble(5) == 1.0 && r.getDouble(6) == 0.0)
  }

  test("best split: an uninformative feature reports zero gain") {
    // Same class mix on both sides of every cut.
    val binned = (Seq.fill(5)((2000L, 1L)) ++ Seq.fill(5)((2000L, 0L)) ++
      Seq.fill(5)((8000L, 1L)) ++ Seq.fill(5)((8000L, 0L)))
      .toDF("q4", "y")
    val r = graft.operators.CorpusStats.bestSplitBinned(binned).collect().head
    assert(r.getDouble(4) == 0.0, s"no cut helps: $r")
    assert(r.getDouble(0) == 0.05, "all-tied gain falls to the first threshold")
  }

  test("best split: empty-side candidates read NULL rate, never win, never throw") {
    // Every point above 0.95: threshold 0.95 has an empty left side.
    val binned = Seq.fill(4)((9800L, 1L)).toDF("q4", "y")
    val r = graft.operators.CorpusStats.bestSplitBinned(binned).collect().head
    assert(r.getDouble(4) == 0.0 && r.isNullAt(5) == (r.getLong(2) == 0L))
  }

  test("pareto frontier: strict dominance prunes, ties follow the skyline convention") {
    // Points (q4, len): (90,10) dominates (80,10) [q strict, len eq]
    // and (80,5); (90,10) vs (95,3): neither dominates -> both stay.
    // Same-q tie (70,20) vs (70,20): equal pair, both stay; (70,15)
    // is beaten within the tie.
    val scored = Seq(
      (1L, 90L, 10L), (2L, 80L, 10L), (3L, 80L, 5L), (4L, 95L, 3L),
      (5L, 70L, 20L), (6L, 70L, 20L), (7L, 70L, 15L))
      .toDF("doc_id", "q4", "n_chars")
    val ids = graft.operators.CorpusStats.skylineOf(scored)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L, 5L, 6L), s"frontier: $ids")
  }

  test("heaps curve: each decile reports the vocabulary its prefix introduced") {
    // Docs 0-9: one shared token + one fresh token each.
    val docs = (0 until 10).map(i => (i.toLong, s"shared tok$i", "s"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.CorpusStats.heapsCurveOf(docs).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out(10) == 2L, s"doc 0 alone: shared + tok0: $out")
    assert(out(50) == 6L, "five docs: shared + five fresh")
    assert(out(100) == 11L)
  }

  test("brier decomposition: the Murphy identity closes; single-class corpus zeroes unc and res") {
    import spark.implicits._
    // Real corpus: identity brier = rel − res + unc + within_bin must
    // close to the published 6-dp grid, and every component is a
    // probability-scale non-negative (within_bin is the bin-variance
    // remainder, also ≥ 0 in the binned decomposition).
    val Array(r) = SparkEntry.queries("brier_decomposition")(spark, Sf).collect()
    val (brier, rel, res, unc, wb) = (r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(math.abs(brier - (rel - res + unc + wb)) < 5e-6,
      s"identity must close: $r")
    assert(brier >= 0 && brier <= 1 && rel >= 0 && res >= 0 &&
      unc >= 0 && unc <= 0.25 && wb >= -5e-6, s"ranges: $r")
    // All-positive corpus: ō = 1 → uncertainty 0, and every bin's
    // rate equals the base rate → resolution 0.
    val docs = Seq(
      (1L, "the of and is a report", "en", "s", 20L),
      (2L, "you that it in to is", "en", "s", 20L),
      (3L, "the a of to you it is that", "en", "s", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val Array(p) = graft.operators.CorpusStats
      .brierDecompositionOf(docs).collect()
    assert(p.getLong(0) == 3L && p.getLong(1) == 3L)
    assert(p.getDouble(5) == 0.0 && p.getDouble(4) == 0.0,
      s"single-class: unc = res = 0: $p")
  }

  test("hellinger: identical sources ~0, disjoint sources exactly 1, hand case reads sqrt(1/2)") {
    val docs = Seq(
      (1L, "a", "x x y"), (2L, "b", "x x y"), // identical distributions
      (3L, "c", "z z z"),                     // disjoint from everything
      (4L, "d", "x y y y"))                   // vs a-restricted: hand case below
      .toDF("doc_id", "source", "text")
    val got = CorpusStats.hellingerMatrixOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == 6, s"dense pair scaffold: $got")
    val (nsAb, bcAb, hAb) = got(("a", "b"))
    assert(nsAb == 2L && bcAb >= 0.999999 && hAb <= 0.001001,
      s"identical: ${got(("a", "b"))}")
    // c is disjoint from every other source: the scaffold must still
    // publish the pair with BC = 0 and H = 1 exactly.
    assert(got(("a", "c")) == ((0L, 0.0, 1.0)), s"${got(("a", "c"))}")
    assert(got(("b", "c")) == ((0L, 0.0, 1.0)))
    assert(got(("c", "d")) == ((0L, 0.0, 1.0)))
    // a = {x:2/3, y:1/3}, d = {x:1/4, y:3/4}:
    // BC = sqrt(2·1/(3·4)) + sqrt(1·3/(3·4)) = sqrt(1/6) + 1/2
    val term1 = math.floor(math.sqrt(2.0 * 1.0 / (3.0 * 4.0)) * 1e9 + 0.5)
    val term2 = math.floor(math.sqrt(1.0 * 3.0 / (3.0 * 4.0)) * 1e9 + 0.5)
    val bc = (term1 + term2) / 1e9
    def f6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got(("a", "d")) == ((2L, f6(bc), f6(math.sqrt(1.0 - bc)))),
      s"${got(("a", "d"))}")
  }

  test("zipf slope: planted 8/4/2/1 frequencies read slope -1.5 intercept 3 on the doubling grid") {
    // ranks 1..4 → x = 0,1,1,2; freqs 8,4,2,1 → y = 3,2,1,0.
    // Weighted OLS: W=4 Σx=4 Σy=6 Σxy=3 Σx²=6 →
    // slope = (12−24)/(24−16) = −1.5; intercept = (6+1.5·4)/4 = 3.
    val docs = Seq(
      (1L, "s1", (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++
        Seq.fill(2)("c") ++ Seq("d")).mkString(" ")),
      (2L, "s2", "u v"))                      // flat 2-type source
      .toDF("doc_id", "source", "text")
    val got = CorpusStats.zipfSlopeOf(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val s1 = got("s1")
    assert((s1.getLong(1), s1.getLong(2)) == ((4L, 3L)), s"s1: $s1")
    assert(s1.getDouble(3) == -1.5 && s1.getDouble(4) == 3.0, s"s1: $s1")
    // s2: both tokens at f=1 → ranks 1,2 → x = 0,1 BUT y = 0,0:
    // den = 2·1 − 1 = 1 ≠ 0 → slope 0, intercept 0 (a flat corpus
    // fits a flat line — only a SINGLE rank bucket nulls).
    val s2 = got("s2")
    assert(s2.getDouble(3) == 0.0 && s2.getDouble(4) == 0.0, s"s2: $s2")
  }

  test("skipgram pairs match an independent window-3 brute force, lift ordering and floor included") {
    val text = Seq.fill(8)("x y z w").mkString(" ") // 32 tokens, period 4
    val docs = docsDf(1L -> text)
    val got = CorpusStats.skipgramPairsOf(docs, window = 3, minCount = 5,
      k = 20).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // independent brute force over the token list
    val toks = text.split("\\s+").toSeq
    val n = toks.size
    val pairCounts = (for {
      off <- 1 to 3
      i <- 0 until n - off
      a = toks(i); b = toks(i + off)
    } yield (Seq(a, b).min, Seq(a, b).max))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 5)
    val uni = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nPairs = (1 to 3).map(off => math.max(0, n - off).toLong).sum
    def rnd4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = pairCounts.toSeq.map { case ((a, b), cp) =>
      val lift = rnd4((cp.toDouble / nPairs) /
        ((uni(a).toDouble / n) * (uni(b).toDouble / n)))
      (a, b, cp, lift)
    }.sortBy { case (a, b, cp, l) => (-l, -cp, a, b) }.take(20)
    assert(got.toSeq == expected, s"got ${got.toSeq}\nexp $expected")
  }

  test("delong se: perfect separation reads auc 1 with zero variance; an inversion opens the band") {
    import spark.implicits._
    val clean = "the quick brown fox jumps over the lazy dog and then " +
      "walks on to the next field where it rests for a while in peace"
    val junk = "!!! ??? !!!"
    val perfect = ((1L to 5L).map(i => (i, clean + " " + i, "en", "s1")) ++
      (6L to 10L).map(i => (i, junk + " " + i, "de", "s1")))
      .toDF("doc_id", "text", "lang", "source")
    val p = CorpusStats.aucDelongSeOf(perfect).collect().head
    assert((p.getLong(1), p.getLong(2)) == ((5L, 5L)), s"$p")
    assert(p.getDouble(3) == 1.0 && p.getDouble(4) == 0.0, s"$p")
    assert(p.getDouble(5) == 1.0 && p.getDouble(6) == 1.0, s"$p")
    // flip one label: auc drops below 1 and the band opens
    val mixed = ((1L to 5L).map(i => (i, clean + " " + i, "en", "s1")) ++
      (6L to 9L).map(i => (i, junk + " " + i, "de", "s1")) :+
      ((10L, junk + " x", "en", "s1")))
      .toDF("doc_id", "text", "lang", "source")
    val m = CorpusStats.aucDelongSeOf(mixed).collect().head
    assert(m.getDouble(3) < 1.0 && m.getDouble(4) > 0.0, s"$m")
    assert(m.getDouble(5) < m.getDouble(3) && m.getDouble(6) > m.getDouble(3),
      s"band brackets the point: $m")
  }

  test("lift table: separable score reads 2x lift in the positive deciles, capture climbs to 1") {
    import spark.implicits._
    val clean = "the quick brown fox jumps over the lazy dog and then " +
      "walks on to the next field where it rests for a while in peace"
    val junk = "!!! ??? !!!"
    val docs = ((1L to 5L).map(i => (i, clean + " " + i, "en")) ++
      (6L to 10L).map(i => (i, junk + " " + i, "de")))
      .toDF("doc_id", "text", "lang")
    val got = CorpusStats.liftTableOf(docs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.size == 10)
    (1 to 5).foreach { k =>
      assert(got(k) == ((1L, 1L, 1000000L, 2000000L, k * 200000L)),
        s"decile $k: ${got(k)}")
    }
    (6 to 10).foreach { k =>
      assert(got(k) == ((1L, 0L, 0L, 0L, 1000000L)), s"decile $k: ${got(k)}")
    }
  }

  test("textrank: the hub word outranks isolated pairs; stopwords and 1-char tokens never enter the graph") {
    import spark.implicits._
    // 'hub' co-occurs with four distinct partners (each pair twice to
    // clear minCount); 'xx yy' is a frequent but isolated pair; 'the'
    // and the 1-char 'z' must be filtered before pair construction.
    val docs = (Seq.fill(2)(Seq("the hub aa z", "hub bb", "hub cc", "hub dd",
        "xx yy")).flatten.zipWithIndex)
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = graft.operators.CorpusStats.textrankKeywordsOf(docs).collect()
    val toks = out.map(_.getString(0)).toSeq
    assert(toks.head == "hub", s"the connector must rank first: $toks")
    assert(!toks.contains("the") && !toks.contains("z"),
      s"stopword/1-char tokens filtered: $toks")
    assert(out.forall(_.getLong(1) > 0L), "rank mass is positive")
  }

  test("tokenizer efficiency: hand-tokenized BPE/ws counts and exact 4-dp ratios") {
    import spark.implicits._
    // en: "ab cd" → 5 chars, 2 ws tokens, 2 BPE tokens ("ab", " cd");
    // xx: "a1b!" → 4 chars, 1 ws token, 4 BPE tokens (L/N/L/sym runs).
    val docs = Seq((1L, "en", "ab cd"), (2L, "xx", "a1b!"))
      .toDF("doc_id", "lang", "text")
    val out = graft.operators.CorpusStats.tokenizerEfficiencyOf(docs)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(out("en") == ((1L, 5L, 2L, 2L, 2.5, 1.0)), s"got $out")
    assert(out("xx") == ((1L, 4L, 1L, 4L, 1.0, 4.0)), s"got $out")
  }

  test("simpson diversity: hand-computed repeat mass, 1-token and all-distinct edges null/zero") {
    import spark.implicits._
    // A: tokens (a, a, b) → N=3, rep2 = 2·1 = 2, λ = 2/6 → 333333
    //    ppm, effective = 6/2 = 3.0
    // B: single token → both undefined (NULL, never 0)
    // C: all distinct → λ = 0 exactly, effective undefined (NULL)
    val docs = Seq(
      (1L, "A", "a a b"), (2L, "B", "solo"), (3L, "C", "p q"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.CorpusStats.simpsonDiversityOf(docs)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)),
        if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)))))
      .toMap
    assert(out("A") == ((3L, 2L, 333333L, 3.0)), s"got $out")
    assert(out("B") == ((1L, 1L, null, null)), s"got $out")
    assert(out("C") == ((2L, 2L, 0L, null)), s"got $out")
  }

  test("rake keywords: degree/freq phrase scores by hand, maxLen cap, minCount floor") {
    import spark.implicits._
    // per doc: phrases [red apple], [banana] — 'the' delimits;
    // doc 3's 5-token run exceeds maxLen=4 and is dropped whole.
    val docs = Seq(
      (1L, "red apple the banana"),
      (2L, "red apple the banana"),
      (3L, "vv ww xx yy zz"))
      .toDF("doc_id", "text")
    val out = graft.operators.CorpusStats.rakeKeywordsOf(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // red: freq 2, degree 4 → 2.0; apple: 2.0; banana: freq 2,
    // degree 2 → 1.0. "red apple" = 4.0, "banana" = 1.0.
    assert(out == Map(
      "red apple" -> ((2L, 2L, 4.0)),
      "banana" -> ((1L, 2L, 1.0))), s"got $out")
  }

  test("prf: an expansion-only doc surfaces in pass 2 that seed-only bm25 cannot see") {
    import spark.implicits._
    // docs 1-5 carry the seed term AND hammer 'join'; doc 6 says
    // ONLY 'join' — invisible to the seed query, reachable through
    // the mined expansion. doc 7 is noise and must stay invisible.
    val docs = ((1L to 5L).map(i =>
      (i, s"spark join join join extra$i")) ++ Seq(
      (6L, "join join join"),
      (7L, "nothing relevant here")))
      .toDF("doc_id", "text")
    val seedOnly = graft.operators.CorpusStats
      .bm25SearchOf(docs, Seq("spark", "merge", "window"))
      .collect().map(_.getLong(0)).toSet
    val prf = graft.operators.CorpusStats.prfSearchOf(docs)
      .collect().map(_.getLong(0)).toSet
    assert(!seedOnly.contains(6L), s"seed-only must miss doc 6: $seedOnly")
    assert(prf.contains(6L),
      s"the mined 'join' expansion must surface doc 6: $prf")
    assert(!prf.contains(7L), s"noise stays out: $prf")
    assert((1L to 5L).forall(prf.contains), s"feedback docs stay in: $prf")
  }

  test("burrows delta: identical-style sources read 0, the deviant source reads symmetric positive") {
    import spark.implicits._
    // A and B share the exact frequency profile; C inverts it. Both
    // words survive (nonzero cross-source variance) → n_words = 2.
    val docs = Seq(
      (1L, "A", "x x y"), (2L, "B", "x x y"), (3L, "C", "y y x"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.CorpusStats.burrowsDeltaOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("A", "B")) == ((2L, 0.0)), s"got $out")
    assert(out(("A", "C")) == out(("B", "C")), s"got $out")
    assert(out(("A", "C"))._2 > 1.0,
      s"a full profile inversion is > 1 sd apart: $out")
  }

  test("term burstiness: a bursty term reads D > 1e6, an everywhere-constant term reads 0") {
    import spark.implicits._
    // x: 3 occurrences all in doc 1 → D = (3·9 − 9)/(3·3) = 2.0;
    // y: once per doc → zero variance → D = 0.
    val docs = Seq((1L, "x x x y"), (2L, "y"), (3L, "y"))
      .toDF("doc_id", "text")
    val out = graft.operators.CorpusStats.termBurstinessOf(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out == Map("x" -> ((3L, 1L, 2000000L)),
      "y" -> ((3L, 3L, 0L))), s"got $out")
  }

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
}
