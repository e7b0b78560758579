package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup, Similarity}

class CorpusSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def corpusDf(rows: (Long, String, String)*): DataFrame =
    rows.toDF("doc_id", "source", "text")

  test("decontaminate: only a full shared 8-gram marks a doc contaminated") {
    val docs = corpusDf(
      (1L, "src0", "a b c d e f g h i"), // bench: grams "a..h", "b..i"
      (2L, "web", "x a b c d e f g h y"), // contains "a..h" → contaminated
      (3L, "web", "a b c totally different words here now ok"), // shares words only
      (4L, "web", "b c d e f g h i")) // contains "b..i" → contaminated
    val out = Corpus.decontaminateOf(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(2L -> true, 3L -> false, 4L -> true))
  }

  test("decontaminate: bench docs under n tokens contribute no grams at all") {
    val docs = corpusDf(
      (1L, "src0", "x y z"),      // < 8 tokens → zero bench grams
      (2L, "web", "x y z"),       // identical text, but nothing to match
      (3L, "web", "x y z a b c d e f g h"))
    val out = Corpus.decontaminateOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((2L, 0L, false), (3L, 0L, false)))
  }

  test("pii redact: counts follow the doc_id-keyed synthesis") {
    // doc_id 30: 30%3=0 → no email; 30%2=0 → phone; 30%5=0 → IP.
    // doc_id 7:  7%3>0 → email;  7%2=1 → no phone; 7%5>0 → no IP.
    val docs = Seq((30L, "plain words"), (7L, "plain words")).toDF("doc_id", "text")
    val out = Corpus.piiRedactOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(30L) == ((0, 1, 1)))
    assert(out(7L) == ((1, 0, 0)))
  }

  test("pii redact: placeholders replace every detected span") {
    val redacted = Seq((1L, "mail me a@b.com or ring +1-555-0199 from 10.1.0.1"))
      .toDF("doc_id", "text")
      .select(Corpus.redactPii($"text").as("r")).as[String].head()
    assert(redacted == "mail me [EMAIL] or ring [PHONE] from [IP]")
  }

  test("stratified sample keeps ceil(count/denom) per stratum, even tiny ones") {
    val docs = (1L to 7L).map(i => (i, "en", s"en doc number $i")) ++
      Seq((8L, "fr", "fr doc a"), (9L, "fr", "fr doc b"), (10L, "de", "de only doc"))
    val out = Corpus.stratifiedSampleOf(docs.toDF("doc_id", "lang", "text"), denom = 5)
      .collect().map(_.getString(1))
    val perLang = out.groupBy(identity).view.mapValues(_.length).toMap
    // ceil(7/5)=2, ceil(2/5)=1, ceil(1/5)=1
    assert(perLang == Map("en" -> 2, "fr" -> 1, "de" -> 1))
  }

  test("vocab df/cf: df counts documents, cf counts occurrences") {
    val docs = Seq(
      (1L, "x", "alpha beta alpha"),
      (2L, "x", "alpha gamma")).map { case (id, s, t) => (id, t) }
      .toDF("doc_id", "text")
    val out = Corpus.vocabDfOf(docs, k = 10).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("alpha") == ((2L, 3L)))
    assert(out("beta") == ((1L, 1L)))
    assert(out("gamma") == ((1L, 1L)))
  }

  test("jaccard pairs: single-token docs survive the prefix math") {
    val docs = Seq(
      (1L, "hello"), (2L, "hello"), (3L, "world")).toDF("doc_id", "text")
    val out = Dedup.jaccardPairsOf(docs, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("jaccard pairs with length filter match a brute-force all-pairs scan") {
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      3L -> "the quick brown fox jumps over the lazy dog today", // exact dup of 1
      4L -> "pack my box with five dozen liquor jugs right now",
      5L -> "a much longer document the quick brown fox jumps over the lazy dog today with many extra trailing words appended here",
      6L -> "entirely unrelated content about pasta cooking methods tonight")
    val docs = texts.toDF("doc_id", "text")
    val got = Dedup.jaccardPairsOf(docs, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force on the same shingle-hash sets
    val sets = docs.select($"doc_id", Dedup.shingleHashes($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      jr = BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= 0.5
    } yield (a, b, jr)).toSet
    assert(got == expect)
    assert(expect.exists { case (a, b, _) => a == 1L && b == 3L }) // non-vacuous
  }

  test("int8 quantization: all-zero vector gets scale 0 and zero codes") {
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, -2.0f, 0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.embedQuantizeOf(emb).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(out(1L) == ((0.0, "0,0,0")))
    assert(out(2L)._2 == "64,-127,32") // scale = 127/2 = 63.5
    assert(out(2L)._1 == 63.5)
  }

  test("boilerplate: a gram needs minDocs distinct docs; short docs vanish") {
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8" // one exact 8-gram
    val docs = Seq(
      (1L, s"$shared alpha beta"),   // carries shared + 2 unique grams
      (2L, s"$shared gamma"),        // carries shared + 1 unique gram
      (3L, s"prefix $shared"),       // 3rd distinct doc → boilerplate
      (4L, "too short to gram"),     // < 8 tokens → no output row
      (5L, "a b c d e f g h"))       // unique 8-gram only → 0 dup
      .toDF("doc_id", "text")
    val out = Corpus.boilerplateStatsOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(!out.contains(4L))
    assert(out(1L) == ((3L, 1L, 0.3333)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 1L, 0.5)))
    assert(out(5L) == ((1L, 0L, 0.0)))
  }

  test("waterfill: small sources fund fully, the rest split the water level") {
    // caps: A=10, B=50, C=100 tokens; budget 100.
    // valid(A): 10·3 = 30 ≤ 100 → full. valid(B): 50·2 = 100 > 90 → no.
    // λ = (100 − 10) div 2 = 45 → A=10, B=45, C=45, remainder 0.
    val docs = corpusDf(
      (1L, "A", Seq.fill(10)("t").mkString(" ")),
      (2L, "B", Seq.fill(50)("t").mkString(" ")),
      (3L, "C", Seq.fill(100)("t").mkString(" ")))
    val out = Corpus.waterfillBudgetOf(docs, budget = 100L).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(5))).toMap
    assert(out("A") == ((10L, 10L, true, 0L)), s"got $out")
    assert(out("B") == ((50L, 45L, false, 0L)))
    assert(out("C") == ((100L, 45L, false, 0L)))
    // budget beyond the corpus: everyone full, surplus reported
    val rich = Corpus.waterfillBudgetOf(docs, budget = 300L).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(3), r.getLong(5))).toMap
    assert(rich("A") == ((10L, true, 140L)) && rich("C") == ((100L, true, 140L)))
    // flooring remainder is reported, never assigned: caps 10/50/100, B=101
    // → λ = (101−10) div 2 = 45, remainder 1
    val odd = Corpus.waterfillBudgetOf(docs, budget = 101L).collect()
    assert(odd.forall(_.getLong(5) == 1L))
  }

  test("source temperature: √n weights up-weight small sources, targets floor") {
    val docs = ((1L to 9L).map(i => (i, "big", s"doc $i")) :+
      ((10L, "small", "doc 10")))
      .toDF("doc_id", "source", "text")
    val out = Corpus.sourceTemperatureOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    // weights 3:1 (√9:√1) vs the 9:1 proportional split
    assert(out("big") == ((9L, 0.75, 7L)))   // floor(3e6·10/4e6) = 7
    assert(out("small") == ((1L, 0.25, 2L))) // floor(1e6·10/4e6) = 2
  }

  test("boilerplate: duplicate grams within ONE doc do not count as corpus-level dup") {
    val eight = "x1 x2 x3 x4 x5 x6 x7 x8"
    // the same 8-gram twice in one doc — still df = 1 (set semantics)
    val docs = Seq((1L, s"$eight $eight")).toDF("doc_id", "text")
    val out = Corpus.boilerplateStatsOf(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).head
    assert(out._2 == 0L)
  }

  test("span dedup: shared 8-gram positions are cut, the rest reassembles in order") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val docs = Seq(
      (1L, s"head $shared tail"),       // 10 tokens, positions 1-8 covered
      (2L, s"$shared closing words"),   // positions 0-7 covered
      (3L, "entirely unique words that no other document repeats anywhere at all"))
      .toDF("doc_id", "text")
    val out = Corpus.spanDedupOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L)._1 == 10L && out(1L)._2 == 8L)
    assert(out(2L)._1 == 10L && out(2L)._2 == 8L)
    assert(out(3L)._2 == 0L)
    // doc 1 keeps exactly "head tail"; doc 2 keeps "closing words"
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L)._3 == md5("head tail"))
    assert(out(2L)._3 == md5("closing words"))
  }

  test("span dedup: overlapping duplicated grams cover the union of their spans") {
    // 9 shared tokens → two overlapping 8-grams in both docs; the
    // covered set is positions 0..8 (union), not 16 token-slots.
    val nine = "s1 s2 s3 s4 s5 s6 s7 s8 s9"
    val docs = Seq((1L, nine), (2L, s"$nine extra")).toDF("doc_id", "text")
    val out = Corpus.spanDedupOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 9L, 2L -> 9L))
  }

  test("span dedup: a fully-cut document survives with the empty-string hash") {
    val eight = "z1 z2 z3 z4 z5 z6 z7 z8"
    val docs = Seq((1L, eight), (2L, eight)).toDF("doc_id", "text")
    val out = Corpus.spanDedupOf(docs).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(2) == 8L)
      assert(r.getString(3) == "d41d8cd98f00b204e9800998ecf8427e") // md5("")
    }
  }

  test("weighted sample: keys are max-of-w draws and the cut is the global top-k") {
    val docs = (1L to 50L).map(i => (i, "t", i * 300L))
      .toDF("doc_id", "text", "n_chars")
    val out = Corpus.weightedSampleOf(docs, k = 10).collect()
    assert(out.length == 10)
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // independently recompute every doc's key and the top-10 cut
    val keys = (1L to 50L).map { id =>
      val w = 1L + math.min(id * 300L / 500L, 9L)
      id -> (w, (1L to w).map(i => md5(s"$id:$i")).max)
    }.toMap
    val expect = keys.toSeq.sortBy { case (id, (_, k)) => (k, -id) }
      .reverse.take(10).map(_._1).toSet
    assert(out.map(_.getLong(0)).toSet == expect)
    out.foreach { r =>
      val (w, k) = keys(r.getLong(0))
      assert(r.getLong(1) == w && r.getString(2) == k)
    }
  }

  test("length batching fills batches in doc order and pads to the batch max") {
    val docs = (1L to 5L).map(i => (i, Seq.fill(i.toInt)("t").mkString(" ")))
      .toDF("doc_id", "text")
    // bucketWidth 3 → bucket 0 = lens {1,2}, bucket 1 = {3,4,5};
    // batchSize 2 splits bucket 1 into [3,4] and [5].
    val out = Corpus.lengthBatchingOf(docs, bucketWidth = 3, batchSize = 2)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))).toMap
    assert(out(1L) == ((0L, 0L, 0L, 1)), "len 1 pads to bucket-mate len 2")
    assert(out(2L) == ((0L, 0L, 1L, 0)))
    assert(out(3L) == ((1L, 0L, 0L, 1)))
    assert(out(4L) == ((1L, 0L, 1L, 0)))
    assert(out(5L) == ((1L, 1L, 0L, 0)), "overflow starts batch 1, pads nothing")
  }

  test("length batching plans ONE shuffle: the batch-max window rides the bucket key") {
    val p = SparkEntry.queries("length_batching")(spark, Sf)
      .queryExecution.executedPlan.toString
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles == 1,
      s"(bucket, batch_id) must be satisfied by the bucket partitioning:\n$p")
  }

  test("prefix cache groups: only shared full prefixes count, short docs never") {
    val prefix = "p1 p2 p3 p4 p5 p6 p7 p8"
    val docs = Seq(
      (1L, s"$prefix alpha beta"),
      (2L, s"$prefix gamma"),
      (5L, s"$prefix delta"),
      (3L, "p1 p2 p3"),   // shorter than the prefix — excluded entirely
      (4L, "q1 q2 q3 q4 q5 q6 q7 q8 solo")) // unique prefix → no group
    val out = Corpus.prefixCacheGroupsOf(docs.toDF("doc_id", "text")).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 3L)
    assert(out.head.getLong(2) == 1L, "the smallest doc_id owns the cache entry")
    assert(out.head.getLong(3) == 16L, "(3-1) x 8 prefill tokens saved")
  }

  test("grouped split: every doc of a source lands in one split") {
    val docs = (1L to 100L).map(i => (i, s"src${i % 7}", "t"))
      .toDF("doc_id", "source", "text")
    val out = Corpus.groupedSplitOf(docs).collect()
    val bySource = out.groupBy(_.getString(1))
      .map { case (s, rs) => s -> rs.map(_.getString(3)).distinct.toSeq }
    bySource.values.foreach(splits => assert(splits.length == 1))
    assert(out.map(_.getString(3)).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("mixture plan gives every language its equal share or all it has") {
    val docs = Seq(
      (1L, "en", Seq.fill(100)("t").mkString(" ")),
      (2L, "de", Seq.fill(10)("t").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val out = Corpus.mixturePlanOf(docs, budget = 40).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // equal share = 40 div 2 = 20
    assert(out("en") == ((100L, 20L, 0L, 0.2)), s"got $out")
    assert(out("de") == ((10L, 10L, 10L, 1.0)),
      "a short language contributes everything; the slack is reported")
  }

  test("token length histogram buckets by powers of two") {
    val docs = Seq(
      (1L, "a b c"),             // 3 tokens → bucket 2 ([2, 3])
      (2L, "a b"),               // 2 tokens → bucket 2
      (3L, Seq.fill(8)("t").mkString(" ")))  // 8 → bucket 4 ([8, 15])
      .toDF("doc_id", "text")
    val out = Corpus.tokenLenHistogramOf(docs).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(2) == ((2L, 3L, 2L)), s"got $out")
    assert(out(4) == ((8L, 15L, 1L)))
  }

  test("token length histogram emits a 0/0 range for the NULL-safe bucket 0") {
    // NULL text is the one way to 0 tokens (trim gives real docs ≥ 1);
    // bucket 0's bounds must be 0/0, not the shiftleft(1, -1) garbage
    // a masked negative shift produces.
    val docs = Seq((1L, Some("a b")), (2L, None))
      .toDF("doc_id", "text")
    val out = Corpus.tokenLenHistogramOf(docs).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0) == ((0L, 0L, 1L)), s"got $out")
    assert(out(2) == ((2L, 3L, 1L)))
  }

  test("pii-by-source counts planted classes per source with exact rates") {
    // doc 6 (src A): email (6%3=0? no → 6%3==0 → NO email)... plant by id:
    // id 1 → email only; id 2 → email+phone; id 5 → ip only (5%3=2→email too).
    val docs = Seq(
      (1L, "A", "clean text"),   // email (1%3=1)
      (2L, "A", "clean text"),   // email (2%3=2) + phone (2%2=0)
      (3L, "B", "clean text"))   // 3%3=0, 3%2=1, 3%5=3 → nothing
    val out = Corpus.piiBySourceOf(docs.toDF("doc_id", "source", "text"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getDouble(6))).toMap
    assert(out("A") == ((2L, 2L, 1L, 0L, 3L, 1.5)), s"got $out")
    assert(out("B") == ((1L, 0L, 0L, 0L, 0L, 0.0)))
  }
  test("kfold assignment is stratified, balanced within 1, and deterministic") {
    val docs = (1L to 23L).map(i => (i, if (i <= 15) "en" else "de", s"doc body $i"))
      .toDF("doc_id", "lang", "text")
    val out = Corpus.kfoldAssignOf(docs, k = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.length == 23)
    // per-language fold sizes differ by at most 1 (round-robin)
    Seq("en", "de").foreach { l =>
      val sizes = out.filter(_._2 == l).groupBy(_._3).map(_._2.length)
      assert(sizes.max - sizes.min <= 1, s"$l folds unbalanced: $sizes")
    }
    assert(out.map(_._3).distinct.sorted.toSeq == Seq(0, 1, 2, 3))
    val again = Corpus.kfoldAssignOf(docs, k = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSeq == again.toSeq, "content-keyed: re-runs never move a doc")
  }

  test("class weights follow the balanced formula with optional smoothing") {
    val docs = Seq(
      (1L, "a", "x"), (2L, "b", "x"), (3L, "b", "x"),
      (4L, "c", "x"), (5L, "c", "x"), (6L, "c", "x"))
      .toDF("doc_id", "lang", "text")
    val w = Corpus.classWeightsOf(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(w == Map("a" -> 2.0, "b" -> 1.0, "c" -> 0.6667), s"got $w")
    val ws = Corpus.classWeightsOf(docs, alpha = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(ws == Map("a" -> 1.0, "b" -> 0.6667, "c" -> 0.5))
  }

  test("dsir weights: target-vocabulary docs weigh above off-target, mixed in between") {
    // Disjoint vocabularies so the ratio direction is unambiguous:
    // target docs reuse {ta,tb}, raw-only docs use {ra,rb}.
    val docs = Seq(
      (1L, "tgt", "ta tb ta tb"),
      (2L, "tgt", "tb ta tb ta"),
      (3L, "web", "ra rb ra rb"),
      (4L, "web", "rb ra rb ra"),
      (5L, "web", "ta tb ra rb")) // half target-like
      .toDF("doc_id", "source", "text")
    val w = Corpus.dsirWeightsOf(docs, Seq("tgt")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) == w(2L) && w(3L) == w(4L), "identical profiles, identical weights")
    assert(w(1L) > w(5L) && w(5L) > w(3L),
      s"weights must order target > mixed > off-target, got $w")
    // every token count feeds n_tokens, none dropped by the bucket join
    val n = Corpus.dsirWeightsOf(docs, Seq("tgt")).collect()
      .map(_.getLong(1)).toSeq
    assert(n == Seq(4L, 4L, 4L, 4L, 4L))
  }

  test("dsir weights: a source seen only in raw still scores via smoothing, never NULL") {
    val docs = Seq(
      (1L, "tgt", "ta tb"),
      (2L, "web", "zz yy xx ww")) // zero target-count buckets
      .toDF("doc_id", "source", "text")
    val rows = Corpus.dsirWeightsOf(docs, Seq("tgt")).collect()
    assert(rows.length == 2 && rows.forall(!_.isNullAt(2)),
      "Laplace smoothing must keep unseen-in-target buckets finite")
    val w = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(2L))
  }

  test("curriculum: clean docs schedule first, ranks are dense, batches cut at batchSize") {
    // quality is dominated by the length term at tiny docs: a 200+
    // char doc maxes it, a short one doesn't
    val long1 = (1 to 40).map(i => s"the w$i").mkString(" ")  // ~280 chars
    val long2 = (1 to 40).map(i => s"a x$i").mkString(" ")
    val docs = Seq(
      (1L, "short text"),
      (2L, long1),
      (3L, "tiny"),
      (4L, long2)).toDF("doc_id", "text")
    val out = Corpus.curriculumOrderOf(docs, batchSize = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3),
        r.getLong(4)))
    assert(out.map(_._3).toSeq == Seq(0L, 1L, 2L, 3L), "dense ranks in order")
    assert(out.map(_._5).toSeq == Seq(0L, 0L, 1L, 1L), "batches of 2")
    assert(out.map(_._4).toSeq.sliding(2).forall(p => p(0) <= p(1)),
      "tiers never decrease along the schedule")
    val q = out.map(o => o._1 -> o._2).toMap
    assert(out.take(2).map(_._1).toSet == Set(2L, 4L),
      s"the two long (high-quality) docs lead the curriculum: $q")
  }

  test("curriculum: equal-quality docs order by md5, not by id (content-blind tiebreak)") {
    // identical text → identical quality; md5("1"), md5("2"), md5("3")
    // sort as 1 < 3 < 2 (c4ca…, ecc…, c81e… → c4ca < c81e < ecc)
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "same"))
      .toDF("doc_id", "text")
    val out = Corpus.curriculumOrderOf(docs, batchSize = 10).collect()
      .map(_.getLong(0)).toSeq
    val md5Order = Seq(1L, 2L, 3L).sortBy(id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    assert(out == md5Order, s"got $out expected $md5Order")
  }

  test("cdc chunks: exact duplicates share every content address") {
    val txt = (0 until 120).map(i => s"t${i * 7 % 97}x${i % 13}").mkString(" ")
    val docs = Seq((1L, txt, "s"), (2L, txt, "s"))
      .toDF("doc_id", "text", "source")
    val r = graft.operators.Corpus.cdcChunksOf(docs).collect().head
    assert(r.getLong(2) == 2 * r.getLong(3),
      s"every chunk duplicated: n=${r.getLong(2)} distinct=${r.getLong(3)}")
    assert(r.getLong(4) == 500000L, "half the chunks are dups -> 500000 ppm")
  }

  test("cdc chunks: boundaries resync after a one-token prepend") {
    // The fixed-window hash depends only on the last 3 tokens, so a
    // prepended token can only disturb chunking up to the first
    // shared boundary; every later chunk keeps its content address
    // (the property fixed-offset chunk_docs cannot have).
    val base = (0 until 120).map(i => s"t${i * 7 % 97}x${i % 13}").mkString(" ")
    val docs = Seq((1L, base, "a"), (2L, "xyzzy " + base, "b"))
      .toDF("doc_id", "text", "source")
    val ch = graft.operators.Corpus.cdcChunkTable(docs).collect()
    val a = ch.filter(_.getLong(0) == 1L).map(_.getString(4)).toSet
    val b = ch.filter(_.getLong(0) == 2L).map(_.getString(4)).toSet
    assert(a.size > 3, s"the probe text must actually chunk, got ${a.size}")
    assert((a intersect b).size >= a.size - 2,
      s"all but the head chunk resync: |a|=${a.size} shared=${(a intersect b).size}")
  }

  test("padding waste: per-bucket and global pad shares are exact ppm") {
    import spark.implicits._
    // token counts 5 and 7 share bucket 3 (4..7): pad to max 7 →
    // (14-12)/14 = 142857 ppm; the single 1-token doc pads nothing;
    // global (pad everything to 7): (21-13)/21 = 380952 ppm.
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e f g"), (3L, "a"))
      .toDF("doc_id", "text")
    val out = graft.operators.Corpus.paddingWasteOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out == Map(
      1L -> ((1L, 1L, 1L, 0L)),
      3L -> ((2L, 7L, 12L, 142857L)),
      -1L -> ((3L, 7L, 13L, 380952L))), s"got $out")
  }

  test("kfold balance: round-robin spread is at most one doc; imbalance exact ppm") {
    import spark.implicits._
    val docs = (1L to 7L).map(i => (i, "en", s"doc body $i"))
      .toDF("doc_id", "lang", "text")
    val Array(r) = graft.operators.Corpus.kfoldBalanceOf(docs).collect()
    // 7 docs over 5 folds: two folds of 2, three of 1 → spread 1,
    // imbalance (2-1)/2 = 500000 ppm.
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == (("en", 7L, 5L, 1L, 2L, 500000L)),
      s"got $r")
  }

  test("split leakage: the one near-dup pair lands on its REAL splits") {
    // doc 1 and 2 are byte-identical (J = 1); doc 3 shares nothing.
    val docs = corpusDf(
      (1L, "web", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "web", "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "web", "one two three four five six seven eight"))
    val splits = Corpus.trainSplitOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val want = Seq(splits(1L), splits(2L)).sorted
    val out = Corpus.splitLeakageOf(docs).collect()
    assert(out.length == 1, s"exactly the (1,2) pair: ${out.toSeq}")
    val r = out.head
    assert((r.getString(0), r.getString(1)) == ((want(0), want(1))),
      s"the pair carries its actual split assignment: $r vs $want")
    assert(r.getLong(2) == 1L && r.getLong(3) == 1000000L,
      s"one pair, 100% of pair mass: $r")
    assert(r.getBoolean(4) == (want(0) != want(1)),
      s"cross_split mirrors the assignment: $r")
  }

  test("epoch shuffle: per-epoch permutations, decorrelated across epochs") {
    val docs = (1L to 60L).map(i => (i, "src", s"doc number $i"))
      .toDF("doc_id", "source", "text")
    val pos = Corpus.epochShuffleOf(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    (0 to 2).foreach { e =>
      val ps = pos.filter(_._1 == e).map(_._3).sorted
      assert(ps.toSeq == (1L to 60L), s"epoch $e must be a permutation")
    }
    val e0 = pos.filter(_._1 == 0).map(t => t._2 -> t._3).toMap
    val e1 = pos.filter(_._1 == 1).map(t => t._2 -> t._3).toMap
    assert((1L to 60L).count(d => e0(d) != e1(d)) > 30,
      "epochs must reorder, not repeat")
    // the registered audit equals the positions it summarizes
    val audit = Corpus.epochShuffleAuditOf(docs).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(audit.keySet == Set((0, 1), (0, 2), (1, 2)), s"$audit")
    val want01 = (1L to 60L).map(d => math.abs(e0(d) - e1(d))).sum
    assert(audit((0, 1)) == ((60L, want01 * 1000000L / (60L * 60L))),
      s"audit must equal the hand fold: ${audit((0, 1))} vs $want01")
    audit.values.foreach { case (n, ppm) =>
      assert(n == 60L && ppm > 100000L && ppm < 600000L,
        s"mean displacement in the random-permutation band: $audit")
    }
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

  test("source_overlap_matrix and dup_matrix count a three-source gram once per pair and a repeated gram once") {
    val g = "g1 g2 g3 g4 g5 g6 g7 g8"  // held by a, b and c
    val h = "h1 h2 h3 h4 h5 h6 h7 h8"  // twice in a, once in b
    val docs = Seq((1L, "a", g), (2L, "b", g), (3L, "c", g),
      (4L, "a", h), (5L, "a", h), (6L, "b", h))
      .toDF("doc_id", "source", "text")
    val want = Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L)
    val overlap = Corpus.sourceOverlapMatrixOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(overlap.map { case (k, v) => k -> v._1 } == want, s"$overlap")
    assert(overlap(("a", "b")) == ((2L, 2L, 2L, 1000000L)), s"$overlap")
    assert(overlap(("a", "c")) == ((1L, 2L, 1L, 500000L)), s"$overlap")
    val dup = Dedup.dupMatrixOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(dup == want, s"$dup")
  }
}
