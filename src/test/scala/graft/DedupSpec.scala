package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup}
import graft.sources.Tables

class DedupSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def docsDf(texts: (Long, String)*) =
    texts.toDF("doc_id", "text")

  test("native MinHashSignature matches the composable HOF formulation") {
    val df = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "pack my box with five dozen liquor jugs",
      3L -> "a b", // short-doc fallback path
      4L -> "sphinx of black quartz judge my vow now and always forever")
      .select(col("doc_id"), Dedup.shingleHashes(col("text")).as("hashes"))

    val native = df.select(col("doc_id"),
      Dedup.minhashSignature(col("hashes")).as("sig"))
    // Round 2's formulation: one array_min(transform(...)) per permutation.
    val hof = df.select(col("doc_id"), array(Dedup.perm.map { case (a, b) =>
      array_min(transform(col("hashes"), h => pmod(h * a + b, lit(Dedup.P))))
    }: _*).as("sig"))

    val n = native.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(n == h)
    assert(n.values.forall(_.length == Dedup.NumHashes))
  }

  test("identical docs share a cluster; distinct docs do not") {
    val df = docsDf(
      1L -> "spark is a unified analytics engine for large scale data",
      2L -> "spark is a unified analytics engine for large scale data",
      3L -> "completely different content about cooking pasta al dente tonight",
      4L -> "near duplicate spark is a unified analytics engine for large scale data")
    val clusters = Dedup.dedupMinhashOf(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == clusters(2L))
    assert(clusters(3L) != clusters(1L))
    // doc 4 shares 8 of its shingles with 1/2 — banding at threshold
    // ~0.5 should catch it (8/11 shingles shared)
    assert(clusters(4L) == clusters(1L))
  }

  test("null-text docs become singleton clusters, never grouped with each other") {
    val df = Seq(
      (1L, Some("real content words here for a normal document today")),
      (2L, None: Option[String]),
      (3L, None: Option[String])
    ).toDF("doc_id", "text")
    val clusters = Dedup.dedupMinhashOf(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.keySet == Set(1L, 2L, 3L), "every doc must appear in the output")
    assert(clusters(2L) == 2L && clusters(3L) == 3L,
      "no-content docs must not cluster together via degenerate band hashes")
  }

  test("distinct short docs (< shingle width) keep distinct clusters") {
    val df = docsDf(1L -> "alpha beta", 2L -> "gamma delta", 3L -> "alpha beta")
    val clusters = Dedup.dedupMinhashOf(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == clusters(3L), "identical short docs must cluster")
    assert(clusters(1L) != clusters(2L), "distinct short docs must NOT cluster")
  }

  test("signature agreement estimates Jaccard within MinHash error bounds") {
    // 12 tokens, 6 shared between a and b in shingle space
    val a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"
    val b = "t1 t2 t3 t4 t5 t6 t7 t8 x9 x10 x11 x12"
    val df = docsDf(1L -> a, 2L -> b)
      .select(col("doc_id"), Dedup.shingleHashes(col("text")).as("hashes"))
      .select(col("doc_id"), Dedup.minhashSignature(col("hashes")).as("sig"))
    val Array(s1, s2) = df.orderBy("doc_id").collect()
      .map(_.getSeq[Long](1).toArray)
    val agree = s1.zip(s2).count { case (x, y) => x == y }.toDouble / s1.length
    // true shingle jaccard: shingles(a) has 10, shingles(b) has 10, 6 shared
    val trueJac = 6.0 / 14.0
    assert(math.abs(agree - trueJac) < 0.25,
      s"minhash estimate $agree too far from true jaccard $trueJac")
  }

  test("dedupJaccard emits only pairs above threshold with exact jaccard") {
    val df = docsDf(
      1L -> "one two three four five six seven eight nine ten",
      2L -> "one two three four five six seven eight nine eleven",
      3L -> "unrelated words entirely disjoint from anything else here now")
    val pairs = Dedup.dedupJaccardOf(df, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // shingle sets: 8 each, 7 shared -> jaccard 7/9
    assert(math.abs(pairs.head._3 - 7.0 / 9.0) < 1e-3)
  }

  test("SimHash64 expression is bit-identical to the scalar simhashOf") {
    val texts = Seq("a b c", "  spaced   out  tokens ", "", "single",
      "the quick brown fox jumps over the lazy dog")
    val got = texts.toDF("text")
      .select(graft.plans.ColumnBridge.column(graft.plans.SimHash64(
        graft.plans.ColumnBridge.expression(col("text")))).as("s"))
      .collect().map(_.getLong(0))
    val want = texts.map(t => Dedup.simhashOf(t.trim.split("\\s+")))
    assert(got.toSeq == want)
  }

  test("minhash estimate tracks true shingle jaccard across seeded random doc pairs") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 50).map(i => s"w$i")
    val pairs = (0 until 20).map { i =>
      val base = Seq.fill(20 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      val mutRate = rnd.nextDouble() * 0.5
      val mutated = base.map(t =>
        if (rnd.nextDouble() < mutRate) vocab(rnd.nextInt(vocab.size)) else t)
      (i.toLong, base.mkString(" "), mutated.mkString(" "))
    }
    def shingleSet(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sigs = pairs.flatMap { case (i, a, b) => Seq((i * 2, a), (i * 2 + 1, b)) }
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Dedup.minhashSignature(Dedup.shingleHashes(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    pairs.foreach { case (i, a, b) =>
      val (sa, sb) = (shingleSet(a), shingleSet(b))
      val truth = sa.intersect(sb).size.toDouble / sa.union(sb).size
      val (s1, s2) = (sigs(i * 2), sigs(i * 2 + 1))
      val est = s1.zip(s2).count { case (x, y) => x == y }.toDouble / s1.length
      // ~4.8 sigma for 64 permutations
      assert(math.abs(est - truth) < 0.3, s"pair $i: estimate $est vs true $truth")
    }
  }

  test("case/NFC variants cluster together after normalization") {
    // Same sentence three ways: precomposed é, combining-accent e +
    // U+0301, and UPPERCASE — NormalizeText (NFC + ROOT casefold) must
    // make all three shingle-identical. Doc 4 is genuinely different.
    val df = docsDf(
      1L -> "café latte with oat milk every single morning",
      2L -> "café latte with oat milk every single morning",
      3L -> "CAFÉ LATTE WITH OAT MILK EVERY SINGLE MORNING",
      4L -> "espresso romano served with lemon peel after dinner")
    val clusters = Dedup.dedupMinhashOf(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == clusters(2L) && clusters(2L) == clusters(3L),
      s"normalized variants must share a cluster: $clusters")
    assert(clusters(4L) != clusters(1L))
  }

  test("case/NFC variants share a simhash cluster too (family-consistent canonicalization)") {
    val df = docsDf(
      1L -> "café latte with oat milk every single morning",
      2L -> "café latte with oat milk every single morning",
      3L -> "CAFÉ LATTE WITH OAT MILK EVERY SINGLE MORNING",
      4L -> "espresso romano served with lemon peel after dinner")
    val out = Dedup.dedupSimhashOf(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // identical normalized text → identical signature AND cluster
    assert(out(1L)._1 == out(2L)._1 && out(2L)._1 == out(3L)._1,
      s"normalized variants must share a signature: $out")
    assert(out(1L)._2 == out(2L)._2 && out(2L)._2 == out(3L)._2)
  }

  test("NormalizeText uses the SIMPLE case mapping (cross-engine comparable)") {
    import graft.plans.NormalizeText.normalize
    assert(normalize("CAFÉ") == "café")
    // combining accent (e + U+0301) composes to the precomposed é
    assert(normalize("café") == "café")
    // Simple per-codepoint mapping: NO word-final-sigma context rule
    // (utf8proc/DuckDB lower() gives οδοσ too) ...
    assert(normalize("ΟΔΟΣ") == "οδοσ")
    // ... and NO 1:N expansion for İ (U+0130 → i, not i + U+0307)
    assert(normalize("İ") == "i")
    assert(normalize("already lower") eq "already lower",
      "fast path must return the same instance for already-normal text")
  }

  test("sortedIntersectSize agrees with array_intersect on seeded random sets") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 40).map { i =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (i.toLong, a, b)
    }
    val got = rows.toDF("id", "a", "b")
      .select(col("id"), Dedup.sortedIntersectSize(col("a"), col("b")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (i, a, b) =>
      assert(got(i) == a.toSet.intersect(b.toSet).size, s"row $i")
    }
  }

  test("jaccardPairs keeps boundary pairs the rounding verify accepts") {
    // B's tokens are a prefix of A's: |sa| = 19999 shingles, |sb| =
    // 9999, all shared → J = 9999/19999 = 0.499975, which rounds to
    // 0.5000 and passes the verify. The PRE-tEff length filter
    // (sz_b >= ceil(t·sz_a) = 10000) pruned exactly this pair; the
    // loosened bound (9999 >= 0.49995·19999 = 9998.5) must keep it.
    val a = (1 to 20001).map(i => s"t$i").mkString(" ")
    val b = (1 to 10001).map(i => s"t$i").mkString(" ")
    val pairs = Dedup.jaccardPairsOf(docsDf(1L -> a, 2L -> b), 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0.5)),
      s"boundary pair must survive pruning AND round to the threshold: ${pairs.toSeq}")
  }

  test("jaccardPairs matches brute-force over seeded random docs at several thresholds") {
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (0 until 30).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def shingleSet(s: String): Set[String] = {
      val t = s.split("\\s+").toSeq
      if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet else t.toSet
    }
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val got = Dedup.jaccardPairsOf(docs.toDF("doc_id", "text"), t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (i, a) <- docs; (j, b) <- docs if i < j
        sa = shingleSet(a); sb = shingleSet(b)
        jac = math.rint(sa.intersect(sb).size.toDouble / sa.union(sb).size * 1e4) / 1e4
        if jac >= t
      } yield (i, j)).toSet
      assert(got == want, s"threshold $t: got $got want $want")
    }
  }

  test("dedupIncremental flags batch docs colliding with the corpus, not with each other") {
    val corpus = docsDf(
      1L -> "spark is a unified analytics engine for large scale data",
      2L -> "completely different content about cooking pasta al dente tonight")
    val batch = docsDf(
      10L -> "spark is a unified analytics engine for large scale data", // dup of 1
      11L -> "fresh unseen prose with brand new vocabulary entirely",
      // 12 and 13 duplicate EACH OTHER but nothing in the corpus —
      // incremental dedup must leave both clean (batch-internal dedup
      // is the regular pass's job)
      12L -> "twin texts inside one batch only matching themselves here",
      13L -> "twin texts inside one batch only matching themselves here")
    val out = Dedup.dedupIncrementalOf(corpus, batch).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2))).toMap
    assert(out(10L)._1.contains(1L) && out(10L)._2 > 0L, s"got $out")
    assert(out(11L) == ((None, 0L)))
    assert(out(12L) == ((None, 0L)) && out(13L) == ((None, 0L)),
      "batch-internal twins must not flag each other")
  }

  test("dedupIncremental reports the band count of the REPORTED pair, not of all collisions") {
    // Batch doc 20 is byte-identical to corpus doc 1 (all 16 bands
    // collide) and unrelated to corpus doc 2 — dup_of must be 1 with
    // the full band count, even though doc 2 contributes nothing.
    val corpus = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "nothing in common with the batch documents at all today")
    val batch = docsDf(
      20L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val Array(row) = Dedup.dedupIncrementalOf(corpus, batch).collect()
    assert(row.getLong(1) == 1L)
    assert(row.getLong(2) == Dedup.Bands.toLong,
      s"identical doc must share every band with its dup_of: $row")
  }

  test("dedupExact groups byte-identical docs over the real table") {
    val out = Dedup.dedupExact(spark, Sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, Sf).count()
    assert(rows.map(_.getLong(2)).sum == docs, "dup_counts must partition the table")
  }

  test("dedupNormalized collapses planted case/accent/digit/punct variants") {
    import spark.implicits._
    val docs = Seq(
      1L -> "Hello,  World! Call 555-1234.",
      2L -> "hello world call 000 0000",          // canonical form of 1
      3L -> "HÉLLO wörld — call (999) 8888?",     // accents + digits + punct
      4L -> "a genuinely different document",
      5L -> "A   genuinely\tdifferent...document" // whitespace/punct variant of 4
    ).toDF("doc_id", "text")
    val rows = Dedup.dedupNormalizedOf(docs).collect()
    assert(rows.length == 2, s"5 raw docs must collapse to 2 canonical groups: ${rows.mkString(",")}")
    val byKeep = rows.map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(byKeep(1L) == ((3L, 3L)), "docs 1/2/3 collapse; all three raw forms differ")
    assert(byKeep(4L) == ((2L, 2L)), "docs 4/5 collapse across whitespace/punct")
    // raw sha256 sees 5 distinct byte-forms — the variants are caught ONLY here
    assert(Dedup.dedupExact(spark, Sf).columns.sameElements(
      Array("content_hash", "keep_id", "dup_count")))
    val raw = docs.groupBy(sha2(col("text"), 256)).count().count()
    assert(raw == 5L, "raw hashing must NOT collapse any planted variant")
  }

  test("containment is asymmetric: the excerpt hits, the page does not") {
    import spark.implicits._
    val excerpt = "alpha beta gamma delta epsilon zeta"
    val page = s"intro words before $excerpt and a very long trailing " +
      "section whose many additional tokens dilute jaccard far below " +
      "any useful threshold for detecting the embedded quotation"
    val docs = Seq((1L, excerpt), (2L, page)).toDF("doc_id", "text")
    val out = Dedup.containmentPairsOf(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.contains((1L, 2L)), "excerpt ⊂ page must be found")
    assert(out((1L, 2L)) == 1.0)
    assert(!out.contains((2L, 1L)), "the page is NOT contained in the excerpt")
    // and Jaccard at the same threshold finds nothing
    assert(Dedup.jaccardPairsOf(docs, 0.8).isEmpty)
  }

  test("containment pairs match brute force over seeded random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'j').map(_.toString)
    val docs = (1L to 40L).map { id =>
      val n = 5 + rnd.nextInt(25)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.6, 0.8)) {
      val fast = Dedup.containmentPairsOf(docs, t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute force on the same shingle-hash sets
      val sh = docs.select($"doc_id",
          array_sort(Dedup.shingleHashes($"text")).as("sh"))
        .as[(Long, Seq[Long])].collect().toMap
      val brute = (for {
        (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq if a != b
        c = BigDecimal(sa.toSet.intersect(sb.toSet).size.toDouble / sa.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if c >= t
      } yield (a, b)).toSet
      assert(fast == brute, s"threshold $t")
    }
  }

  test("dup matrix counts distinct shared spans per source pair, once") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val docs = Seq(
      (1L, "a", s"$span tail one"),
      (2L, "b", s"lead $span"),
      (3L, "b", s"$span again"),      // same span, same source — still 1
      (4L, "c", "u1 u2 u3 u4 u5 u6 u7 u8"),
      (5L, "c", "short doc"))         // < 8 tokens → no spans
      .toDF("doc_id", "source", "text")
    val out = Dedup.dupMatrixOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // a↔b share exactly the one 8-gram: "s1..s8" (every other window
    // crosses into the differing context tokens)
    assert(out == Map(("a", "b") -> 1L), s"got $out")
  }

  test("lsh recall: the banded path is a strict subset of exact pairs, recall exact") {
    import spark.implicits._
    val near = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, near),
      (2L, near + " extra"),                       // true near-dup of 1
      (3L, (20 to 40).map(i => s"x$i").mkString(" ")),
      (4L, (20 to 41).map(i => s"x$i").mkString(" ")), // near-dup of 3
      (5L, "totally different content entirely here"))
      .toDF("doc_id", "text")
    val exact = Dedup.jaccardPairsOf(docs, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupJaccardOf(docs, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH-verified pairs must be true pairs: $lsh vs $exact")
    val r = Dedup.lshRecallOf(docs, 0.5).collect().head
    assert(r.getLong(1) == exact.size && r.getLong(2) == lsh.size)
    assert(r.getLong(3) == exact.size - lsh.size)
    val expected = math.floor(lsh.size.toDouble / exact.size * 1e4 + 0.5) / 1e4
    assert(r.getDouble(4) == expected)
    // the scale path: sampled audit keeps the subset invariant and
    // equals the exact audit restricted to the sampled docs
    val sampled = Dedup.lshRecallOf(docs, 0.5, sampleOneIn = 2).collect().head
    assert(sampled.getLong(2) <= sampled.getLong(1),
      "LSH pairs must stay a subset of exact pairs under sampling")
    val kept = docs.filter(
      pmod(xxhash64(col("doc_id")), lit(2L)) === 0L)
    val exactKept = Dedup.jaccardPairsOf(kept, 0.5).count()
    assert(sampled.getLong(1) == exactKept,
      "sampled audit = exact audit on the hash-sampled subcorpus")
  }

  test("lsh recall: registered sampled audit tracks the exact audit at sf0.01") {
    // The scale contract behind the registered `lsh_recall_sampled`
    // query: on the sf0.01 corpus the 1-in-2 doc-hash sample must
    // (a) retain enough pairs to measure (power), and (b) estimate a
    // recall within a tolerance band of the exact audit's.
    val dir = "/root/testdata/sf0.01"
    val exact = SparkEntry.queries("lsh_recall")(spark, dir).collect().head
    val sampled = SparkEntry.queries("lsh_recall_sampled")(spark, dir).collect().head
    assert(sampled.getLong(1) > 0, "sample must retain measurable pairs")
    assert(sampled.getLong(2) <= sampled.getLong(1),
      "subset invariant survives sampling")
    val band = 0.25 // 7-pair estimate of a ratio: ±0.25 ≈ worst-case 2/7
    assert(math.abs(sampled.getDouble(4) - exact.getDouble(4)) <= band,
      s"sampled recall ${sampled.getDouble(4)} strayed > $band from exact ${exact.getDouble(4)}")
  }

  test("lsh precision: verified never exceeds candidates; twins price at 1.0; empty is NULL") {
    // twin pair → exactly one candidate pair, and it verifies
    val twins = docsDf(
      1L -> (1 to 20).map(i => s"t$i").mkString(" "),
      2L -> (1 to 20).map(i => s"t$i").mkString(" "),
      3L -> "totally different content entirely here")
    val p = Dedup.lshPrecisionOf(twins, 0.5).collect().head
    assert(p.getLong(1) == 1L && p.getLong(2) == 1L && p.getDouble(3) == 1.0,
      s"got $p")
    // candidate count bounds the verified count, and the verified side
    // IS the dedupJaccard pair count (one contract, two consumers)
    val corpus = docsDf(
      1L -> (1 to 30).map(i => s"w$i").mkString(" "),
      2L -> ((1 to 30).map(i => s"w$i").mkString(" ") + " tail"),
      3L -> (50 to 75).map(i => s"w$i").mkString(" "),
      4L -> "lone document with nothing shared")
    val q = Dedup.lshPrecisionOf(corpus, 0.5).collect().head
    assert(q.getLong(2) <= q.getLong(1), s"verified <= candidates: $q")
    assert(q.getLong(2) == Dedup.dedupJaccardOf(corpus, 0.5).count())
    // no banded pair at all → precision NULL, not a 0/0 crash
    val lone = docsDf(1L -> (1 to 20).map(i => s"a$i").mkString(" "),
      2L -> (100 to 120).map(i => s"z$i").mkString(" "))
    val r = Dedup.lshPrecisionOf(lone, 0.5).collect().head
    assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.isNullAt(3), s"got $r")
  }

  test("exact-substring spans: maximal merge, keep-first canonical, self-repeat caught") {
    val a = (1 to 20).map(i => s"a$i").mkString(" ")      // 20 tokens
    val b16 = (1 to 16).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, a),                                   // canonical copy
      (2L, a),                                   // full dup → one maximal span
      (3L, (1 to 16).map(i => s"a$i").mkString(" ")), // shared 16-token prefix
      (4L, (1 to 20).map(i => s"u$i").mkString(" ")),  // unique → nothing
      (5L, s"$b16 $b16"))                        // self-repetition
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstringSpansOf(docs, minLen = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (2L, 0L, 19L, 20L),   // overlapping covered grams merged to the doc
      (3L, 0L, 15L, 16L),   // prefix dup of the canonical
      (5L, 16L, 31L, 16L)), // second occurrence inside the SAME doc
      s"got ${out.toSeq}")
  }

  test("per-source dup rate counts non-first copies under keep-first") {
    val docs = Seq(
      (1L, "A", "same text"), (2L, "A", "same text"), (3L, "A", "unique a"),
      (4L, "B", "same text"),  // cross-source copy still counts as a dupe
      (5L, "B", "unique b"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.Dedup.dedupRateBySourceOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out("A") == ((3L, 1L, 0.3333)), s"got $out")
    assert(out("B") == ((2L, 1L, 0.5)),
      "doc 4 duplicates doc 1 (the global keep), so source B carries it")
  }

  test("capture-recapture: identical flag sets read full coverage; clean corpus reads zero") {
    // three twins + one unique: both detectors flag exactly the twins
    // → n1 = n2 = m = 3, Chapman N̂ = 4·4/4 − 1 = 3, full coverage
    val twin = ("z" * 30 + " y" * 30) * 5
    val docs = Seq((1L, twin), (2L, twin), (3L, twin),
      (4L, Seq.tabulate(300)(i => ('a' + (i * 11) % 26).toChar).mkString(" ")))
      .toDF("doc_id", "text")
    val r = graft.operators.Dedup.dedupCaptureRecaptureOf(docs)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 3L, 3L, 3L)), s"$r")
    assert(r.getLong(4) == 1000000L && r.getLong(6) == 1000000L, s"$r")
    // no duplicates anywhere → N̂ = 0 and coverages read 0, not NULL
    val clean = Seq(
      (1L, "alpha beta gamma delta " * 8),
      (2L, Seq.tabulate(200)(i => ('a' + (i * 13) % 26).toChar).mkString(" ")))
      .toDF("doc_id", "text")
    val c = graft.operators.Dedup.dedupCaptureRecaptureOf(clean)
      .collect().head
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      ((0L, 0L, 0L, 0L)), s"$c")
    assert(c.getLong(4) == 0L && c.getLong(5) == 0L && c.getLong(6) == 0L)
  }

  test("dedup cascade: exact removes the twin, jaccard folds the near-dup") {
    val df = docsDf(
      1L -> "a b c d e f",
      2L -> "a b c d e f",  // byte-identical → stage 1 removes
      3L -> "a b c d e g",  // shingle Jaccard 3/5 = 0.6 vs doc 1 → stage 2
      4L -> "x y z w")      // unique, survives both
    val out = Dedup.dedupCascadeOf(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out("1_exact") == ((4L, 1L, 3L)), s"got $out")
    assert(out("2_jaccard") == ((3L, 1L, 2L)))
    assert(out("3_total") == ((4L, 2L, 2L)))
  }

  test("dupInflation prices planted duplicate mass per source") {
    import spark.implicits._
    val docs = Seq(
      // srcA: "one two three" (3 tok) ×3 + "four five" (2 tok) ×1
      (1L, "one two three", "srcA"),
      (2L, "one two three", "srcA"),
      (3L, "one two three", "srcA"),
      (4L, "four five", "srcA"),
      // srcB: all unique, 2 tok each
      (5L, "six seven", "srcB"),
      (6L, "eight nine", "srcB")
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.dupInflationOf(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // srcA: 11 tokens total, 5 unique-text tokens, 6 duplicated → 2.2×
    assert(rows("srcA") == ((4L, 2L, 11L, 6L, 2.2)), s"got ${rows("srcA")}")
    // srcB: no duplicates → inflation exactly 1.0
    assert(rows("srcB") == ((2L, 2L, 4L, 0L, 1.0)), s"got ${rows("srcB")}")
  }

  test("bandingSweep: twins collide at every config, cost monotone in bands") {
    val docs = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog every single day",
      2L -> "the quick brown fox jumps over the lazy dog every single day",
      3L -> "pack my box with five dozen liquor jugs before noon arrives",
      4L -> "sphinx of black quartz judge my vow now and always forever",
      5L -> "completely unrelated content about cooking pasta al dente tonight")
    val rows = Dedup.bandingSweepOf(docs).collect()
      .map(r => r.getInt(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(rows.map(_._1).toSeq == Seq(32, 16, 8, 4), s"got ${rows.toSeq}")
    // identical docs have identical signatures → every slice collides:
    // at least 1 candidate pair and 2 flagged docs under EVERY config
    assert(rows.forall { case (_, (_, pairs, buckets, flagged)) =>
      pairs >= 1L && buckets >= 1L && flagged >= 2L }, s"got ${rows.toSeq}")
    // candidate cost never increases as bands shrink (rows lengthen)
    val pairsByBandsDesc = rows.map(_._2._2).toSeq
    assert(pairsByBandsDesc.zip(pairsByBandsDesc.tail).forall { case (a, b) => a >= b },
      s"pairs must be monotone in bands: $pairsByBandsDesc")
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
}
