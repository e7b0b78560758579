package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextF
import graft.operators.{Dedup, TextAnalysis}

class TextSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("bland-altman: hand-checked bias/limits, whale lands outside") {
    // "aaaa bbbb": 9 chars → 2 est, 2 BPE tokens → d = 0
    // "a"*12: 12 chars → 3 est, 1 token → d = 2
    def docs(texts: Seq[String]) =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
    val base = docs(Seq("aaaa bbbb", "aaaa bbbb", "a" * 12, "a" * 12))
    val r = TextAnalysis.blandAltmanOf(base).collect().head
    // d = [0,0,2,2]: mean 1, sample sd √(4/3) = 1.1547,
    // limits 1 ∓ 1.96·1.15470… = [-1.2632, 3.2632], nothing outside
    assert(r.getLong(0) == 4L && r.getDouble(1) == 1.0, s"$r")
    assert(r.getDouble(2) == 1.1547, s"sd: $r")
    assert(r.getDouble(3) == -1.2632 && r.getDouble(4) == 3.2632, s"$r")
    assert(r.getLong(5) == 0L, s"$r")
    // twenty agreeing docs + one d=10 whale → exactly the whale is
    // outside the limits: 1e6 div 21 = 47619 ppm
    val whale = docs(Seq.fill(20)("aaaa bbbb") :+ ("aaaa " * 8 + "a" * 22))
    val w = TextAnalysis.blandAltmanOf(whale).collect().head
    assert(w.getLong(0) == 21L && w.getLong(5) == 47619L, s"$w")
    // a single doc has no sample sd: limits NULL (not NaN), none outside
    val one = TextAnalysis.blandAltmanOf(docs(Seq("a" * 12))).collect().head
    assert(one.getLong(0) == 1L && one.getDouble(1) == 2.0, s"$one")
    assert(one.isNullAt(2) && one.isNullAt(3) && one.isNullAt(4), s"$one")
    assert(one.getLong(5) == 0L, s"$one")
  }

  test("shingles: n-grams when long enough, whole tokens as fallback") {
    val df = Seq("a b c d", "a b", "", "  x  ").toDF("text")
      .select(TextF.shingles(col("text"), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1) == Seq("a", "b"), "short doc must fall back to tokens")
    assert(rows(2) == Seq(""), "empty doc tokenizes to one empty token")
    assert(rows(3) == Seq("x"))
  }

  test("simhashOf: deterministic, identical inputs collide, empty is zero") {
    val a = "the quick brown fox".split(" ")
    assert(Dedup.simhashOf(a) == Dedup.simhashOf("the quick brown fox".split(" ")))
    assert(Dedup.simhashOf(Array.empty[String]) == 0L)
  }

  test("simhashOf: near-identical docs are hamming-closer than unrelated docs") {
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val base = "spark sql catalyst tungsten codegen shuffle partition broadcast join agg".split(" ")
    val near = "spark sql catalyst tungsten codegen shuffle partition broadcast join filter".split(" ")
    val far = "cooking pasta requires salted boiling water and eleven minutes patience".split(" ")
    val (hNear, hFar) = (ham(Dedup.simhashOf(base), Dedup.simhashOf(near)),
      ham(Dedup.simhashOf(base), Dedup.simhashOf(far)))
    assert(hNear < hFar, s"near=$hNear far=$hFar")
  }

  test("rollingFingerprint matches a scalar reimplementation") {
    def scalar(text: String): Long =
      text.trim.split("\\s+").foldLeft(0L) { (acc, t) =>
        val code = t.length.toLong * 131 + t.head.toLong * 31 + t.last.toLong
        (acc * 1000003L + code) % 2147483647L
      }
    val texts = Seq("hello world", "a bb ccc dddd", "spark")
    val got = texts.toDF("text")
      .select(TextF.rollingFingerprint(col("text")).as("fp"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == texts.map(scalar))
  }

  test("contentFingerprint is deterministic and separates distinct texts") {
    val texts = Seq("alpha beta gamma", "alpha beta gamma", "alpha beta delta", "")
    val got = texts.toDF("text")
      .select(TextF.contentFingerprint(col("text")).as("fp"))
      .collect().map(_.getLong(0))
    assert(got(0) == got(1), "identical texts must share a fingerprint")
    assert(got(0) != got(2), "distinct texts must differ")
    val again = texts.toDF("text")
      .select(TextF.contentFingerprint(col("text"))).collect().map(_.getLong(0))
    assert(got.toSeq == again.toSeq, "stable across runs")
  }

  test("tokenCount matches whitespace split semantics") {
    val got = Seq("one two  three", " padded ", "")
      .toDF("text").select(TextF.tokenCount(col("text"))).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(3, 1, 1))
  }

  test("floor-form rounding helpers match the BigDecimal reference (one batched job each)") {
    // round4HalfUp / microsTo4dp are the cross-engine rounding contract
    // every oracle mirrors; pin them to an independent decimal
    // reference on their documented non-negative domain. 2-dp inputs
    // deliberately include .xx5 halfway points (where built-in round()
    // diverges between engines and the floor form must not).
    val rnd = new scala.util.Random(42)
    val xs = (Seq(0.0, 0.5, 12.3450, 0.00005, 1.00015, 999999.99) ++
      Seq.fill(2000)(math.rint(rnd.nextDouble() * 1e8) / 100)).toIndexedSeq
    val got = xs.toDF("x").select(TextF.round4HalfUp(col("x")))
      .collect().map(_.getDouble(0))
    val want = xs.map(x =>
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // BigDecimal rounds the exact binary value; floor(x*1e4+0.5) rounds
    // the scaled double — identical for inputs quantized at 2 dp
    assert(got.toSeq == want)

    val qs = (Seq(0L, 49L, 50L, 51L, 150L, (1L << 50)) ++
      Seq.fill(2000)(rnd.nextLong().abs % (1L << 50))).toIndexedSeq
    val got2 = qs.toDF("q").select(TextF.microsTo4dp(col("q")))
      .collect().map(_.getDouble(0))
    val want2 = qs.map(q =>
      (BigDecimal(q) / 100 + BigDecimal("0.5"))
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toDouble / 1e4)
    assert(got2.toSeq == want2)
  }

  test("kwic clips context at document edges and finds every occurrence") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "hit a b c hit"),          // match at pos 0 (no left) and 4 (no right)
      (2L, "a b c d hit e f g h"),    // full 3-token context both sides
      (3L, "nothing here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.kwicSnippetsOf(docs, "hit", ctx = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, 0, "", "a b c"),
      (1L, 4, "a b c", ""),
      (2L, 4, "b c d", "e f g")))
  }

  test("strip markup: planted tags and entities counted and removed, clean docs untouched") {
    // doc 12: % 4 == 0 (tags) AND % 3 == 0 (entities); doc 13: neither
    val docs = Seq((12L, "body text"), (13L, "plain words"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.stripMarkupOf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    // synth(12) = <div class="d5"><p>body text</p></div> &amp; tail&nbsp;3
    // 4 tags (16+3+4+6 = 29 chars), 2 entities (11 chars → 2 spaces: net 9)
    assert(out(12L)._1 == 4 && out(12L)._2 == 2, s"got $out")
    assert(out(12L)._3 == 29 + 9, "chars_removed = tag chars + entity net")
    val cleanMd5 = spark.sql(
      "SELECT md5('body text   tail 3')").head.getString(0)
    assert(out(12L)._4 == cleanMd5, "entities become single spaces")
    assert(out(13L) == ((0, 0, 0,
      spark.sql("SELECT md5('plain words')").head.getString(0))),
      "a markup-free doc passes through byte-identical")
  }

  test("mojibake stats: planted artifacts counted per source, clean sources rate 0") {
    val docs = Seq(
      (6L, "s1", "fine text"),    // % 6 == 0 AND % 11 != 0 → one Ã hit
      (8L, "s1", "also fine"),    // % 8 == 0 → â€ hit
      (1L, "s2", "clean"), (5L, "s2", "clean too"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.mojibakeStatsOf(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("s1") == ((2L, 2L, 2L, 1.0)), s"got $out")
    assert(out("s2") == ((2L, 0L, 0L, 0.0)), "no artifacts, rate exactly 0")
  }

  test("script mix: codepoint ranges attribute each script exactly") {
    val docs = Seq(
      (1L, "abcd", "en"),          // 4/4 latin
      (2L, "\u6c49\u5b57\u304b\u306a", "zh"), // 4/4 cjk (han + kana)
      (3L, "\u0434\u0430 ok", "ru"))  // 2 cyr, 2 latin, 1 space of 5
      .toDF("doc_id", "text", "lang")
    val out = graft.operators.TextAnalysis.scriptMixOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out("en") == ((1000000L, 0L, 0L)))
    assert(out("zh") == ((0L, 1000000L, 0L)))
    assert(out("ru") == ((400000L, 0L, 400000L)), s"2/5 each: $out")
  }

  test("flesch-kincaid: hand-counted vowel-group syllables, sentence clamp") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello world."),       // 2 words, 1 sent, 3 vowel groups
      (2L, "Beautiful day today!"))// 3 words, 1 sent: eau-i-u, a, o-a = 6
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.fleschKincaidOf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def fk(w: Long, s: Long, sy: Long): Double = {
      val x = 0.39 * (w.toDouble / s.toDouble) +
        11.8 * (sy.toDouble / w.toDouble) - 15.59
      math.floor(x * 1e4 + 0.5) / 1e4
    }
    assert(got(1L) == ((2L, 1L, 3L, fk(2, 1, 3))), s"got ${got(1L)}")
    assert(got(2L) == ((3L, 1L, 6L, fk(3, 1, 6))), s"got ${got(2L)}")
  }

  test("readability: hand-counted CLI, sentence clamp, digits excluded from letters") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"), // 18 letters, 6 words, 2 sents
      (2L, "no terminal punctuation here"), // clamp: n_sents = 1
      (3L, "a1b2 c3?! d4.")) // digits are not letters: 4 letters
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.readabilityOf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def cli(l: Long, w: Long, s: Long): Double = {
      val x = 0.0588 * (l.toDouble * 100.0 / w.toDouble) -
        0.296 * (s.toDouble * 100.0 / w.toDouble) - 15.8
      math.floor(x * 1e4 + 0.5) / 1e4
    }
    assert(got(1L) == ((18L, 6L, 2L, cli(18, 6, 2))), s"got ${got(1L)}")
    assert(got(2L) == ((25L, 4L, 1L, cli(25, 4, 1))), s"got ${got(2L)}")
    assert(got(3L) == ((4L, 3L, 2L, cli(4, 3, 2))), s"got ${got(3L)}")
  }

  test("code switch: mixed-language evidence counts; unmatched docs leave the denominators") {
    import spark.implicits._
    // doc 1: en 3 + es 2 ('la' also scores fr 1) → total 6, best 3,
    //   mixed (3 foreign ≥ 2), purity 500000; doc 2: pure en,
    //   purity 1e6; doc 3: no profile word at all → unmatched.
    val docs = Seq(
      (1L, "A", "the of and el la"),
      (2L, "A", "the the the"),
      (3L, "A", "xyz abc"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.TextAnalysis.codeSwitchOf(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out("A") == ((3L, 2L, 1L, 500000L, 750000L)), s"got $out")
  }

  test("winnowing: the w+k-1 shared-run guarantee holds and short docs select nothing") {
    import spark.implicits._
    // k=5, w=4: docs 1 and 2 share a run of 8 = w+k−1 tokens — the
    // paper's guarantee says they MUST share a selected fingerprint.
    // doc 3 (4 tokens < k) contributes zero grams and zero prints.
    val docs = Seq(
      (1L, "A", "a b c d e f g h tail1 tail2"),
      (2L, "A", "lead0 a b c d e f g h"),
      (3L, "A", "too short for k"),
      (4L, "B", "p q r s t")) // exactly k tokens → 1 gram → 1 print
      .toDF("doc_id", "source", "text")
    val out = graft.operators.TextAnalysis.winnowFingerprintsOf(docs)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val (aDocs, aGrams, aPrints, aDens, aDistinct, aShared) = out("A")
    assert(aDocs == 3L && aGrams == 6L + 5L + 0L, s"got $out")
    assert(aShared >= 1L,
      s"docs sharing a w+k-1 token run must share a print: $out")
    assert(aPrints >= aDistinct && aDens <= 1000000L, s"got $out")
    assert(out("B") == ((1L, 1L, 1L, 1000000L, 1L, 0L)), s"got $out")
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
}
