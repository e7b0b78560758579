package graft

import java.text.Normalizer

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.plans.{BootstrapWeights, BpeTokenCount, CharNgramHashes, NormalizeText, ShingleHashes, SortedIntersectSize}

/** Property coverage for the pure (no-session) kernels behind the
  * native expressions — scalacheck generates the adversarial inputs
  * the hand-written specs don't think of. Runs scalacheck directly
  * (no scalatest bridge dependency): a failed property reports its
  * shrunk counterexample through the assertion message.
  */
class KernelPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 60)
    chars <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', ' ', '\t', '\n'),
      1 -> Gen.oneOf('É', 'é', 'Ü', 'ß', 'Ω', '中', '!')))
  } yield chars.mkString

  test("NormalizeText.normalize is idempotent and casefold-stable") {
    check("idempotent", Prop.forAll(textGen) { s =>
      val once = NormalizeText.normalize(s)
      NormalizeText.normalize(once) == once
    })
    // NFD and NFC encodings of the same text normalize identically
    check("form-invariant", Prop.forAll(textGen) { s =>
      val nfd = Normalizer.normalize(s, Normalizer.Form.NFD)
      NormalizeText.normalize(nfd) == NormalizeText.normalize(s)
    })
  }

  test("BpeTokenCount matches the regex the oracle runs, adversarial unicode included") {
    // Everything the scanner special-cases: the explicit whitespace
    // class (VT deliberately excluded), leading-space absorption,
    // non-Nd numerics (Nl/No), and supplementary-plane letters.
    val bpeTextGen: Gen[String] = for {
      n <- Gen.choose(0, 80)
      chunks <- Gen.listOfN(n, Gen.frequency(
        6 -> Gen.alphaNumChar.map(_.toString),
        3 -> Gen.oneOf(" ", "  ", "\t", "\n", "\f", "\r", "\u000b"),
        2 -> Gen.oneOf("é", "ß", "中", "٣", "Ⅷ", "½", "!", "@", "-", "'"),
        1 -> Gen.const("𐐀"))) // Deseret long I (letter, astral)
    } yield chunks.mkString
    val pattern = java.util.regex.Pattern.compile(graft.functions.TextF.BpeTokenPattern)
    def regexCount(s: String): Int = {
      val m = pattern.matcher(s)
      var c = 0
      while (m.find()) c += 1
      c
    }
    val expr = BpeTokenCount(null)
    check("parity", Prop.forAll(bpeTextGen) { s =>
      expr.countTokens(org.apache.spark.unsafe.types.UTF8String.fromString(s)) == regexCount(s)
    })
  }

  test("BootstrapWeights matches the composable md5-hex-prefix Poisson draws") {
    val expr = BootstrapWeights(null, 81)
    def reference(id: Long): Seq[Long] = (1 to 81).map { r =>
      val (c, p) = ((r - 1) / 4, (r - 1) % 4)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$c".getBytes("US-ASCII"))
        .map(b => f"${b & 0xff}%02x").mkString
      val u = java.lang.Long.parseLong(hex.substring(8 * p, 8 * p + 8), 16)
        .toDouble / 4294967296.0
      // the oracle's CASE ladder, verbatim
      if (u < 0.36787944) 0L else if (u < 0.73575888) 1L
      else if (u < 0.9196986) 2L else if (u < 0.98101184) 3L
      else if (u < 0.99634015) 4L else 5L
    }
    check("parity", Prop.forAll(Gen.choose(Long.MinValue, Long.MaxValue)) { id =>
      expr.weights(id).toLongArray().toSeq == reference(id)
    })
  }

  test("CharNgramHashes matches per-window substring hashing, multibyte included") {
    import org.apache.spark.unsafe.types.UTF8String
    val expr = CharNgramHashes(null, 3)
    def reference(s: String): Seq[Long] = {
      // CHARACTER windows on code units the way SQL substring sees
      // them, hashed exactly like xxhash64(gram) (seed 42)
      val cps = s.toSeq.map(_.toString)
      if (cps.length < 3) Seq.empty
      else cps.sliding(3).map { w =>
        val b = UTF8String.fromString(w.mkString)
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b.getBytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          b.numBytes(), 42L)
      }.toSeq
    }
    check("parity", Prop.forAll(textGen) { s =>
      val got = expr.ngramHashes(UTF8String.fromString(s))
      got.toLongArray().toSeq == reference(s)
    })
    check("occurrences kept", Prop.forAll(Gen.choose(3, 30)) { n =>
      val s = "ab" * n // overlapping repeats: windows must NOT dedupe
      expr.ngramHashes(UTF8String.fromString(s)).numElements() == s.length - 2
    })
  }

  test("SortedIntersectSize.merge equals set intersection on sorted distinct arrays") {
    val setGen = Gen.listOf(Gen.choose(-50L, 50L)).map(_.distinct.sorted)
    check("merge", Prop.forAll(setGen, setGen) { (a, b) =>
      val got = SortedIntersectSize(null, null)
        .merge(new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      got == a.toSet.intersect(b.toSet).size
    })
  }

  test("ShingleHashes matches a reference tokenizer on count and strictness") {
    val expr = ShingleHashes(null, 3, Dedup.P)
    val strict = ShingleHashes(null, 3, Dedup.P, strict = true)
    def toks(s: String): Seq[String] =
      s.split("[ \t\n\r\f\\x0B]+").filter(_.nonEmpty).toSeq
    // Reference applies the SAME hash-then-mod before counting, so a
    // (rare) residue collision mod P can't fail the property spuriously.
    def refHash(shingle: String): Long = {
      val b = shingle.getBytes("UTF-8")
      java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L),
        Dedup.P)
    }
    check("distinct-count", Prop.forAll(textGen) { s =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      val t = toks(s)
      val shingles =
        if (t.isEmpty) Seq("") // hash of the empty string
        else if (t.length < 3) t
        else t.sliding(3).map(_.mkString(" ")).toSeq
      expr.shingleHash(u).toLongArray().toSet == shingles.map(refHash).toSet
    })
    check("strict-short-docs", Prop.forAll(textGen) { s =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      val n = strict.shingleHash(u).numElements()
      if (toks(s).length < 3) n == 0 else n > 0
    })
  }

  test("ShingleHashes splitCompat reproduces split(trim(text),'\\s+') exactly") {
    import org.apache.spark.unsafe.types.UTF8String
    // The REAL split convention: space-only trim, Java split with
    // limit -1 (keeps leading/trailing empty tokens — the phantom-
    // token edge on tab/newline-edged text that ADVICE r17 flagged).
    def splitToks(s: String): Seq[String] = {
      val t = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      t.split("[ \t\n\\x0B\f\r]+", -1).toSeq
    }
    def refHash(shingle: String): Long = {
      val b = shingle.getBytes("UTF-8")
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    // Bias the generator toward the whitespace edges under test.
    val edgeGen: Gen[String] = for {
      pre <- Gen.oneOf("", "\t", "\n", " \t", "\u000b", " ")
      mid <- textGen
      post <- Gen.oneOf("", "\t", "\r\n", "  ", "\f", " \n ", "\u000b ")
    } yield pre + mid + post
    val compat = ShingleHashes(null, 3, 0L, strict = false, dedup = false,
      splitCompat = true)
    val compatStrict = ShingleHashes(null, 3, 0L, strict = true,
      dedup = false, splitCompat = true)
    check("occurrence-stream", Prop.forAll(edgeGen) { s =>
      val t = splitToks(s)
      val shingles =
        if (t.length < 3) t // short-doc fallback: whole tokens
        else t.sliding(3).map(_.mkString(" ")).toSeq
      compat.shingleHash(UTF8String.fromString(s)).toLongArray().toSeq ==
        shingles.map(refHash)
    })
    check("strict-gate-counts-phantoms", Prop.forAll(edgeGen) { s =>
      val t = splitToks(s)
      val n = compatStrict.shingleHash(UTF8String.fromString(s)).numElements()
      if (t.length < 3) n == 0 else n == t.length - 2
    })
    // The 128-bit pair key: h1 is the seed-42 stream, bit-identical to
    // the single-seed form; h2 differs (independent seed).
    val pair = ShingleHashes(null, 3, 0L, strict = false, dedup = false,
      splitCompat = true, pairSeed = 4242L)
    check("pair-h1-matches", Prop.forAll(edgeGen) { s =>
      val u = UTF8String.fromString(s)
      val singles = compat.shingleHash(u).toLongArray().toSeq
      val pairs = pair.shingleHash(u)
      (0 until pairs.numElements()).map(i =>
        pairs.getStruct(i, 2).getLong(0)) == singles
    })
  }

  test("simhashOf is permutation-invariant (bag-of-tokens semantics)") {
    val tokensGen = Gen.listOf(Gen.identifier.map(_.take(6))).map(_.toArray)
    check("permutation", Prop.forAll(tokensGen, Gen.long) { (ts, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(ts.toSeq).toArray
      Dedup.simhashOf(ts) == Dedup.simhashOf(shuffled)
    })
  }

  test("MisraGries: every item with freq > N/k survives random partitioned merges") {
    val streamGen = for {
      n <- Gen.choose(1, 400)
      items <- Gen.listOfN(n, Gen.choose(0, 25).map(i => s"t$i"))
    } yield items
    check("mg-guarantee", Prop.forAll(streamGen, Gen.choose(2, 12), Gen.long) {
      (stream, k, seed) =>
        val mg = new graft.operators.MisraGries(k)
        val rnd = new scala.util.Random(seed)
        // random partitioning AND random merge order
        val parts = rnd.shuffle(stream).grouped(1 + rnd.nextInt(40)).toSeq
        val bufs = rnd.shuffle(parts.map(p => p.foldLeft(mg.zero)(mg.reduce)))
        val merged = bufs.reduce(mg.merge)
        val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
        val heavy = exact.filter { case (_, c) => c * k > stream.size }.keys
        merged.size <= k &&
          heavy.forall(merged.contains) &&
          merged.forall { case (t, est) => est <= exact(t) } // never overestimates
    })
  }

  test("SignPackBits.pack matches the per-bit reference on arbitrary floats") {
    val vecGen = Gen.listOf(Gen.oneOf(
      Gen.chooseNum(-10f, 10f), Gen.const(0f), Gen.const(-0f),
      Gen.const(Float.MinPositiveValue))).map(_.toArray)
    check("pack-reference", Prop.forAll(vecGen, Gen.oneOf(0, 32)) { (v, from) =>
      val expr = graft.plans.SignPackBits(
        org.apache.spark.sql.catalyst.expressions.Literal(1), from)
      val packed = expr.pack(new GenericArrayData(v))
      val reference = (0 until 32).map { i =>
        if (from + i < v.length && v(from + i) > 0f) 1L << i else 0L
      }.sum
      packed == reference
    })
  }

  test("MatVecSigns equals the element_at column tree it replaced, nulls and -0.0 included") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, CreateArray, ElementAt, Expression, Literal, Multiply, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val rows = 6
    val cols = 4
    val rnd = new scala.util.Random(7)
    val signs = IndexedSeq.fill(rows, cols)(if (rnd.nextBoolean()) 1.0 else -1.0)
    val emb = BoundReference(0, ArrayType(DoubleType, containsNull = true), nullable = true)
    // array(Σ_i element_at(emb, i+1) * lit(signs(i)(j)) ...), left-folded
    // from the first term; a missing index reads NULL (non-ANSI element_at).
    val reference: Expression = CreateArray((0 until cols).map { j =>
      (0 until rows).map { i =>
        Multiply(ElementAt(emb, Literal(i + 1), None, failOnError = false),
          Literal(signs(i)(j))): Expression
      }.reduceLeft((a, b) => Add(a, b))
    })
    val native = graft.plans.MatVecSigns(emb, signs)
    assert(native.nullable == reference.nullable, "a NULL array must not make the output NULL")
    val compiled = UnsafeProjection.create(Seq(native, reference))
    // raw bits, so -0.0 and 0.0 differ; None for a null lane
    def lanes(a: ArrayData): Seq[Option[Long]] = (0 until a.numElements()).map { k =>
      if (a.isNullAt(k)) None else Some(java.lang.Double.doubleToRawLongBits(a.getDouble(k)))
    }
    val elemGen: Gen[java.lang.Double] = Gen.frequency(
      6 -> Gen.chooseNum(-1e3, 1e3).map(Double.box),
      2 -> Gen.const(Double.box(-0.0)),
      1 -> Gen.const(Double.box(0.0)),
      1 -> Gen.const(null: java.lang.Double))
    val inputGen: Gen[ArrayData] = Gen.frequency(
      8 -> Gen.choose(0, rows + 2).flatMap(n => Gen.listOfN(n, elemGen))
        .map(xs => new GenericArrayData(xs.toArray[Any])),
      1 -> Gen.const(new GenericArrayData(Array.fill[Any](rows)(-0.0))),
      1 -> Gen.const(null: ArrayData))
    check("matvec-reference", Prop.forAll(inputGen) { in =>
      val row = InternalRow(in)
      val want = lanes(reference.eval(row).asInstanceOf[ArrayData])
      val out = compiled(row)
      lanes(native.eval(row).asInstanceOf[ArrayData]) == want &&
        lanes(out.getArray(0)) == want && lanes(out.getArray(1)) == want
    })
  }
}
