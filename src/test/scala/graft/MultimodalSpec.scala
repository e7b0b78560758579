package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("PpmCodec decodes a hand-built 2x2 P6 image to exact mean/std features") {
    import graft.functions.PpmCodec
    val rgb = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val img = PpmCodec.decodeP6(PpmCodec.encodeP6(2, 2, rgb)).get
    assert(img.width == 2 && img.height == 2)
    assert(img.rgb.toSeq == rgb.toSeq, "roundtrip must preserve pixels")
    val f = PpmCodec.features(img)
    assert(f(0) == 55.0f && f(1) == 65.0f && f(2) == 75.0f, "channel means")
    assert(math.abs(f(3) - math.sqrt(1125.0).toFloat) < 1e-5f, "R stddev")
    assert(math.abs(f(6) - (0.299 * 55 + 0.587 * 65 + 0.114 * 75)) < 1e-4,
      "BT.601 mean luma")
    assert(f(7) == 1.0f, "aspect ratio")
  }

  test("PpmCodec header grammar: comments, whitespace runs, maxval rescale") {
    import graft.functions.PpmCodec
    val withComments = ("P6 # a comment\n" + "2 # width done\n\t1\n" +
      "# maxval next\n255\n").getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4, 5, 6)
    val img = PpmCodec.decodeP6(withComments).get
    assert(img.width == 2 && img.height == 1)
    assert(img.rgb.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6))
    // maxval 85 rescales linearly: v * 255/85 = 3v
    val scaled = "P6\n1 1\n85\n".getBytes("US-ASCII") ++ Array[Byte](85.toByte, 10, 0)
    assert(PpmCodec.decodeP6(scaled).get.rgb.toSeq ==
      Seq[Byte](255.toByte, 30, 0))
    // trailing junk beyond the pixel area is tolerated
    assert(PpmCodec.decodeP6(withComments ++ Array[Byte](9, 9)).isDefined)
  }

  test("PpmCodec rejects malformed input with None, never a throw") {
    import graft.functions.PpmCodec
    def ppm(s: String, px: Byte*) = s.getBytes("US-ASCII") ++ px.toArray
    assert(PpmCodec.decodeP6(ppm("P5\n1 1\n255\n", 1, 2, 3)).isEmpty, "magic")
    assert(PpmCodec.decodeP6(ppm("P6\n1 1\n255\n", 1, 2)).isEmpty, "short pixels")
    assert(PpmCodec.decodeP6(ppm("P6\n0 1\n255\n")).isEmpty, "zero dim")
    assert(PpmCodec.decodeP6(ppm("P6\n1 1\n0\n", 1, 2, 3)).isEmpty, "maxval 0")
    assert(PpmCodec.decodeP6(ppm("P6\n1 1\n300\n", 1, 2, 3)).isEmpty,
      "two-byte depth unsupported")
    assert(PpmCodec.decodeP6(ppm("P61 1\n255\n", 1, 2, 3)).isEmpty,
      "missing separator after magic")
    assert(PpmCodec.decodeP6(Array[Byte]()).isEmpty)
    assert(PpmCodec.decodeP6(ppm("P6\n1 x\n255\n", 1, 2, 3)).isEmpty, "non-digit")
  }

  test("extractFeatures routes P6 payloads through the real decoder") {
    import graft.functions.PpmCodec
    val rgb = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val payloads = Seq((1L, PpmCodec.encodeP6(2, 2, rgb))).toDF("doc_id", "payload")
    val r = Multimodal.extractFeatures(spark, payloads).collect()(0)
    assert(r.getInt(1) == 2 && r.getInt(2) == 2, "dims from the PARSED header")
    assert(r.getSeq[Float](4).take(3).toSeq == Seq(55.0f, 65.0f, 75.0f))
  }

  test("extractFeatures: non-PPM fallback stays deterministic with the declared shape") {
    val payloads = Seq(
      (1L, Array[Byte](3, 7, 40, 41, 42)),
      (2L, Array[Byte]()),
      (3L, "hello world".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val a = Multimodal.extractFeatures(spark, payloads).collect().sortBy(_.getLong(0))
    val b = Multimodal.extractFeatures(spark, payloads).collect().sortBy(_.getLong(0))
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "decoder must be deterministic")

    val r1 = a(0)
    assert(r1.getInt(1) == 4 && r1.getInt(2) == 8, "width/height from leading bytes +1")
    assert(r1.getInt(3) == 5)
    assert(r1.getSeq[Float](4).length == 8, "fixed-length feature vector")
    val r2 = a(1)
    assert(r2.getInt(1) == 0 && r2.getInt(2) == 0 && r2.getInt(3) == 0)
  }

  test("resizeStub honors the byte budget and passes small payloads through") {
    val payloads = Seq(
      (1L, Array.tabulate(100)(_.toByte)), // above budget -> sampled down
      (2L, Array[Byte](1, 2, 3))           // below budget -> untouched
    ).toDF("doc_id", "payload")
    val out = Multimodal.resizeStub(spark, payloads, 4, 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Array[Byte]](3).length == 16)
    assert(out(1L).getInt(1) == 4 && out(1L).getInt(2) == 4)
    assert(out(2L).getAs[Array[Byte]](3).toSeq == Seq[Byte](1, 2, 3))
    // pass-through must report ITS dims (w*h == payload length), not the target's
    assert(out(2L).getInt(1) * out(2L).getInt(2) == 3)
    // determinism
    val again = Multimodal.resizeStub(spark, payloads, 4, 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](3).toSeq).toMap
    assert(again(1L) == out(1L).getAs[Array[Byte]](3).toSeq)
  }

  test("sampleFrames explodes one row per sampled frame window") {
    val payloads = Seq((1L, Array.tabulate(100)(_.toByte))).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(spark, payloads, frameBytes = 10, everyNth = 2)
      .collect().map(r => (r.getInt(1), r.getAs[Array[Byte]](2).toSeq))
    assert(frames.map(_._1).toSeq.sorted == Seq(0, 2, 4, 6, 8), "every 2nd of 10 frames")
    assert(frames.forall(_._2.length == 10))
    val f2 = frames.find(_._1 == 2).get._2
    assert(f2 == (20 until 30).map(_.toByte).toSeq, "frame 2 = bytes [20,30)")
  }

  test("multimodalFeatures runs partition-parallel over the documents table") {
    val out = Multimodal.multimodalFeatures(spark, Sf)
    assert(out.columns.toSeq == Seq("doc_id", "width", "height", "n_bytes", "features_fp"))
    val n = out.count()
    assert(n == graft.sources.Tables.documents(spark, Sf).count())
    // the fingerprint pins exact feature values run-over-run
    val a = out.select("doc_id", "features_fp").as[(Long, Long)].collect().toMap
    val b = Multimodal.multimodalFeatures(spark, Sf)
      .select("doc_id", "features_fp").as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("bad parameters fail at call time with a clear message") {
    val payloads = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    assert(intercept[IllegalArgumentException](
      Multimodal.sampleFrames(spark, payloads, frameBytes = 0, everyNth = 1))
      .getMessage.contains("frameBytes"))
    assert(intercept[IllegalArgumentException](
      Multimodal.sampleFrames(spark, payloads, frameBytes = 10, everyNth = 0))
      .getMessage.contains("everyNth"))
    assert(intercept[IllegalArgumentException](
      Multimodal.resizeStub(spark, payloads, 0, 4))
      .getMessage.contains("target dims"))
  }

  test("wav codec: encode/decode round-trips samples, rate, and channels") {
    import graft.functions.WavCodec
    val pcm = Array[Short](0, 1000, -1000, 32767, -32768, 7)
    val a = WavCodec.decodeWav(WavCodec.encodeWav(44100, 2, pcm)).get
    assert(a.sampleRate == 44100 && a.channels == 2)
    assert(a.samples.toSeq == pcm.toSeq)
  }

  test("wav codec: unknown chunks are skipped, including odd-size padding") {
    import graft.functions.WavCodec
    val base = WavCodec.encodeWav(8000, 1, Array[Short](5, -5))
    // Splice a 3-byte LIST chunk (odd size -> 1 pad byte) before fmt.
    val extra = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)
    val spliced = base.take(12) ++ extra ++ base.drop(12)
    // RIFF size field is not re-validated; the walker must still land
    // on fmt/data after skipping the stranger.
    val a = WavCodec.decodeWav(spliced)
    assert(a.exists(_.samples.toSeq == Seq[Short](5, -5)), s"got $a")
  }

  test("wav codec: truncation, bad magic, and non-PCM all return None") {
    import graft.functions.WavCodec
    val good = WavCodec.encodeWav(8000, 1, Array[Short](1, 2, 3))
    assert(WavCodec.decodeWav(good.dropRight(2)).isEmpty, "short data")
    assert(WavCodec.decodeWav("RIFX".getBytes ++ good.drop(4)).isEmpty)
    val nonPcm = good.clone
    nonPcm(20) = 3 // fmt code 3 = IEEE float
    assert(WavCodec.decodeWav(nonPcm).isEmpty, "float wav must be rejected")
    assert(WavCodec.decodeWav(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("wav codec: odd-size chunk whose pad byte is truncated returns None, not a throw") {
    import graft.functions.WavCodec
    // An odd-size unknown chunk ending EXACTLY at the buffer end: the
    // pad byte the spec promises is absent (truncated file). The
    // clamped skip must land on the limit and fall out of the walk
    // (None: no fmt/data ever seen), never IllegalArgumentException.
    val hdr = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII")
    val oddChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 1, 2, 3) // declared 3, no pad byte follows
    assert(WavCodec.decodeWav(hdr ++ oddChunk).isEmpty)
    // Same shape on a truncated-pad fmt chunk: a VALID PCM16 fmt with
    // odd size 17 (1 extension byte) whose payload ends at EOF — the
    // fmt parses fine, the clamped pad-skip lands on the limit, and
    // the missing data chunk yields None, not a position() throw.
    val fmtBody = java.nio.ByteBuffer.allocate(17)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16).put(0.toByte).array()
    val oddFmt = "fmt ".getBytes("US-ASCII") ++
      Array[Byte](17, 0, 0, 0) ++ fmtBody
    assert(WavCodec.decodeWav(hdr ++ oddFmt).isEmpty)
  }

  test("wav codec: features on a square wave are exact") {
    import graft.functions.WavCodec
    // +A -A +A -A at 4 samples/s: duration 1 s, rms = peak = A,
    // a crossing at every step.
    val a = WavCodec.Audio(4, 1, Array[Short](100, -100, 100, -100))
    val (durMs, peak, rmsQ, zc) = WavCodec.features(a)
    assert(durMs == 1000L && peak == 100 && rmsQ == 10000L && zc == 3L)
  }

  test("audio features: every sf doc round-trips the real byte format") {
    val out = graft.operators.Multimodal.audioFeatures(spark, Sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // sample_rate 8000 proves the decode path ran (the unreachable
    // fallback reports 0); n_samples equals the UTF-8 byte length.
    assert(rows.forall(_.getInt(1) == 8000))
    assert(rows.forall(r => r.getLong(3) == r.getInt(2).toLong * 1000 / 8000))
  }

  test("aHash: half-black/half-white image reads 0x0F0F0F0F0F0F0F0F; identical images dedup exactly") {
    import graft.functions.PpmCodec
    // 16×16, left half black, right half white → each grid row byte
    // 0b00001111 (bit 63 = cell (0,0)).
    val rgb = new Array[Byte](16 * 16 * 3)
    for (y <- 0 until 16; x <- 8 until 16; ch <- 0 until 3)
      rgb(3 * (y * 16 + x) + ch) = 0xff.toByte
    assert(Multimodal.aHash64(PpmCodec.Image(16, 16, rgb)) ==
      0x0F0F0F0F0F0F0F0FL)
    // three identical payload texts + one structurally different one:
    // the three dup pairwise (hamming 0), the outlier pairs with none.
    val same = ("z" * 40 + " " * 40) * 12
    val other = Seq.tabulate(960)(i => ('a' + (i * 7) % 26).toChar).mkString
    val docs = Seq((1L, same), (2L, same), (3L, same), (4L, other))
      .toDF("doc_id", "text")
    val r = Multimodal.imageAhashDedupOf(spark, docs).collect().head
    assert(r.getLong(0) == 4L, s"$r")
    assert(r.getLong(2) == 3L, s"exactly the identical C(3,2) pairs: $r")
    assert(r.getLong(1) >= 3L, s"candidates include the dup pairs: $r")
  }

  test("goertzel: on-bin tone reads ~1e6 ppm, off-bin stays low, tail blocks drop") {
    import graft.functions.WavCodec
    def tone(k: Int, n: Int, amp: Double): Array[Short] =
      Array.tabulate[Short](n)(i => Math.round(
        amp * StrictMath.cos(2.0 * StrictMath.PI * k * i / 256.0)).toShort)
    def audio(s: Array[Short]) = WavCodec.Audio(8000, 1, s)
    def ppm(t: (Long, Long, Long)) =
      if (t._3 == 0) 0L else t._2 * 1000000L / (t._3 * 128L)
    // pure 1 kHz (bin 32 of 256): the detector's own bin → ≈ 1e6
    val on = WavCodec.goertzel(audio(tone(32, 512, 10000)), 32, 256)
    assert(on._1 == 2L, s"two full blocks: $on")
    assert(ppm(on) > 900000L && ppm(on) < 1100000L, s"on-bin ppm: ${ppm(on)}")
    // pure 2 kHz (bin 64): orthogonal bin → a few percent at most
    val off = WavCodec.goertzel(audio(tone(64, 512, 10000)), 32, 256)
    assert(ppm(off) < 50000L, s"off-bin ppm: ${ppm(off)}")
    // silence and the empty tail block
    assert(WavCodec.goertzel(audio(new Array[Short](512)), 32, 256) ==
      ((2L, 0L, 0L)))
    val tail = new Array[Short](300); tail(299) = 30000
    val t = WavCodec.goertzel(audio(tail), 32, 256)
    assert(t == ((1L, 0L, 0L)), s"partial tail block must drop: $t")
  }

  test("pHash: brightness/contrast invariant, structure sensitive, DC-only on flat images") {
    import graft.functions.PpmCodec
    def img(f: (Int, Int) => Int): PpmCodec.Image = {
      val rgb = new Array[Byte](64 * 64 * 3)
      for (y <- 0 until 64; x <- 0 until 64; ch <- 0 until 3)
        rgb(3 * (y * 64 + x) + ch) = f(x, y).toByte
      PpmCodec.Image(64, 64, rgb)
    }
    def checker(t: Int, hi: Int, lo: Int) =
      img((x, y) => if (((x / t) + (y / t)) % 2 == 0) hi else lo)
    def hd(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val p = Multimodal.pHash64 _
    // flat image: every AC coefficient 0 → only the DC bit (bit 63)
    assert(p(img((_, _) => 100)) == 0x8000000000000000L)
    // global brightness shift: DC absorbs it, AC bits untouched
    assert(hd(p(checker(8, 200, 40)), p(checker(8, 220, 60))) == 0,
      "brightness must not move the hash")
    // contrast doubling: all coefficients scale, the median with them
    assert(hd(p(checker(8, 100, 20)), p(checker(8, 200, 40))) == 0,
      "contrast must not move the hash")
    // different low-frequency structure moves many bits
    assert(hd(p(checker(8, 200, 40)), p(checker(16, 200, 40))) >= 6,
      "coarser checker must be far in hamming")
    assert(hd(p(checker(8, 200, 40)),
      p(img((x, _) => if ((x / 8) % 2 == 0) 200 else 40))) >= 12,
      "stripes vs checker must be far in hamming")
  }

  test("pHash dedup fold: identical images dup exactly, structural outlier stays out") {
    val same = ("z" * 40 + " " * 40) * 12
    val other = Seq.tabulate(960)(i => ('a' + (i * 7) % 26).toChar).mkString
    val docs = Seq((1L, same), (2L, same), (3L, same), (4L, other))
      .toDF("doc_id", "text")
    val r = Multimodal.imagePhashDedupOf(spark, docs).collect().head
    assert(r.getLong(0) == 4L, s"$r")
    assert(r.getLong(2) == 3L, s"exactly the identical C(3,2) pairs: $r")
    assert(r.getLong(1) >= 3L, s"candidates include the dup pairs: $r")
  }

  test("cross-modal audit: text pairs contained in image pairs; a one-char edit is image-only") {
    val same = ("z" * 40 + " " * 40) * 12
    val nearSame = same.dropRight(1) + "y" // pixels ~identical, text differs
    val other = Seq.tabulate(960)(i => ('a' + (i * 7) % 26).toChar).mkString
    val docs = Seq((1L, same), (2L, same), (3L, same), (4L, nearSame),
      (5L, other)).toDF("doc_id", "text")
    val r = Multimodal.crossmodalDedupAuditOf(spark, docs).collect().head
    assert(r.getLong(0) == 5L, s"$r")
    assert(r.getLong(1) == 3L, s"text pairs = C(3,2): $r")
    // the one-char edit pairs with all three identical docs by pixels
    assert(r.getLong(2) == 6L && r.getLong(3) == 3L, s"$r")
    assert(r.getLong(4) == 3L * 1000000L / 6L, s"containment: $r")
  }

  test("ahash threshold sweep: identical-image floor at t=0, monotone, one enumeration") {
    val same = ("z" * 40 + " " * 40) * 12
    val other = Seq.tabulate(960)(i => ('a' + (i * 7) % 26).toChar).mkString
    val docs = Seq((1L, same), (2L, same), (3L, same), (4L, other))
      .toDF("doc_id", "text")
    val got = Multimodal.ahashThresholdSweepOf(spark, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 11 && got(0L) == 3L,
      s"Hamming-0 = the identical C(3,2): $got")
    val curve = (0L to 10L).map(got)
    assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
      s"monotone: $curve")
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
}
