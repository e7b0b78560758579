package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{PpmCodec, WavCodec}
import graft.sources.Tables
import Behavior.Dec

/** Multimodal-column handling: media payloads as opaque `binary`
  * columns with typed metadata alongside. The image decode step is a
  * REAL codec since round 10 — binary PPM (P6) via
  * [[graft.functions.PpmCodec]], full header grammar + maxval
  * rescale, no external libraries. Payloads that don't parse as P6
  * fall back to the documented deterministic stub (no image/audio
  * libraries exist in this environment for JPEG/WAV/MP4; a real
  * deployment swaps the codec object, the mapPartitions plumbing is
  * unchanged). Resize/frame-sampling remain stubs shape-wise.
  */
object Multimodal {

  /** Typed metadata extraction over a binary payload column — byte
    * length and magic-prefix, the schema a real media table carries.
    * `documents.text` (UTF-8 encoded) stands in for the media bytes.
    * Only the 4-char prefix is encoded to binary; round 2 encoded the
    * full payload twice (once per derived column) for 7.6 s at sf0.1. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        octet_length(col("text")).as("byte_len"),
        hex(encode(substring(col("text"), 1, 4), "UTF-8")).as("prefix_hex"),
        col("n_chars"))
      .orderBy("doc_id")

  /** The feature-extraction pipeline as a registered query: each doc's
    * UTF-8 bytes become a deterministic near-square P6 image (the
    * stand-in for reading real media files — this environment ships
    * none), which the REAL [[graft.functions.PpmCodec]] parser then
    * decodes back to dimensions + pixels for mean/std-RGB features.
    * Encode→decode through the actual byte format exercises the
    * parser on every row (pinned-frame oracle; the features aren't
    * SQL-expressible). The float[] features column is projected as an
    * xxhash64 fingerprint — the raw array isn't hashable by the
    * driver's rows-compare, and the fingerprint still pins the exact
    * feature values across runs. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val payloads = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          val npix = math.max(1, (b.length + 2) / 3)
          val w = math.max(1, math.sqrt(npix.toDouble).toInt)
          val h = (npix + w - 1) / w
          (id, PpmCodec.encodeP6(w, h, java.util.Arrays.copyOf(b, 3 * w * h)))
        }
      }
      .toDF("doc_id", "payload")
    extractFeatures(spark, payloads)
      .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
        xxhash64(col("features")).as("features_fp"))
      .orderBy("doc_id")
  }

  /** Resize plumbing: binary-in/binary-out media transform with typed
    * target metadata. The resampler is a deterministic STUB (byte
    * stride-sampling — a real deployment plugs in an image codec); the
    * schema contract (payload + target dims in, payload + actual dims
    * out) and the map-only, no-shuffle shape are production-real. */
  def resizeStub(spark: SparkSession, payloads: DataFrame,
                 targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0,
      s"target dims must be positive, got ${targetW}x$targetH")
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val target = targetW * targetH
        it.map { case (id, bytes) =>
          // Invariant: emitted width*height == payload length, so
          // downstream consumers can index by the typed dims. A
          // passed-through payload reports ITS dims, not the target's.
          if (bytes.length <= target) (id, bytes.length, 1, bytes)
          else {
            // STUB: stride-sample down to the target byte budget
            val stride = bytes.length.toDouble / target
            (id, targetW, targetH, Array.tabulate(target)(i => bytes((i * stride).toInt)))
          }
        }
      }
      .toDF("doc_id", "width", "height", "payload")
  }

  /** Frame-sampling plumbing: one media payload → every n-th "frame",
    * emitted one row per frame (the explode shape a video pipeline
    * feeds to per-frame feature extraction). Frame boundaries are a
    * deterministic STUB (fixed-size byte windows standing in for
    * decoded frames); the row-explosion contract and ordering column
    * are real. */
  def sampleFrames(spark: SparkSession, payloads: DataFrame,
                   frameBytes: Int, everyNth: Int): DataFrame = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    require(everyNth > 0, s"everyNth must be positive, got $everyNth")
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nFrames = math.max(1, bytes.length / frameBytes)
        (0 until nFrames by everyNth).map { f =>
          val start = f * frameBytes
          val end = math.min(bytes.length, start + frameBytes)
          (id, f, java.util.Arrays.copyOfRange(bytes, start, end))
        }
      }
      .toDF("doc_id", "frame_idx", "frame_payload")
  }

  /** Feature extraction: batch-parallel decode over binary payloads
    * via mapPartitions (map-only, no shuffle — the partitioning,
    * batch shape, and output schema are what a production media
    * pipeline runs). P6 payloads decode through the REAL
    * [[PpmCodec]] parser into per-channel mean/std + luma + aspect
    * features; anything else (wrong magic, malformed header, short
    * pixel area) falls back to the legacy deterministic stub so
    * arbitrary binary still flows with the same schema.
    */
  def extractFeatures(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          PpmCodec.decodeP6(bytes) match {
            case Some(img) =>
              (id, img.width, img.height, bytes.length, PpmCodec.features(img))
            case None =>
              // Fallback stub for non-PPM payloads: width/height from
              // leading bytes, a fixed-length "embedding" from a
              // rolling byte hash. Deterministic, schema-identical.
              val w = if (bytes.length > 0) (bytes(0) & 0xff) + 1 else 0
              val h = if (bytes.length > 1) (bytes(1) & 0xff) + 1 else 0
              val feat = new Array[Float](8)
              var acc = 17L
              var i = 0
              while (i < bytes.length) {
                acc = acc * 31 + (bytes(i) & 0xff)
                feat(i % 8) += ((acc % 1000) / 1000.0f)
                i += 1
              }
              (id, w, h, bytes.length, feat)
          }
        }
      }
      .toDF("doc_id", "width", "height", "n_bytes", "features")
  }

  /** Audio feature extraction as a registered query — the WAV twin of
    * [[multimodalFeatures]]: each doc's UTF-8 bytes become a
    * deterministic PCM16 signal (byte → centered 16-bit sample, the
    * stand-in for reading real recordings), encoded as a conforming
    * RIFF/WAVE file and decoded back through the REAL
    * [[graft.functions.WavCodec]] chunk walker, so every row
    * round-trips the actual byte format. Features are all-integer
    * (duration ms, peak amplitude, centi-RMS with one
    * correctly-rounded sqrt, zero crossings) — deterministic, hence a
    * pinned-frame oracle (byte-level WAV parsing is not
    * SQL-expressible). Map-only, no shuffle. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          // Magnitude from the byte value (128·b + 64 ≤ 32704, inside
          // PCM16), sign from its parity — peak, RMS, and the
          // zero-crossing count all vary with content.
          val pcm = Array.tabulate[Short](b.length) { i =>
            val v = ((b(i) & 0xff) << 7) + 64
            (if ((b(i) & 1) == 1) -v else v).toShort
          }
          val wav = WavCodec.encodeWav(8000, 1, pcm)
          WavCodec.decodeWav(wav) match {
            case Some(a) =>
              val (durMs, peak, rmsQ, zc) = WavCodec.features(a)
              (id, a.sampleRate, a.samples.length, durMs, peak, rmsQ, zc)
            case None => (id, 0, 0, 0L, 0, 0L, 0L) // unreachable: own output
          }
        }
      }
      .toDF("doc_id", "sample_rate", "n_samples", "duration_ms", "peak",
        "rms_q", "zero_crossings")
      .orderBy("doc_id")
  }

  /** Pilot-tone detection per source — the spectral member the audio
    * family lacked ([[audioFeatures]]'s zero-crossing count is a
    * broadband noisiness proxy; this measures energy AT a frequency):
    * every doc round-trips the real RIFF/WAVE codec, then the
    * block-wise Goertzel single-bin DFT ([[WavCodec.goertzel]],
    * k = 32 of 256 ⇒ 1 kHz at the 8 kHz stand-in rate) accumulates
    * tone vs broadband power, rolled up per source. tone_ppm =
    * tone·10⁶ div (total·N/2) — the normalization under which a pure
    * on-bin tone reads ≈10⁶ (|X(k)|² = N²A²/4 against Σx² = NA²/2
    * per block ⇒ ratio N/2). All-integer (fixed-point 2¹⁴ Goertzel
    * coefficient, exact Σx²), map-only to the per-source aggregate —
    * sums ride DECIMAL(38,0) (per-block powers reach 2⁵²; int64 sums
    * saturate at ~10⁶ blocks/source), published at the BIGINT edge.
    * Pinned-frame oracle (byte-level DSP has no SQL counterpart). */
  def audioToneDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        encode(col("text"), "UTF-8").as("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (_, src, b) =>
          val pcm = Array.tabulate[Short](b.length) { i =>
            val v = ((b(i) & 0xff) << 7) + 64
            (if ((b(i) & 1) == 1) -v else v).toShort
          }
          val wav = WavCodec.encodeWav(8000, 1, pcm)
          WavCodec.decodeWav(wav) match {
            case Some(a) =>
              val (nb, tone, total) = WavCodec.goertzel(a, 32, 256)
              (src, nb, tone, total)
            case None => (src, 0L, 0L, 0L) // unreachable: own output
          }
        }
      }
      .toDF("source", "nb", "tone", "total")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nb").as("n_blocks"),
        sum(col("tone").cast(Dec)).as("tq"),
        sum(col("total").cast(Dec)).as("wq"))
      .select(col("source"), col("n_docs"), col("n_blocks"),
        col("tq").cast("long").as("tone_q"),
        col("wq").cast("long").as("total_q"),
        expr("CAST((tq * 1000000) div greatest(wq * 128, 1) AS BIGINT)")
          .as("tone_ppm"))
      .orderBy("source")
  }

  /** Clipping / headroom audit per source — the level-integrity gate
    * of the audio family ([[audioFeatures]] reports per-doc levels,
    * [[audioToneDetect]] spectral content; neither answers the intake
    * QA question "is any source delivering clipped or near-full-scale
    * audio", the first thing a speech-data pipeline checks before
    * features are worth computing): every doc round-trips the real
    * RIFF/WAVE codec, samples at |s| ≥ `hotThreshold` count as hot,
    * rolled up per source as sample-level ppm, the hot-doc count
    * (any hot sample), and the source's true peak.
    *
    * Threshold calibration, measured honestly: on REAL recordings
    * the gate is ~32000 (within 2.3% of PCM16 full scale, ceiling
    * 32767) — but this corpus's synthetic byte→sample map tops out
    * at 15680 (lowercase ASCII ≤ 'z'=122 → 122·128+64), so the
    * full-scale cut is structurally VACUOUS here (every count zero,
    * the bland_altman ws-leg lesson). The default therefore sits
    * just inside the top of the synthetic range (15000 ⇔ bytes ≥
    * 117 'u'), where hot mass varies with real text content and the
    * fold is exercised; production callers pass 32000.
    *
    * All-integer (counts and one max — no divisions before the ppm
    * edge), map-only to one per-source aggregate; int64 sample
    * counts saturate at ~9·10¹⁸ — no decimal needed. Pinned-frame
    * oracle (byte-level WAV parsing has no SQL counterpart). */
  def audioClippingAuditOf(docs: DataFrame,
      hotThreshold: Int = 15000): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), col("source"),
        encode(col("text"), "UTF-8").as("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (_, src, b) =>
          val pcm = Array.tabulate[Short](b.length) { i =>
            val v = ((b(i) & 0xff) << 7) + 64
            (if ((b(i) & 1) == 1) -v else v).toShort
          }
          val wav = WavCodec.encodeWav(8000, 1, pcm)
          WavCodec.decodeWav(wav) match {
            case Some(a) =>
              var hot = 0L; var peak = 0; var i = 0
              while (i < a.samples.length) {
                val v = math.abs(a.samples(i).toInt)
                if (v >= hotThreshold) hot += 1
                if (v > peak) peak = v
                i += 1
              }
              (src, a.samples.length.toLong, hot, peak)
            case None => (src, 0L, 0L, 0) // unreachable: own output
          }
        }
      }
      .toDF("source", "ns", "hot", "peak")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ns").as("n_samples"),
        sum("hot").as("hot_samples"),
        sum(when(col("hot") > 0L, 1L).otherwise(0L)).as("hot_docs"),
        max("peak").cast("long").as("max_peak"))
      .select(col("source"), col("n_docs"), col("n_samples"),
        col("hot_samples"), col("hot_docs"), col("max_peak"),
        expr("(hot_samples * 1000000) div greatest(n_samples, 1)")
          .as("hot_ppm"))
      .orderBy("source")
  }

  /** 64-bit average-hash (aHash) of a decoded image: 8×8 luminance
    * grid, bit = 1 where the cell's mean outshines the global mean.
    * Entirely integer — luma is the 2R+5G+B octuple, cell-vs-global
    * compares cross-multiply (s_cell·c_tot > s_tot·c_cell) so no
    * division ever happens. Bit order: row-major, bit 63 = cell
    * (0,0). */
  private[graft] def aHash64(img: PpmCodec.Image): Long = {
    val w = img.width; val h = img.height
    val s = new Array[Long](64); val c = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) {
        val gx = math.min(7, x * 8 / w)
        val i = 3 * (y * w + x)
        val lum = 2L * (img.rgb(i) & 0xff) + 5L * (img.rgb(i + 1) & 0xff) +
          (img.rgb(i + 2) & 0xff)
        s(gy * 8 + gx) += lum; c(gy * 8 + gx) += 1
        x += 1
      }
      y += 1
    }
    var sTot = 0L; var cTot = 0L
    var j = 0
    while (j < 64) { sTot += s(j); cTot += c(j); j += 1 }
    var bits = 0L
    j = 0
    while (j < 64) {
      if (c(j) > 0 && s(j) * cTot > sTot * c(j)) bits |= 1L << (63 - j)
      j += 1
    }
    bits
  }

  /** Image near-duplicate detection on REAL decoded pixels: aHash of
    * each PPM payload, LSH-banded into four 16-bit bands (pigeonhole
    * over 4 bands guarantees an untouched — hence exactly-agreeing —
    * band only for Hamming ≤ 3; pairs at Hamming 4-6 whose flips
    * happen to touch all four bands are not candidates, so the
    * reported `n_dup_pairs` at the Hamming-6 verify threshold is a
    * CANDIDATE-VISIBLE count, not full recall — the same stance as
    * the threshold sweep's "> 3·16 bits could in principle miss"
    * caveat. The band join never enumerates cross-bucket pairs —
    * the [[graft.operators.Dedup]] SimHash discipline applied to
    * PIXELS), then the exact Hamming verify on candidates. This is the missing DEDUP member of the
    * multimodal family (rows 26/36/41 decode and featurize; nothing
    * deduplicated the images themselves).
    *
    * Shape: one mapPartitions decode+hash pass (map-only, the codec
    * convention), then the `dup_matrix` DISTINCT-collapse: identical
    * hashes group FIRST (their C(m,2) pairs are all Hamming-0 dups —
    * counted arithmetically, never enumerated), the band join runs
    * over DISTINCT hashes only, and cross-hash pair counts weight by
    * m_a·m_b — bit-identical totals with pair mass collapsed from
    * duplicate-clique² to distinct-hash-clique² (the ×100 TWINS
    * rehearsal priced the naive doc-pair join at 305×; this shape is
    * what makes replication NOT quadratic). */
  /** (hash, m) distinct-hash groups of the synthesized image corpus —
    * the shared substrate of the image-dedup rows (the decode+hash
    * pass and the identical-hash collapse happen ONCE here); `hasher`
    * selects the 64-bit perceptual hash ([[aHash64]] / [[pHash64]]). */
  private def hashGroups(spark: SparkSession, docs: DataFrame,
                         hasher: PpmCodec.Image => Long): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          val npix = math.max(1, (b.length + 2) / 3)
          val w = math.max(1, math.sqrt(npix.toDouble).toInt)
          val h = (npix + w - 1) / w
          val img = PpmCodec.decodeP6(
            PpmCodec.encodeP6(w, h, java.util.Arrays.copyOf(b, 3 * w * h)))
            .getOrElse(PpmCodec.Image(0, 0, Array.emptyByteArray))
          (id, hasher(img))
        }
      }
      .toDF("doc_id", "ahash")
      .groupBy("ahash").agg(count(lit(1)).as("m"))
      .localCheckpoint(false) // feeds the fold and both join sides
  }

  private def ahashGroups(spark: SparkSession, docs: DataFrame): DataFrame =
    hashGroups(spark, docs, aHash64)

  /** 32-point DCT-II row basis for the 8 lowest frequencies,
    * fixed-point 2¹⁴ — tabulated once with StrictMath so the table is
    * bit-identical on every JVM/platform (Math.cos may use platform
    * intrinsics; the hash must not depend on where it runs). */
  private val DctN = 32
  private lazy val dctT: Array[Array[Long]] = Array.tabulate(8, DctN) {
    (u, x) => Math.round(
      StrictMath.cos((2 * x + 1) * u * StrictMath.PI / (2.0 * DctN))
        * (1 << 14))
  }

  /** pHash: 64-bit DCT perceptual hash — [[aHash64]] thresholds block
    * LUMA against the mean (cheap, but any smooth gradient flips half
    * the bits); pHash thresholds the 8×8 LOWEST-FREQUENCY DCT
    * coefficients of the 32×32 downscale against their median, so the
    * hash captures image STRUCTURE and is invariant to global
    * brightness (DC shifts don't move AC coefficients) and contrast
    * scaling (all coefficients scale together, the median with them).
    * All arithmetic is fixed-point integer: box-average luma ≪8 per
    * cell, two staged basis multiplies each rescaled ≫14 (arithmetic
    * shift — floors on negatives, deterministically), worst-case
    * magnitude ≤ 9·10¹⁵ < 2⁶³. Median = lower median of the 63 non-DC
    * coefficients (DC joins the bit comparison but not the median —
    * the standard pHash recipe). */
  private[graft] def pHash64(img: PpmCodec.Image): Long = {
    val n = DctN
    val w = img.width; val h = img.height
    val s = new Array[Long](n * n); val c = new Array[Long](n * n)
    var y = 0
    while (y < h) {
      val gy = math.min(n - 1, y * n / h)
      var x = 0
      while (x < w) {
        val gx = math.min(n - 1, x * n / w)
        val i = 3 * (y * w + x)
        val lum = 2L * (img.rgb(i) & 0xff) + 5L * (img.rgb(i + 1) & 0xff) +
          (img.rgb(i + 2) & 0xff)
        s(gy * n + gx) += lum; c(gy * n + gx) += 1
        x += 1
      }
      y += 1
    }
    val g = new Array[Long](n * n)
    var j = 0
    while (j < n * n) {
      if (c(j) > 0) g(j) = (s(j) << 8) / c(j)
      j += 1
    }
    // M(x,v) = (Σ_y g(x,y)·T(v,y)) >> 14, then F(u,v) = (Σ_x T(u,x)·M) >> 14
    val m = Array.ofDim[Long](n, 8)
    var x = 0
    while (x < n) {
      var v = 0
      while (v < 8) {
        var acc = 0L; var yy = 0
        while (yy < n) { acc += g(x * n + yy) * dctT(v)(yy); yy += 1 }
        m(x)(v) = acc >> 14
        v += 1
      }
      x += 1
    }
    val f = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L; var xx = 0
        while (xx < n) { acc += dctT(u)(xx) * m(xx)(v); xx += 1 }
        f(u * 8 + v) = acc >> 14
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(f, 1, 64)
    java.util.Arrays.sort(ac)
    val med = ac(31)
    var bits = 0L
    j = 0
    while (j < 64) {
      if (f(j) > med) bits |= 1L << (63 - j)
      j += 1
    }
    bits
  }

  /** Distinct-hash band-candidate frame over [[ahashGroups]]: each
    * (a_h < b_h) hash pair sharing ≥ 1 of the four 16-bit bands, with
    * multiplicities and the exact Hamming distance. */
  private def ahashCross(groups: DataFrame): DataFrame = {
    val bands = groups.select(col("ahash"), col("m"),
        explode(array((0 until 4).map(i => struct(lit(i).as("band"),
          shiftright(col("ahash"), i * 16).bitwiseAND(lit(0xffffL))
            .as("bv"))): _*)).as("b"))
      .select(col("ahash"), col("m"), col("b.band").as("band"),
        col("b.bv").as("bv"))
    val l = bands.select(col("band"), col("bv"), col("ahash").as("a_h"),
      col("m").as("a_m"))
    val r = bands.select(col("band"), col("bv"), col("ahash").as("b_h"),
      col("m").as("b_m"))
    l.join(r, Seq("band", "bv"))
      .filter(col("a_h") < col("b_h"))
      .select(col("a_h"), col("b_h"), col("a_m"), col("b_m"))
      .distinct()
      .withColumn("h", bit_count(col("a_h").bitwiseXOR(col("b_h"))))
  }

  def imageAhashDedupOf(spark: SparkSession, docs: DataFrame,
                        maxHamming: Int = 6): DataFrame =
    imageHashDedupFold(ahashGroups(spark, docs), maxHamming)

  /** pHash twin of [[imageAhashDedupOf]]: the DCT perceptual hash
    * ([[pHash64]]) through the identical collapsed-band fold — same
    * banding pigeonhole contract (an exactly-agreeing 16-bit band is
    * guaranteed only at Hamming ≤ 3; beyond that the count is
    * candidate-visible), same distinct-hash pair-mass collapse. The
    * pair belongs together in the registry: aHash fires on luma-block
    * equality (cheap, gradient-fragile), pHash on low-frequency
    * structure (brightness/contrast-invariant) — the FP/FN trade
    * between them is the `crossmodal_dedup_audit` read extended to a
    * second operating point. */
  def imagePhashDedupOf(spark: SparkSession, docs: DataFrame,
                        maxHamming: Int = 6): DataFrame =
    imageHashDedupFold(hashGroups(spark, docs, pHash64), maxHamming)

  private def imageHashDedupFold(groups: DataFrame,
                                 maxHamming: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val within = groups.agg(
      sum(col("m").cast(Dec)).as("n_images"),
      coalesce(sum(expr("((m * (m - 1)) div 2)").cast(Dec)),
        lit(0L).cast(Dec)).as("wpairs"))
    val cross = ahashCross(groups)
      .agg(
        coalesce(sum((col("a_m") * col("b_m")).cast(Dec)),
          lit(0L).cast(Dec)).as("cpairs"),
        coalesce(sum(when(col("h") <= maxHamming,
          col("a_m") * col("b_m")).otherwise(0L).cast(Dec)),
          lit(0L).cast(Dec)).as("dpairs"))
    within.crossJoin(cross) // 1-row frames
      .select(col("n_images").cast("long").as("n_images"),
        (col("wpairs") + col("cpairs")).cast("long")
          .as("n_candidate_pairs"),
        (col("wpairs") + col("dpairs")).cast("long").as("n_dup_pairs"))
  }

  /** Cross-modal dedup agreement: exact TEXT duplicate pairs vs
    * [[imageAhashDedupOf]]'s image near-dup pairs over the same
    * corpus — identical text implies identical pixels, so text pairs
    * are a SUBSET of image pairs by construction and the report reads
    * the two interesting gaps: image-only pairs (perceptual near-dups
    * OR aHash collisions — the FP-rate read a 64-bit perceptual hash
    * needs before anyone deletes on it) and the containment share
    * (text_pairs/image_pairs, 1e6 = the image hash adds nothing
    * beyond exact dedup).
    *
    * Shape: the text leg is one md5-group aggregate with C(m,2)
    * counted arithmetically (never enumerated); the image leg is the
    * collapsed band join; both fold to 1-row frames. */
  def crossmodalDedupAuditOf(spark: SparkSession, docs: DataFrame,
                             maxHamming: Int = 6): DataFrame = {
    val txt = docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("m"))
      .agg(coalesce(sum(expr("((m * (m - 1)) div 2)").cast(Dec)),
        lit(0L).cast(Dec)).as("tpairs"))
    imageAhashDedupOf(spark, docs, maxHamming)
      .crossJoin(txt) // 1-row frames
      .select(col("n_images"),
        col("tpairs").cast("long").as("text_dup_pairs"),
        col("n_dup_pairs").as("image_dup_pairs"),
        (col("n_dup_pairs") - col("tpairs").cast("long"))
          .as("image_only_pairs"),
        expr("""CASE WHEN n_dup_pairs > 0
                THEN (tpairs * 1000000) div n_dup_pairs
                ELSE NULL END""").as("containment_ppm"))
  }

  /** Hamming-threshold sensitivity sweep for the image near-dup
    * detector — row 348's knob curve (the `banding_sweep`/
    * `session_sweep` discipline: before anyone trusts "Hamming ≤ 6",
    * show how many pairs every threshold admits, so the knee — or
    * its absence — is visible): ONE candidate enumeration, the
    * distance histogram on the bounded h ∈ 0..64 frame, a cumulative
    * per threshold. Thresholds beyond the banding's pigeonhole
    * guarantee (> 3·16 bits could in principle miss) read as the
    * CANDIDATE-visible count, as documented for the banded detector
    * itself.
    *
    * Shape: the shared collapsed band join, then an ≤ 65-row
    * histogram and an 11-row threshold probe — no re-enumeration per
    * threshold. */
  def ahashThresholdSweepOf(spark: SparkSession, docs: DataFrame,
                            maxThreshold: Int = 10): DataFrame = {
    require(maxThreshold >= 0, s"maxThreshold must be >= 0, got $maxThreshold")
    val groups = ahashGroups(spark, docs)
    val within = groups.agg(
      coalesce(sum(expr("((m * (m - 1)) div 2)").cast(Dec)),
        lit(0L).cast(Dec)).as("wpairs")) // Hamming 0 by construction
    val hist = ahashCross(groups)
      .groupBy("h").agg(sum((col("a_m") * col("b_m")).cast(Dec)).as("w"))
    spark.range(0L, maxThreshold + 1L).toDF("threshold")
      .join(hist, col("h") <= col("threshold"), "left") // ≤ 65×11 rows
      .groupBy("threshold")
      .agg(coalesce(sum("w"), lit(0L).cast(Dec)).as("cpairs"))
      .crossJoin(broadcast(within)) // 1 row by construction
      .select(col("threshold"),
        (col("wpairs") + col("cpairs")).cast("long").as("n_dup_pairs"))
      .orderBy("threshold")
  }
}
