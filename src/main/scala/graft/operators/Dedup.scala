package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.sources.Tables
import Behavior.Dec

/** Deduplication family over the `documents` table.
  *
  * Scale design (100 TB): every near-dup variant shuffles ONLY on
  * band/bucket keys — never an all-pairs crossJoin. The candidate set
  * after LSH banding is linear-ish in input size, so the verify joins
  * stay proportional to real duplicates, not O(n^2).
  */
object Dedup {

  /** Exact content-hash dedup: group by sha256(text), keep the lowest
    * doc_id (keep-first), count members. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("content_hash")

  /** CCNet-style text canonicalization for normalized exact dedup
    * (Wenzek'19 §4.1's hash-normalization: case, accents, digits and
    * punctuation/whitespace variance all collapse before hashing).
    * Every step is engine-portable (lower / translate /
    * regexp_replace on character classes evaluate identically in
    * Spark's Java regex and DuckDB's RE2 — no lookaround, no escapes
    * that differ): lowercase → strip Latin-1 accents via a fixed
    * translate table → digits to 0 → every non-[a-z0-9] run to one
    * space → trim. */
  private val AccentFrom = "àáâãäåçèéêëìíîïñòóôõöøùúûüýÿ"
  private val AccentTo = "aaaaaaceeeeiiiinoooooouuuuyy"
  def normalizeCC(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        translate(lower(text), AccentFrom, AccentTo),
        "[0-9]", "0"),
      "[^a-z0-9]+", " "))

  /** Normalized exact dedup (SURVEY row 15's hardened sibling): raw
    * sha256 misses trivial variants — "Hello,  World!" vs "hello
    * world" — so the production first stage hashes the
    * [[normalizeCC]] canonical form instead. Same keep-first contract
    * as [[dedupExact]]; `n_variants` counts how many RAW byte-forms
    * each canonical group collapsed (1 = normalization changed
    * nothing; >1 = casing/punctuation variants caught only here).
    * Map-side: one projection feeds one hash-keyed aggregate —
    * identical shuffle shape to the raw variant at any scale. */
  def dedupNormalizedOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        sha2(normalizeCC(col("text")), 256).as("norm_hash"),
        sha2(col("text"), 256).as("raw_hash"))
      .groupBy("norm_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"),
        countDistinct(col("raw_hash")).as("n_variants"))
      .orderBy("norm_hash")

  // ---- MinHash + LSH ----------------------------------------------------
  // k hash functions as affine permutations (a*h+b mod p) of one base
  // xxhash64, reduced to 31 bits first so the products stay inside
  // int64 under ANSI arithmetic. b bands of r rows; threshold ~
  // (1/b)^(1/r) = 0.5 with b=16, r=4.
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands
  private[graft] val P = 2147483647L // 2^31 - 1
  private[graft] val perm: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42L)
    Seq.fill(NumHashes)((math.abs(rnd.nextLong()) % (P - 1) + 1, math.abs(rnd.nextLong()) % P))
  }

  /** Distinct token-3-gram shingle hashes reduced below P (31 bits) so
    * affine permutations stay inside int64, via the native one-pass
    * [[graft.plans.ShingleHashes]] (byte-identical to the composable
    * `transform(array_distinct(shingles), pmod(xxhash64, P))`, minus
    * its interpreted per-shingle lambda evals and string arrays).
    *
    * Text is canonicalized first ([[graft.plans.NormalizeText]]: NFC +
    * ROOT-locale casefold) so "Café" with a combining accent, the
    * precomposed form, and "CAFÉ" all shingle identically — the
    * normalization pass every real corpus dedup runs before hashing. */
  def shingleHashes(text: Column): Column =
    graft.plans.ColumnBridge.column(graft.plans.ShingleHashes(
      graft.plans.NormalizeText(graft.plans.ColumnBridge.expression(text)), 3, P))

  /** MinHash signature (array<long> of length NumHashes) over a
    * pre-reduced hash array, via the native one-pass codegen
    * [[graft.plans.MinHashSignature]] (the HOF formulation recomputed
    * the shingle subtree 64× per row — see that class's scaladoc). */
  def minhashSignature(hashes: Column): Column =
    graft.plans.ColumnBridge.column(graft.plans.MinHashSignature(
      graft.plans.ColumnBridge.expression(hashes),
      perm.map(_._1), perm.map(_._2), P))

  /** (doc_id, sig) over any frame with (doc_id, text). Short docs fall
    * back to whole-token shingles, so only null-text docs yield a NULL
    * signature — those are EXCLUDED here: xxhash64 over a NULL slice
    * degrades to the hash seed, which would give every no-content doc
    * identical band hashes and cluster unrelated docs together. Callers
    * route unbanded docs to singleton clusters. */
  private def signaturesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleHashes(col("text")).as("hashes"))
      .select(col("doc_id"), minhashSignature(col("hashes")).as("sig"))
      .filter(col("sig").isNotNull)

  /** (doc_id, band, band_hash) — one row per band per doc of
    * [[signaturesOf]]. */
  def bandedSignaturesOf(docs: DataFrame): DataFrame = {
    val bands = transform(sequence(lit(0), lit(Bands - 1)), i =>
      struct(i.as("band"),
        xxhash64(slice(col("sig"), i * RowsPerBand + 1, lit(RowsPerBand))).as("band_hash")))
    signaturesOf(docs).select(col("doc_id"), explode(bands).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.band_hash").as("band_hash"))
  }

  /** Distinct (a_id, b_id), a < b: the doc pairs sharing any LSH band
    * bucket. The self-join runs per-bucket (tiny groups), not
    * all-pairs. The two banded sides are identical subplans shuffled
    * on the same keys, so Spark's ReuseExchange computes the signature
    * pipeline once and replays the shuffle for the other side. */
  private def lshCandidates(docs: DataFrame): DataFrame = {
    val banded = bandedSignaturesOf(docs)
    val a = banded.select(col("band"), col("band_hash"), col("doc_id").as("a_id"))
    val b = banded.select(col("band"), col("band_hash"), col("doc_id").as("b_id"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** One-pass LSH clustering: docs sharing any band bucket take the
    * bucket's min doc_id as cluster id; singletons keep their own id.
    * Shuffles on (band, band_hash) then doc_id only. The bucket min is
    * a WINDOW over the banded frame — a bucket aggregate joined back
    * would re-plan (and re-run) the MinHash signature pass for the
    * second consumer (no cross-branch CSE in Catalyst). */
  def dedupMinhashOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clustered = bandedSignaturesOf(docs)
      .withColumn("bucket_min",
        min("doc_id").over(Window.partitionBy("band", "band_hash")))
      .groupBy("doc_id")
      .agg(min("bucket_min").as("cluster_id"))
    // null-text docs never banded → each is its own singleton cluster
    docs.select(col("doc_id"))
      .join(clustered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** [[lshCandidates]] verified with exact token-3-gram Jaccard >=
    * threshold. */
  def dedupJaccardOf(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val cand = lshCandidates(docs)
    // Exact Jaccard over the 31-bit shingle hash sets instead of the
    // shingle strings: collision odds per doc are ~|shingles|²/2³² —
    // negligible at document scale. Materialized once: the verify
    // stage consumes it on BOTH join sides keyed differently, where
    // ReuseExchange can't help (no cross-branch CSE in Catalyst).
    val sh = docs
      .select(col("doc_id"), array_sort(shingleHashes(col("text"))).as("sh"))
      .localCheckpoint(false)
    verifyJaccard(cand, sh, threshold)
  }

  /** Shared exact-Jaccard verify stage: joins the (a_id, b_id)
    * candidate pairs back to their sorted shingle-hash sets and keeps
    * pairs with round(J, 4) >= threshold. |a∩b| comes from one native
    * sorted-merge count ([[sortedIntersectSize]], allocation-free) and
    * |a∪b| follows as |a|+|b|-|a∩b| — no intersect/union arrays per
    * pair. `inter` is materialized in its own projection so the ratio
    * reads a column, not three copies of the merge (the engine's
    * documented no-CSE pattern). */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(col("sa")).as("sza"), size(col("sb")).as("szb"),
        sortedIntersectSize(col("sa"), col("sb")).as("inter"))
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("a_id", "b_id")

  /** EXACT Jaccard similarity self-join (J >= threshold) via prefix
    * filtering (Bayardo et al., WWW'07; PPJoin family) — complete, no
    * LSH recall loss, so it oracle-checks against a brute-force DuckDB
    * all-pairs query. If J(x,y) >= t then |x∩y| >= t·|x∪y| >=
    * ceil(t·|x|), and two sets with overlap >= α must (pigeonhole,
    * under one global element order) share an element within their
    * first |x|-α+1 elements — so each doc only indexes the first
    * |x| - ceil(t·|x|) + 1 of its hash-sorted shingles and the
    * candidate join runs on that prefix, a fraction (1-t) of the
    * all-pairs explode. At t=0.5 half the shingle index disappears;
    * higher thresholds prune harder. The PPJoin length filter prunes
    * further: J >= t forces min(|x|,|y|) >= t·max(|x|,|y|), so
    * size-mismatched candidates die inside the join condition before
    * the verify stage. Jaccard is then verified exactly
    * on the full shingle-hash sets (31-bit hashes: pairwise collision
    * odds ~|union|²/2³² — negligible, and deterministic per dataset).
    */
  def jaccardPairsOf(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    // The verify stage accepts round(J, 4) >= t, i.e. J >= t - 5e-5 —
    // so every PRUNING bound below uses tEff = t - 5e-5, keeping the
    // candidate set a strict superset of what verify can emit (a
    // boundary pair like J = 0.49995 rounds up to 0.5 and must not be
    // length- or prefix-pruned first).
    val tEff = threshold - 5e-5
    val sh = sortedShingles(docs)
    val prefixes = sh
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(slice(col("sh"), lit(1), prefixLen(tEff))).as("h"))
    // PPJoin length filter: J(x,y) >= t forces min(|x|,|y|) >= t·max —
    // |x∩y| <= min and |x∪y| >= max — so size-mismatched candidates are
    // dropped IN the join, before the distinct and the verify joins.
    // The - 1e-6 absorbs double noise in the product (same guard as
    // prefixLen's ceil): a 1-ulp overshoot of tEff·sz must not prune a
    // boundary pair the rounding verify accepts.
    val sizeOk =
      col("b.sz") >= lit(tEff) * col("a.sz") - lit(1e-6) &&
        col("a.sz") >= lit(tEff) * col("b.sz") - lit(1e-6)
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") && sizeOk)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** (doc_id, sh): each doc's sorted shingle-hash set, null-text docs
    * dropped. Materialized once — the prefix-filter joins read it three
    * times (the prefix index and both verify join sides), each keyed
    * differently (cf. dedupJaccardOf). */
  private def sortedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_sort(shingleHashes(col("text"))).as("sh"))
      .filter(col("sh").isNotNull)
      .localCheckpoint(false)

  /** |sh| − ⌈tEff·|sh|⌉ + 1: the prefix of a sorted set that must hold
    * a shared element when the overlap reaches tEff·|sh|. ceil(x −
    * 1e-6) guards double noise: 0.7 * 10 evaluating to 7.000000001 must
    * ceil to 7, not 8 (an overshoot would shorten the prefix and
    * silently drop valid pairs). */
  private def prefixLen(tEff: Double): Column =
    (size(col("sh")) - ceil(lit(tEff) * size(col("sh")) - lit(1e-6)) + 1)
      .cast("int")

  /** Intersection cardinality of two SORTED long arrays via the native
    * merge-count [[graft.plans.SortedIntersectSize]]. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    graft.plans.ColumnBridge.column(graft.plans.SortedIntersectSize(
      graft.plans.ColumnBridge.expression(a),
      graft.plans.ColumnBridge.expression(b)))

  /** EXACT containment self-join: ordered pairs where C(a→b) =
    * |Sa∩Sb| / |Sa| >= threshold — the ASYMMETRIC near-dup measure
    * that catches quotes, excerpts, and subset duplication Jaccard
    * misses (a 100-token excerpt inside a 10k-token page has J ≈ 0.01
    * but C = 1.0; decontamination and quote-tracing gate on C).
    *
    * Prefix filter, one-sided: |Sa∩Sb| >= t·|Sa| forces (pigeonhole,
    * under the sorted-hash order) a shared element within Sa's first
    * |Sa| - ceil(t·|Sa|) + 1 elements, so the PROBE side indexes only
    * that prefix. The containee can sit anywhere in b, so the b side
    * indexes every shingle — no length filter either (b may be
    * arbitrarily larger; that's the point of containment). Verify is
    * exact on the full sorted hash sets via the same allocation-free
    * merge-count as [[jaccardPairsOf]], and the rounding bound tEff
    * keeps pruning a strict superset of what verify accepts.
    */
  def containmentPairsOf(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val tEff = threshold - 5e-5
    val sh = sortedShingles(docs)
    val aSide = sh.select(col("doc_id").as("a_id"),
      explode(slice(col("sh"), lit(1), prefixLen(tEff))).as("h"))
    val bSide = sh.select(col("doc_id").as("b_id"), explode(col("sh")).as("h"))
    val cand = aSide.join(bSide,
        aSide("h") === bSide("h") && col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"), size(col("sa")).as("sza"),
        sortedIntersectSize(col("sa"), col("sb")).as("inter"))
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") / col("sza").cast("double"), 4)
          .as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** Incremental (batch-vs-corpus) near-dup — the daily-ingest shape:
    * band only the new batch and probe the standing corpus's banded
    * index; no batch×batch or corpus×corpus comparison happens here
    * (the steady-state corpus was dedup'd when ITS docs arrived). Per
    * new doc: the minimum colliding corpus doc and how many of its
    * bands collide (more shared bands ⇒ higher similarity); docs with
    * no collision keep a NULL dup_of and enter the corpus clean.
    * Bipartite join on (band, band_hash) only — at 100 TB the corpus
    * side is a pre-materialized banded index bucketed on those keys,
    * so the daily increment shuffles and the index does not. */
  def dedupIncrementalOf(corpus: DataFrame, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpusBands = bandedSignaturesOf(corpus)
      .select(col("band"), col("band_hash"), col("doc_id").as("corpus_id"))
    // Band count PER (batch doc, corpus doc) pair, then keep the
    // strongest pair — counting collisions against ANY corpus doc
    // would overstate similarity to the one doc reported as dup_of.
    val perPair = bandedSignaturesOf(batch)
      .join(corpusBands, Seq("band", "band_hash"))
      .groupBy("doc_id", "corpus_id")
      .agg(countDistinct("band").as("n_shared_bands"))
    val best = Window.partitionBy("doc_id")
      .orderBy(col("n_shared_bands").desc, col("corpus_id"))
    val hits = perPair
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("corpus_id").as("dup_of"), col("n_shared_bands"))
    batch.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("n_shared_bands"), lit(0L)).as("n_shared_bands"))
      .orderBy("doc_id")
  }

  // ---- SimHash ----------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens. Typed Dataset map: map-only
    * (no shuffle), deterministic MurmurHash3-based token hashes. */
  def simhashOf(tokens: Array[String]): Long = {
    val counts = new Array[Int](64)
    tokens.foreach { t =>
      val h1 = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(t, 0x85ebca6b)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
    }
    var sig = 0L; var j = 0
    while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** (doc_id, simhash, cluster_id): cluster = min doc_id sharing any of
    * the four 16-bit simhash bands (hamming-adjacent docs collide on at
    * least one band with high probability). The signature runs as the
    * native [[graft.plans.SimHash64]] expression — the earlier typed
    * `Dataset.map` encoded/decoded every row and left codegen. */
  /** Capture–recapture estimate of the TRUE near-duplicate population
    * (Chapman'51): MinHash and SimHash are two independent-ish
    * "capture occasions" over the same corpus; from n₁ = docs MinHash
    * flags (cluster size ≥ 2), n₂ = SimHash's, m = both, the Chapman
    * estimator N̂ = (n₁+1)(n₂+1)/(m+1) − 1 prices how many near-dup
    * docs exist BEYOND what either detector finds — the undercount
    * read no single-detector dedup report can give. Honesty caveat
    * (documented, not hidden): the detectors are positively dependent
    * (both catch exact dups with certainty), so N̂ is biased LOW — a
    * floor on the true population, still strictly more informative
    * than either count alone.
    *
    * Exactness: three conditional counts + Chapman on integers
    * ((n₁+1)(n₂+1) div (m+1), DECIMAL-safe product); per-detector
    * coverage shares exact ppm. Shape: both detector runs are the
    * registered single-pass pipelines; flags come from ONE
    * cluster-size window each; the doc_id equijoin of two doc-keyed
    * frames folds to a 1-row report. */
  def dedupCaptureRecaptureOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def flags(d: DataFrame, name: String) = d
      .withColumn("sz",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col("doc_id"), (col("sz") > 1).as(name))
    flags(dedupMinhashOf(docs), "f1")
      .join(flags(dedupSimhashOf(docs).select("doc_id", "cluster_id"),
        "f2"), "doc_id")
      .agg(
        sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("f2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("m"))
      .select(col("n1"), col("n2"), col("m"),
        expr(s"""(CAST(n1 + 1 AS $Dec) * (n2 + 1)) div (m + 1) - 1""")
          .cast("long").as("n_hat"))
      .select(col("n1"), col("n2"), col("m"), col("n_hat"),
        expr("(n1 * 1000000) div greatest(n_hat, 1)")
          .as("cov_minhash_ppm"),
        expr("(n2 * 1000000) div greatest(n_hat, 1)")
          .as("cov_simhash_ppm"),
        expr("((n1 + n2 - m) * 1000000) div greatest(n_hat, 1)")
          .as("cov_union_ppm"))
  }

  /** SimHash near-dup clustering over any (doc_id, text) frame: a
    * 64-bit SimHash per document split into four 16-bit bands; every
    * document joins the cluster of the smallest doc_id sharing any band
    * value with it. */
  def dedupSimhashOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Canonicalize like every other near-dup path (NFC + casefold,
    // [[graft.plans.NormalizeText]]): "Café"/"café"/"CAFÉ" must land on
    // the same signature here exactly as they do under MinHash/Jaccard.
    val sigs = docs
      .select(col("doc_id"),
        graft.plans.ColumnBridge.column(graft.plans.SimHash64(
          graft.plans.NormalizeText(
            graft.plans.ColumnBridge.expression(col("text"))))).as("simhash"))
    // 16-bit band extraction: band i value = (simhash >>> 16i) & 0xffff.
    // One explode, not a 4-way union of selects — the union re-planned
    // the SimHash64 scan per branch; with the bucket-min as a window
    // (not an aggregate joined back, which doubles the plan again) the
    // signature computes exactly once per doc: 8 scans down to 1.
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { i =>
        struct(lit(i).as("band"),
          shiftrightunsigned(col("simhash"), 16 * i).bitwiseAND(lit(0xffffL))
            .as("band_val"))
      }: _*)).as("b"))
    banded
      .withColumn("bucket_min",
        min("doc_id").over(Window.partitionBy(col("b.band"), col("b.band_val"))))
      .groupBy("doc_id")
      .agg(min("simhash").as("simhash"), min("bucket_min").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Cross-source SPAN duplication matrix: for each unordered source
    * pair, how many DISTINCT token 8-grams ([[graft.functions.TextF
    * .strictShingles]], the span-dedup granule) appear in both — the
    * governance view that catches one source quoting or mirroring
    * another before training weights are assigned. (Whole-document
    * sha256 sharing is the degenerate case and [[dedupExact]] already
    * keys it; spans catch the partial-copy mass documents miss.)
    *
    * Shape (r17 optimization round): gram hashing is the native
    * one-pass [[graft.plans.ShingleHashes]] scan ([[spanGrams]]:
    * per-doc-deduped 64-bit hashes, no intermediate shingle strings;
    * the old `explode(strictShingles) → xxhash64(string)` map stage was
    * the query's dominant cost, 3.5 s vs the overlap matrix's 1.0 s on
    * the identical gram pass), and the pair count is [[sourcePairs]]:
    * the gram stream crosses the wire exactly once. */
  def dupMatrixOf(docs: DataFrame, n: Int = 8,
                  approx: Boolean = false): DataFrame = {
    require(n > 1, s"span length must be > 1, got $n")
    if (approx) return dupMatrixSketchOf(docs, n)
    sourcePairs(spanGrams(docs, n), "n_shared")
      .orderBy("source_a", "source_b")
  }

  /** (source, g): every strict span `n`-gram of every doc as the RAW
    * xxhash64 (seed 42, prime 0) of its shingle string — byte-identical
    * to the old `xxhash64(explode(strictShingles))` values, so the HLL
    * sketches and their oracle-pinned estimates are unchanged; the
    * per-doc dedup is transparent to both twins (a set per pair, an
    * idempotent sketch insert). splitCompat: the dup_matrix oracles
    * tokenize with split(trim(text)), phantom empty tokens on
    * tab/newline-edged text included (r18; output-neutral on corpora
    * without such docs). */
  private def spanGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("source"),
      explode(graft.plans.ColumnBridge.column(graft.plans.ShingleHashes(
        graft.plans.ColumnBridge.expression(col("text")), n, 0L,
        strict = true, splitCompat = true))).as("g"))

  /** (source_a, source_b, `shared`) over a (source, g) gram frame: per
    * unordered source pair (a < b), the number of distinct grams both
    * hold — a gram repeated inside one source counts once. One (g →
    * sorted source set) aggregate, then a map-side ordered-pair explode
    * whose mass is ≤ C(|sources|,2) per gram — never a gram-keyed
    * self-join. Shared by [[dupMatrixOf]],
    * [[Corpus.sourceOverlapMatrixOf]] and [[CorpusStats.vocabOverlapOf]]. */
  private[operators] def sourcePairs(gs: DataFrame, shared: String): DataFrame =
    gs.groupBy("g").agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)), b -> struct(a, b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .agg(count(lit(1)).as(shared))

  /** (source_a, sk_a, source_b, sk_b) over a (source, g) gram frame:
    * each source folds its grams into ONE Datasketches HLL sketch
    * (lgK = 18: 256 KB, map-side combinable), and the |sources|-row
    * sketch frame crosses itself as a broadcast, a < b. The sketch
    * twins of [[dupMatrixOf]] and [[Corpus.sourceOverlapMatrixOf]]
    * read [[sketchShared]] off it. */
  private[operators] def sketchPairs(gs: DataFrame): DataFrame = {
    val sk = gs.groupBy("source")
      .agg(expr("hll_sketch_agg(g, 18)").as("sk"))
      .localCheckpoint(false) // both pair sides
    sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
      .crossJoin(broadcast(
        sk.select(col("source").as("source_b"), col("sk").as("sk_b"))))
      .filter(col("source_a") < col("source_b")) // |sources|² bounded
  }

  /** The shared-gram estimate of a [[sketchPairs]] row by
    * inclusion-exclusion |A∩B| = |A| + |B| − |A∪B|, clamped at 0. */
  private[operators] def sketchShared: Column =
    greatest(lit(0L),
      round(expr("hll_sketch_estimate(sk_a)")
        + expr("hll_sketch_estimate(sk_b)")
        - expr("hll_sketch_estimate(hll_union(sk_a, sk_b))"))
        .cast("long"))

  /** The `approx = true` path of [[dupMatrixOf]] — and the shape
    * that actually changes the 100 TB plan, not just a buffer size:
    * [[sketchPairs]] over the same [[spanGrams]]. The exact path's
    * per-gram source-set shuffle is GONE — the only pairwise work is
    * |sources|² arithmetic on kilobyte blobs. Trade documented:
    * inclusion-exclusion error scales with the UNION size (rsd ≈
    * 1.04/√2¹⁸ ≈ 0.2% at lgK=18 — a 256 KB sketch per source, still
    * nothing against a 100 TB gram stream), so intersections far below
    * 0.2% of the union drown in noise — the governance signal this
    * matrix exists for (one source heavily quoting another) sits far
    * above that floor; near-zero estimates are clamped, not emitted.
    * ScaleApproxSpec bands every estimate union-relative against the
    * exact matrix. */
  private def dupMatrixSketchOf(docs: DataFrame, n: Int): DataFrame =
    sketchPairs(spanGrams(docs, n))
      .select(col("source_a"), col("source_b"), sketchShared.as("n_shared"))
      .filter(col("n_shared") > 0L)
      .orderBy("source_a", "source_b")

  /** LSH recall audit: what fraction of the TRUE (exact-Jaccard ≥ t)
    * near-dup pairs does the banded-MinHash candidate path recover —
    * the number that justifies (or indicts) the LSH shortcut before a
    * 100 TB run trusts it. Both sides verify with the SAME exact
    * Jaccard, so the LSH side is a strict subset of the exact side and
    * recall = |LSH| / |exact| needs no pair-level join. Output also
    * carries the miss count — the pairs banding never surfaced.
    *
    * Not SQL-expressible (the banding is the native minhash pipeline)
    * → pinned-frame gate + DedupSpec subset/recall properties.
    *
    * Scale path: the audit enumerates exact pairs, which is Θ(pair
    * mass) = Θ(Σ cluster²) — the ×10 replication rehearsal (SURVEY §6)
    * measured it 52× for 10× data on a worst-case duplicate-heavy
    * corpus. Recall is a RATIO, so at scale audit a deterministic
    * document sample: `sampleOneIn = s` keeps docs with
    * xxhash64(doc_id) ≡ 0 (mod s), shrinking pair work by ~s² while
    * the sampled recall stays an unbiased estimate (both sides run on
    * the SAME subcorpus; content-blind hash sampling does not bias
    * which pairs band together). Default 1 = exact, the verification
    * contract.
    */
  def lshRecallOf(docs: DataFrame, threshold: Double = 0.5,
                  sampleOneIn: Int = 1): DataFrame = {
    require(sampleOneIn >= 1, s"sampleOneIn must be >= 1, got $sampleOneIn")
    val base = if (sampleOneIn == 1) docs
      else docs.filter(pmod(xxhash64(col("doc_id")), lit(sampleOneIn.toLong)) === 0L)
    val exact = jaccardPairsOf(base, threshold)
      .agg(count(lit(1)).as("n_exact"))
    val lsh = dedupJaccardOf(base, threshold)
      .agg(count(lit(1)).as("n_lsh"))
    exact.crossJoin(lsh) // 1 row × 1 row
      .select(lit(threshold).as("threshold"), col("n_exact"), col("n_lsh"),
        (col("n_exact") - col("n_lsh")).as("n_missed"),
        when(col("n_exact") > 0, graft.functions.TextF.round4HalfUp(
          col("n_lsh").cast("double") / col("n_exact").cast("double")))
          .as("recall"))
  }

  /** LSH candidate PRECISION audit — [[lshRecallOf]]'s other half:
    * of the distinct (band, hash)-bucket candidate pairs, what
    * fraction survives the exact-Jaccard verify at `threshold`?
    * Recall says what banding MISSES; precision prices what it COSTS —
    * the verify stage's workload is exactly the candidate count, so
    * 1/precision is the verify-work-per-kept-pair multiplier, the
    * number that decides whether the (bands, rows) split needs
    * retuning before a 100 TB run pays for it (too many bands →
    * recall 1.0 but a verify queue full of junk; too few → cheap but
    * leaky). Same bounded 1-row shape as the recall audit: candidate
    * pairs are Θ(bucket mass), never all-pairs, and the `sampleOneIn`
    * knob prices down the audit by ~1/s² with the same unbiasedness
    * argument (content-blind endpoint sampling).
    *
    * Not SQL-expressible (the banding is the native minhash pipeline)
    * → pinned-frame gate + DedupSpec bound properties. */
  def lshPrecisionOf(docs: DataFrame, threshold: Double = 0.5,
                     sampleOneIn: Int = 1): DataFrame = {
    require(sampleOneIn >= 1, s"sampleOneIn must be >= 1, got $sampleOneIn")
    val base = if (sampleOneIn == 1) docs
      else docs.filter(pmod(xxhash64(col("doc_id")), lit(sampleOneIn.toLong)) === 0L)
    val nCand = lshCandidates(base).agg(count(lit(1)).as("n_candidates"))
    val nKept = dedupJaccardOf(base, threshold)
      .agg(count(lit(1)).as("n_verified"))
    nCand.crossJoin(nKept) // 1 row × 1 row
      .select(lit(threshold).as("threshold"), col("n_candidates"),
        col("n_verified"),
        when(col("n_candidates") > 0, graft.functions.TextF.round4HalfUp(
          col("n_verified").cast("double") / col("n_candidates").cast("double")))
          .as("precision"))
  }

  /** Per-source exact-duplicate rate under [[dedupExact]]'s keep-first
    * (min doc_id per sha256) contract — the per-source quality number
    * behind [[dupMatrixOf]]'s cross-source view: a crawl source with a
    * 30% self-duplication rate gets its mixture weight cut before
    * training. One shuffle on the content hash (the keep-id window),
    * then a bounded source aggregate; rate divides once, 4 dp half-up.
    */
  def dedupRateBySourceOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byHash = Window.partitionBy("h")
    docs
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("h"))
      .withColumn("keep_id", min("doc_id").over(byHash))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
          .as("n_dupes"))
      .select(col("source"), col("n_docs"), col("n_dupes"),
        graft.functions.TextF.round4HalfUp(
          col("n_dupes").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"))
      .orderBy("source")
  }

  /** Staged dedup cascade — cheap-to-expensive, each stage seeing only
    * the previous stage's survivors (how production corpus dedup
    * actually runs: exact hashing removes the byte-identical mass for
    * pennies BEFORE any near-dup machinery pays per-pair): stage 1
    * exact content-hash keep-first; stage 2 transitive near-dup
    * components over exact-Jaccard pairs ([[Components
    * .dedupComponentsOf]] — banded candidates, never all-pairs),
    * keeping one doc per component. Output is the funnel report —
    * per stage n_in / n_removed / n_out plus the end-to-end total —
    * the numbers that justify (or kill) each stage's cost at 100 TB.
    *
    * Shape: the stage-1 keep set is a fact-keyed aggregate; survivors
    * flow to stage 2 via a doc_id equi-join (AQE sizes it); every
    * report row is a 1-row count aggregate — nothing collects. The
    * ordering matters for COST, not correctness of the funnel shape:
    * stage 2's pair mass is Θ(Σ near-dup-cluster²) of the exact-
    * deduped corpus, strictly smaller than on the raw corpus where
    * byte-identical twins inflate every cluster quadratically. */
  def dedupCascadeOf(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val keep1 = docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val s1 = docs.join(keep1, Seq("doc_id"))
      .localCheckpoint(false) // pair side + node side + count share it
    val comp = Components.dedupComponentsOf(s1, threshold)
    val n0 = docs.agg(count(lit(1)).as("n0"))
    val n1 = s1.agg(count(lit(1)).as("n1"))
    val n2 = comp.agg(countDistinct("component").as("n2"))
    n0.crossJoin(n1).crossJoin(n2) // 1 row each by construction
      .select(explode(array(
        struct(lit("1_exact").as("stage"), lit(1).as("ord"),
          col("n0").as("n_in"), (col("n0") - col("n1")).as("n_removed"),
          col("n1").as("n_out")),
        struct(lit("2_jaccard").as("stage"), lit(2).as("ord"),
          col("n1").as("n_in"), (col("n1") - col("n2")).as("n_removed"),
          col("n2").as("n_out")),
        struct(lit("3_total").as("stage"), lit(3).as("ord"),
          col("n0").as("n_in"), (col("n0") - col("n2")).as("n_removed"),
          col("n2").as("n_out")))).as("r"))
      .select(col("r.stage"), col("r.ord"), col("r.n_in"),
        col("r.n_removed"), col("r.n_out"))
      .orderBy("ord")
  }

  /** Exact-substring duplicate spans (the Lee et al. '21 ExactSubstr
    * analog — the sharp end of the span family): every MAXIMAL token
    * run of length ≥ `minLen` whose content appears elsewhere in the
    * corpus (another doc OR another position of the same doc — Lee
    * counts occurrences, catching self-repetition) is reported as a
    * removable span, keeping the corpus-wide FIRST occurrence (min
    * (doc_id, pos)) as the canonical copy. [[graft.operators.Corpus
    * .spanDedupOf]] cuts df≥2 8-gram granules; this finds the longer
    * literal duplications (licenses, boilerplate headers, quoted
    * passages) at their true extent — the report a dedup pass reads
    * before deciding the cut length.
    *
    * Shape, suffix-array-free: positional `minLen`-grams from
    * [[Corpus.leadGrams]] on ONE doc-keyed window pass (no per-position
    * slice lambda — spanDedup's lesson). Hot-key-proof (r17): the
    * per-gram occurrence count and canonical first occurrence come
    * from a map-side-combinable `groupBy(g).agg(count,
    * min(struct(doc_id, pos)))` — the r16 twin windows funnelled a
    * viral license gram's every occurrence through one task, where
    * the aggregate emits one partial row per map task. Only the
    * occ ≥ 2 survivors (the corpus's duplicate mass, the Θ(dup mass)
    * bound every exact-substring method pays) join back against the
    * checkpointed positional-gram frame as an inner equi-join —
    * AQE's skew-join split applies to the probe side, which no
    * window shape allows. Non-canonical duplicated gram starts
    * become [pos, pos+L−1] intervals that merge into maximal spans
    * by the classic running-max island scan on the doc-keyed order
    * (doc-bounded window — fine). Interval merge instead of
    * covered-position explode: the ×L fan-out never materializes.
    */
  /** The pre-checkpoint positional `minLen`-gram frame of
    * [[exactSubstringSpansOf]] — exposed so PlanSpec can pin the
    * scan pruning the checkpoint boundary hides from the outer plan. */
  private[graft] def substrGramFrame(docs: DataFrame, minLen: Int): DataFrame =
    Corpus.leadGrams(Corpus.tokenPositions(docs), minLen)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("g"),
        col("full"))

  def exactSubstringSpansOf(docs: DataFrame, minLen: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minLen > 1, s"minLen must be > 1, got $minLen")
    val grams = substrGramFrame(docs, minLen)
      .localCheckpoint(false) // feeds the per-gram stats AND the join probe
    val dupGrams = grams
      .groupBy("g").agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("occ") >= 2)
    val ivals = grams
      .join(dupGrams, Seq("g")) // inner: unique grams drop here
      .filter(col("doc_id") =!= col("first.doc_id") ||
        col("pos") =!= col("first.pos")) // canonical copy survives
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + minLen - 1).as("e"))
    val byDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    val ni = when(max("e").over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1)) >= col("s") - 1, 0)
      .otherwise(1)
    ivals
      .withColumn("island", sum(ni).over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("n_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** Duplicate token-inflation audit (the dedup-ROI read): per source,
    * how many tokens the corpus carries vs how many survive exact
    * dedup — `inflation` = total/unique tokens is the average copy
    * count a training run would see per unique token, the number that
    * prices a dedup pass before anyone runs one (the cross-SOURCE
    * overlap twin is `dup_matrix`; this is the within-source scalar).
    *
    * Scale shape: one partial aggregation on (source, md5(text)) —
    * fixed-width 32-char keys, so map-side combine absorbs the
    * duplicate mass exactly where it sits — then a K-row source
    * rollup. Token counts ride the FIRST aggregate (min over equal
    * values: identical texts tokenize identically), so text is
    * scanned once and never shuffled. */
  def dupInflationOf(docs: DataFrame): DataFrame = {
    val perText = docs
      .select(col("source"), md5(col("text")).as("h"),
        TextF.tokenCount(col("text")).cast("long").as("tok"))
      .groupBy("source", "h")
      .agg(count(lit(1)).as("cnt"), min("tok").as("tok"))
    perText.groupBy("source")
      .agg(sum("cnt").as("docs"),
        count(lit(1)).as("distinct_texts"),
        sum(col("cnt") * col("tok")).as("total_tokens"),
        sum((col("cnt") - lit(1L)) * col("tok")).as("dup_tokens"))
      .select(col("source"), col("docs"), col("distinct_texts"),
        col("total_tokens"), col("dup_tokens"),
        TextF.round4HalfUp(col("total_tokens").cast("double")
          / (col("total_tokens") - col("dup_tokens")).cast("double"))
          .as("inflation"))
      .orderBy("source")
  }

  /** Banding-parameter sweep: the LSH knob curve behind rows 16/217
    * measured in ONE pass. Every (bands, rowsPerBand) factorization of
    * the 64-hash signature trades recall for candidate cost — the
    * S-curve 1−(1−t^r)^b says HOW, this measures it on the actual
    * corpus: per config, multi-occupied buckets, candidate pairs
    * (Σ C(bucket,2)), and docs flagged into any bucket. More bands ⇒
    * shorter band hashes ⇒ more collisions ⇒ cost grows as bands rise
    * (the spec pins that monotonicity; exact twins collide under EVERY
    * config because equal signatures slice equal).
    *
    * Scale shape: the signature pass runs ONCE — all four bandings
    * concat into a single explode (a unioned per-config scan would
    * re-run MinHash 4×: no cross-branch CSE) — then one window on the
    * (config, band, hash) bucket key and a 4-row config rollup. Pair
    * mass is counted, never enumerated: Σ(cnt−1) over member rows =
    * 2·Σ C(cnt,2), so no self-join exists at any config. */
  val SweepConfigs: Seq[(Int, Int)] = Seq(32 -> 2, 16 -> 4, 8 -> 8, 4 -> 16)

  def bandingSweepOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allBands = SweepConfigs.map { case (b, r) =>
      transform(sequence(lit(0), lit(b - 1)), i =>
        struct(lit(b).as("bands"), lit(r).as("rpb"), i.as("band"),
          xxhash64(slice(col("sig"), i * r + 1, lit(r))).as("band_hash")))
    }.reduce(concat(_, _))
    val member = signaturesOf(docs)
      .select(col("doc_id"), explode(allBands).as("e"))
      .select(col("e.bands").as("bands"), col("e.rpb").as("rows_per_band"),
        col("e.band").as("band"), col("e.band_hash").as("band_hash"),
        col("doc_id"))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy("bands", "band", "band_hash")))
    member.groupBy("bands", "rows_per_band")
      .agg(
        (sum(when(col("cnt") >= 2, col("cnt") - 1).otherwise(0L)) / 2L)
          .cast("long").as("candidate_pairs"),
        countDistinct(when(col("cnt") >= 2,
          struct(col("band"), col("band_hash")))).as("multi_buckets"),
        countDistinct(when(col("cnt") >= 2, col("doc_id")))
          .as("flagged_docs"))
      .orderBy(col("bands").desc)
  }

  /** Per-doc 8-gram novelty in ARRIVAL order (Lee '21's memorization
    * framing turned into the acquisition read: of this document's
    * distinct 8-grams, how many had never appeared in any EARLIER
    * document? — [[dupInflationOf]] prices duplicate mass corpus-wide,
    * this attributes it along the arrival axis, which is what "is new
    * data still adding information" actually asks): a gram is novel
    * for the doc holding its MINIMUM doc_id (distinct grams per doc,
    * so a within-doc repeat can't self-claim twice), novelty as exact
    * ppm of the doc's gram set. Docs with fewer than 8 tokens have no
    * grams and emit nothing (the strict-shingle contract).
    *
    * Shape (hot-key-proof, r17): the first-seen fold is a map-side-
    * combinable `groupBy(h).agg(min(doc_id))` — a viral boilerplate
    * gram contributes ONE partial row per map task instead of
    * funnelling every occurrence through one window partition (the
    * r16 window-MIN shape put 30% of the corpus in a single task on
    * a single-gram-dominant corpus). Novel counts then fold the
    * |distinct grams|-row first-seen frame by owner doc; per-doc
    * gram totals come map-side from the hashed shingle-SET length.
    * The compact (doc, hash[]) frame checkpoints once (8 B/gram) and
    * feeds both legs — one scan, one tokenize. The final doc-keyed
    * join has unique keys on both sides: no skew anywhere.
    * Nothing pairwise — novelty is a first-seen fold, not a
    * similarity join. */
  private[operators] def ngramNoveltyFrame(docs: DataFrame,
      n: Int = 8): DataFrame = {
    // splitCompat: the novelty oracles tokenize with split(trim(text))
    // — phantom-token convention (r18; output-neutral on this corpus).
    val hs = graft.plans.ColumnBridge.column(graft.plans.ShingleHashes(
      graft.plans.ColumnBridge.expression(col("text")), n, Long.MaxValue,
      strict = true, splitCompat = true))
    val hg = docs
      .select(col("doc_id"), col("source"), hs.as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(false) // feeds the per-doc totals AND the first-seen fold
    val novel = hg
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    hg.select(col("doc_id"), col("source"),
        size(col("hs")).cast("long").as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  def ngramNoveltyOf(docs: DataFrame, n: Int = 8): DataFrame =
    ngramNoveltyFrame(docs, n)
      .select(col("doc_id"), col("source"), col("n_grams"), col("n_novel"),
        expr("CAST((n_novel * 1000000) div n_grams AS BIGINT)")
          .as("novelty_ppm"))
      .orderBy("doc_id")

  /** The acquisition CURVE over [[ngramNoveltyOf]]'s per-doc frame:
    * novel-gram fraction per arrival DECILE (doc_id axis — the
    * synthetic ids are arrival-dense, the production caller's
    * ingest sequence number) — the diminishing-returns read that
    * prices the NEXT batch of data before anyone pays for it: a
    * curve still high at decile 9 says new data keeps adding
    * information; one collapsing to boilerplate says the crawl is
    * saturating.
    *
    * Scale note: the decile is MAP-SIDE id arithmetic off the 1-row
    * bounds broadcast (least(9, (id−min)·10 div span)) — never an
    * ntile over a single-partition fact-scale window. */
  def noveltyCurveOf(docs: DataFrame, n: Int = 8): DataFrame = {
    // the per-doc frame is doc-bounded and feeds BOTH the 1-row id
    // bounds and the decile fold — checkpoint so the gram shuffle
    // (the expensive leg) runs once, not twice (measured 447→~250 s
    // at ×100 before this cut)
    val perDoc = ngramNoveltyFrame(docs, n).localCheckpoint(false)
    val bounds = perDoc.agg(min("doc_id").as("id0"), max("doc_id").as("id1"))
    perDoc
      .crossJoin(broadcast(bounds))
      .select(least(lit(9L),
          expr("((doc_id - id0) * 10) div (id1 - id0 + 1)")).as("decile"),
        col("n_grams"), col("n_novel"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_grams").as("n_grams"),
        sum("n_novel").as("n_novel"))
      .select(col("decile"), col("n_docs"), col("n_grams"), col("n_novel"),
        expr("CAST((n_novel * 1000000) div n_grams AS BIGINT)")
          .as("novelty_ppm"))
      .orderBy("decile")
  }
}
