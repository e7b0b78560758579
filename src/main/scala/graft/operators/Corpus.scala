package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextF
import Behavior.Dec

/** Corpus-preparation operators a training-data pipeline runs beyond
  * dedup: PII redaction, benchmark decontamination, vocabulary stats,
  * and deterministic stratified sampling.
  *
  * Scale design (100 TB): redaction and sampling keys are map-side
  * expression work; decontamination broadcasts the (small) benchmark
  * n-gram set and probes it map-side, so the corpus never shuffles on
  * anything but the final per-doc aggregate; vocabulary counting is a
  * two-level aggregate with map-side partial combine.
  */
object Corpus {

  // Redaction patterns. No lookahead, no \s (Java's \s includes
  // vertical tab, RE2's does not) — Java regex (Spark) and RE2
  // (DuckDB oracle) must match identically on every input.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Chain-redact emails → phones → IPs (ordered so no placeholder
    * re-triggers a later pattern). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      IpRe, "[IP]")

  /** The text with deterministic contact strings planted (doc_id-keyed,
    * same construction in the DuckDB oracle — the pattern
    * `variant_extract` established): the synthetic corpus carries no
    * real ones. */
  private def plantedPii: Column = concat(
    col("text"),
    when(col("doc_id") % 3 > 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com")))
      .otherwise(lit("")),
    when(col("doc_id") % 2 === 0,
      concat(lit(" call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0.1")))
      .otherwise(lit("")))

  /** PII scrub over documents: counts and redacts the [[plantedPii]]
    * strings. Output carries md5 of the redacted text so the full
    * transformation is hash-compared, not just the counts. */
  def piiRedactOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), plantedPii.as("synth"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("synth"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("synth"), lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("synth"), lit(IpRe), lit(0))).as("n_ips"),
        md5(redactPii(col("synth"))).as("redacted_md5"))
      .orderBy("doc_id")

  /** Per-source PII incidence report — the governance DASHBOARD over
    * [[piiRedactOf]]'s per-doc transform: how many documents in each
    * source carry each PII class, and the per-doc hit rates, so a
    * release review sees WHERE contact data concentrates before any
    * redaction runs. Same planted-pattern construction and the same
    * RE2/Java-identical regexes as the redactor (one contract, two
    * views). ONE map-side projection counts all three classes per doc;
    * one bounded source aggregate; rates divide once, 4 dp half-up.
    */
  def piiBySourceOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("source"),
        size(regexp_extract_all(plantedPii, lit(EmailRe), lit(0))).as("e"),
        size(regexp_extract_all(plantedPii, lit(PhoneRe), lit(0))).as("p"),
        size(regexp_extract_all(plantedPii, lit(IpRe), lit(0))).as("i"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e") > 0, 1L).otherwise(0L)).as("docs_with_email"),
        sum(when(col("p") > 0, 1L).otherwise(0L)).as("docs_with_phone"),
        sum(when(col("i") > 0, 1L).otherwise(0L)).as("docs_with_ip"),
        sum(col("e") + col("p") + col("i")).cast("long").as("total_hits"))
      .select(col("source"), col("n_docs"), col("docs_with_email"),
        col("docs_with_phone"), col("docs_with_ip"), col("total_hits"),
        TextF.round4HalfUp(col("total_hits").cast("double")
          / col("n_docs").cast("double")).as("hits_per_doc"))
      .orderBy("source")
  }

  /** The per-doc SET of strict token `n`-gram hashes (63-bit xxhash64,
    * one native [[graft.plans.ShingleHashes]] pass): the gram every
    * span operator here shares. A doc shorter than `n` tokens has none. */
  private def strictGrams(n: Int): Column =
    graft.plans.ColumnBridge.column(graft.plans.ShingleHashes(
      graft.plans.ColumnBridge.expression(col("text")), n, Long.MaxValue,
      strict = true))

  /** Benchmark decontamination: a corpus document is contaminated if it
    * shares any token `n`-gram with a benchmark document (here: the
    * `benchSource` slice of the corpus stands in for the eval set).
    * Strict shingles — a document shorter than `n` tokens contributes
    * nothing, it does NOT fall back to unigrams (single shared words
    * must not poison the whole corpus).
    *
    * 100 TB shape: benchmark n-gram sets are MB-scale → broadcast; the
    * corpus side probes the broadcast map-side and only (doc_id,
    * matched-gram) survivors shuffle into the per-doc count.
    */
  def decontaminateOf(docs: DataFrame, benchSource: String = "src0",
                      n: Int = 8): DataFrame = {
    require(n > 1, s"n-gram order must be > 1, got $n")
    // Grams travel as 63-bit xxhash64 values from the one-pass strict
    // [[graft.plans.ShingleHashes]], not as joined token strings: the
    // composable strictShingles form re-enters its interpreted lambda
    // per gram position (re-tokenizing the doc each time), and hashing
    // also shrinks the broadcast + join keys ~6×. Collision risk at
    // |bench|·|corpus| gram pairs is ~|B||C|/2⁶³ — nil at any corpus
    // size that fits a cluster.
    val grams = explode(strictGrams(n)).as("g")
    val bench = broadcast(
      docs.filter(col("source") === benchSource).select(grams).distinct())
    val corpus = docs.filter(col("source") =!= benchSource)
    val matched = corpus.select(col("doc_id"), grams)
      .join(bench, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("shared"))
    corpus.select(col("doc_id"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shared"), lit(0L)).as("shared_grams"),
        (coalesce(col("shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Duplicated-span ("boilerplate") statistics: an n-gram is
    * boilerplate when it occurs in at least `minDocs` distinct
    * documents; each document reports how many of its distinct n-grams
    * are boilerplate and the resulting fraction (the CCNet/RefinedWeb
    * duplicated-span signal, computed at gram-set granularity).
    * Documents shorter than n tokens contribute nothing (strict
    * shingles — cf. [[decontaminateOf]]).
    *
    * 100 TB shape (hot-key-proof, r17): per-gram doc frequency is a
    * map-side-combinable `groupBy(g).count` — the r16 COUNT window
    * funnelled a viral gram's every occurrence through one task,
    * where the aggregate emits one partial row per map task. Only
    * the df ≥ minDocs survivors (the corpus's boilerplate mass, the
    * bound every duplicated-span method pays) join back against the
    * gram stream as a LEFT SEMI equi-join — AQE's skew-join split
    * applies to the probe side, which no window shape allows. The
    * per-doc gram totals come map-side from the shingle-SET length;
    * the compact (doc, hash[]) frame checkpoints once and feeds both
    * legs. Final doc-keyed join: unique keys both sides, no skew.
    */
  def boilerplateStatsOf(docs: DataFrame, n: Int = 8, minDocs: Int = 3): DataFrame = {
    require(n > 1, s"n-gram order must be > 1, got $n")
    require(minDocs > 1, s"minDocs must be > 1, got $minDocs")
    val hg = docs.select(col("doc_id"), strictGrams(n).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(false) // feeds the per-doc totals AND the df fold
    val dg = hg.select(col("doc_id"), explode(col("hs")).as("g"))
    val hot = dg.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
    val dup = dg.join(hot, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    hg.select(col("doc_id"), size(col("hs")).cast("long").as("n_grams"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        TextF.round4HalfUp(
          col("n_dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** The (`key`, token, `tf`) whitespace-token count frame every
    * vocabulary and term-statistics operator builds on (map-side
    * combinable). `keep` filters the token stream before it shuffles
    * (BM25's query terms). Empty and whitespace-only texts count one
    * "" token ([[TextF.tokens]]' convention). */
  def tokenTfOf(docs: DataFrame, key: String = "doc_id", tf: String = "tf",
                keep: DataFrame => DataFrame = identity): DataFrame =
    keep(docs.select(col(key), explode(TextF.tokens(col("text"))).as("token")))
      .groupBy(key, "token").agg(count(lit(1)).as(tf))

  /** (doc_id, pos, tok): one row per whitespace-token position. */
  private[operators] def tokenPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(TextF.tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")

  /** Positional `n`-grams over a [[tokenPositions]] frame: (doc_id, pos,
    * g, full), g the xxhash64 of the `n` tokens from pos on — hashed
    * straight from `n − 1` `lead()`s over the (doc, pos) window (native
    * codegen, no per-position interpreted slice lambda; no gram-string
    * concat, so "ab c" and "a bc" hash differently). Only full grams
    * survive. */
  private[operators] def leadGrams(tp: DataFrame, n: Int): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val tail = (1 until n).map(i => lead(col("tok"), i).over(byPos))
    tp.select(col("doc_id"), col("pos"),
        xxhash64((col("tok") +: tail): _*).as("g"),
        tail.last.isNotNull.as("full"))
      .filter(col("full"))
  }

  /** Top-`k` vocabulary ranking over a [[tokenTfOf]] frame — ONE
    * definition, so the OOV-rate evaluator can never drift from the
    * vocabulary builder it scores against. */
  def vocabFromTf(tf: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    tf.groupBy("token").agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .orderBy(col("df").desc, col("cf").desc, col("token"))
      .limit(k)
  }

  /** Vocabulary statistics: per-token document frequency and collection
    * frequency, top `k` by df. Two aggregates: (doc, token) → count
    * (map-side combinable), then token → (df, cf). */
  def vocabDfOf(docs: DataFrame, k: Int = 100): DataFrame =
    vocabFromTf(tokenTfOf(docs), k)

  /** (doc_id, partitionCol, rn, cnt): documents ranked within each
    * partition by (md5(text), doc_id) — the content-keyed order that
    * is reproducible across runs, engines, and cluster sizes (unlike
    * `sample()`). The single rank both samplers share, so a change to
    * the content key can't silently diverge between them.
    *
    * Shape: the grouped two-phase rank decomposition
    * ([[graft.Scale.groupedTwoPhaseRank]]) — a plain
    * Window.partitionBy(lang|source) caps parallelism at the stratum
    * VOCABULARY (~5 here) and real corpora are skewed (one dominant
    * language ≈ the whole corpus through one task), so the rank
    * range-buckets on (h, doc_id) instead and each stratum's
    * per-bucket offsets ride a bounded (strata × buckets)
    * broadcast; `cnt` rides the same bounded frame rather than a
    * stratum-width `count().over`. */
  private def contentRanked(docs: DataFrame, partitionCol: String): DataFrame =
    graft.Scale.groupedTwoPhaseRank(
        docs.select(col("doc_id"), col(partitionCol), md5(col("text")).as("h")),
        partitionCol, Seq(col("h"), col("doc_id")), snapshotInput = false)
      .withColumn("rn", col("__rank").cast("int"))
      .withColumn("cnt", col("__cnt"))
      .drop("__rank", "__cnt")

  /** Deterministic stratified sample: within each language stratum,
    * keep the first ceil(count/denom) of the content-keyed rank.
    * Integer ceil-division avoids float fraction math entirely. */
  def stratifiedSampleOf(docs: DataFrame, denom: Int = 5): DataFrame = {
    require(denom > 0, s"denom must be positive, got $denom")
    contentRanked(docs, "lang")
      .filter(col("rn") <= expr(s"(cnt + ${denom - 1}) div $denom"))
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy("lang", "rn")
  }

  /** Fixed-size token chunking with overlap — the context-window prep
    * step before tokenized training shards are written. Chunks of
    * `window` tokens start every `stride` tokens (stride < window ⇒
    * overlap); the md5 of each chunk's text rides along so the oracle
    * hash-checks CONTENT, not just offsets.
    *
    * Map-only: sequence + slice per row, one explode — no shuffle at
    * all until the final presentation sort. */
  def chunkDocsOf(docs: DataFrame, window: Int = 64,
                  stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs.select(col("doc_id"), TextF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), greatest(col("n") - 1, lit(0)),
          lit(stride))).as("start_tok"))
      // A start whose PREVIOUS chunk already reached the end of the
      // doc contributes only tokens the shard holds already — skip it
      // (a 100-token doc chunks at 0 and 48, not also at 96).
      .filter(col("start_tok") === 0 ||
        col("start_tok") - stride + window < col("n"))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("int").as("chunk_idx"),
        col("start_tok").cast("int").as("start_tok"),
        slice(col("toks"), col("start_tok") + 1, lit(window)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Content-defined chunking (CDC) report — the storage-dedup
    * chunking ([[chunkDocsOf]] cuts at fixed offsets, so one inserted
    * token shifts every later boundary; CDC cuts where a LOCAL
    * content hash fires, so boundaries resynchronize right after an
    * edit and duplicated passages land in identical chunks). Boundary
    * rule: after token i iff the rolling hash of the last-3-token
    * window ≡ 0 (mod `divisor`) — expected chunk length ≈ `divisor`
    * tokens; the window hash reuses [[TextF.rollingFingerprint]]'s
    * token-code + Mersenne-modulus arithmetic (int64-safe, bit-equal
    * cross-engine). Output per source: chunk counts, DISTINCT chunk
    * content addresses, and the duplicate-chunk ppm — the
    * "how much would CDC dedup save" number, which the corpus's
    * planted near-dups make nonzero where fixed chunking misses them.
    *
    * Shape: one doc-keyed shuffle carries the lag window, the chunk
    * regroup, AND the ordered reassembly (same key, no second
    * exchange); the per-source fold is bounded. At 100 TB the
    * explode multiplies rows ~token-count×, but everything stays
    * map-local until the one doc-keyed exchange. */
  /** The per-chunk frame behind [[cdcChunksOf]]: (doc_id, source,
    * chunk_id, n_toks, chunk_md5). Exposed so the resync property —
    * prepend one token and every chunk after the first boundary keeps
    * its content address — is testable chunk-by-chunk. */
  def cdcChunkTable(docs: DataFrame, divisor: Int = 16): DataFrame = {
    require(divisor > 1, s"divisor must be > 1, got $divisor")
    val M = 2147483647L
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    docs.select(col("doc_id"), col("source"),
        posexplode(TextF.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("c",
        length(col("tok")).cast("long") * 131L +
          ascii(substring(col("tok"), 1, 1)).cast("long") * 31L +
          ascii(substring(col("tok"), -1, 1)).cast("long"))
      .withColumn("c1", lag("c", 1).over(byPos))
      .withColumn("c2", lag("c", 2).over(byPos))
      .withColumn("b", when(col("c2").isNotNull &&
        expr(s"((c2 * 1000003 + c1) % $M * 1000003 + c) % $M % $divisor") === 0,
        1L).otherwise(0L))
      .withColumn("chunk_id", coalesce(sum("b").over(
        byPos.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy("doc_id", "source", "chunk_id")
      .agg(count(lit(1)).as("n_toks"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")))).as("chunk_md5"))
  }

  def cdcChunksOf(docs: DataFrame, divisor: Int = 16): DataFrame = {
    cdcChunkTable(docs, divisor)
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct("chunk_md5").as("distinct_chunks"),
        sum("n_toks").as("tot"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("distinct_chunks"),
        expr("((n_chunks - distinct_chunks) * 1000000) div n_chunks")
          .as("dup_chunk_ppm"),
        TextF.round4HalfUp(col("tot").cast("double")
          / col("n_chunks").cast("double")).as("mean_chunk_toks"))
      .orderBy("source")
  }

  /** Greedy sequence packing (concat-and-split): documents are laid
    * end-to-end in (source, doc_id) order and cut into fixed
    * `budget`-token training sequences; each doc reports the sequence
    * its first token lands in and its offset there. The running total
    * is a prefix-sum window — per SOURCE, not global, so the window
    * shuffle partitions by shard key instead of serializing the whole
    * corpus through one partition (the way a real pipeline packs
    * within shards). */
  def packGreedyOf(docs: DataFrame, budget: Int = 256): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val bySource = Window.partitionBy("source").orderBy("doc_id")
    docs.select(col("doc_id"), col("source"),
      TextF.tokenCount(col("text")).as("n_tokens"))
      .withColumn("start_off",
        sum("n_tokens").over(bySource).cast("long") - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start_off div $budget").as("seq_id"),
        expr(s"start_off % $budget").as("seq_offset"))
      .orderBy("source", "doc_id")
  }

  /** Deterministic train/val/test split (~90/5/5) keyed on
    * md5(doc_id:text): content+identity addressed, so re-runs, engine
    * swaps, and cluster re-partitioning never move a document between
    * splits (the property `sample()` lacks). Buckets compare the first
    * two hex chars: 0x00-0xe5 train (230/256), 0xe6-0xf2 val (13/256),
    * 0xf3-0xff test (13/256). Pure map-side. */
  def trainSplitOf(docs: DataFrame): DataFrame = {
    val bucket = substring(
      md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))), 1, 2)
    docs.select(col("doc_id"), bucket.as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < "e6", "train")
          .when(col("bucket") < "f3", "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Stratified k-fold assignment for cross-validation: within each
    * language stratum, documents take folds round-robin along the
    * content-keyed rank ([[stratifiedSampleOf]]'s `contentRanked`
    * frame — one ordering, three consumers), so every fold holds
    * ⌈n_lang/k⌉ or ⌊n_lang/k⌋ docs of each language and the
    * assignment survives re-runs, engine swaps, and repartitioning
    * (the property a seeded shuffle lacks). One window on the bounded
    * stratum key; pure integer arithmetic. */
  def kfoldAssignOf(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    contentRanked(docs, "lang")
      .select(col("doc_id"), col("lang"),
        ((col("rn") - 1) % k).cast("int").as("fold"))
      .orderBy("doc_id")
  }

  /** Fold-balance audit over [[kfoldAssignOf]]'s assignment — the
    * check a CV harness runs before trusting fold variance (a fold
    * starved of one language reads as model noise): per language,
    * the smallest and largest fold populations and the exact-ppm
    * imbalance (max − min)·10⁶ div max. Round-robin within stratum
    * guarantees ≤ 1 doc of spread BY CONSTRUCTION — the audit's
    * value is exactly that it would catch the assignment REGRESSING
    * (a hash swap, a stratum key typo) the moment it happens.
    *
    * Shape: the assignment's own frames + one bounded (lang, fold)
    * aggregate and a lang fold — nothing fact-scale beyond the
    * assignment itself.
    *
    * Edge read: min_fold_n ranges over folds PRESENT for the
    * language, so a fold with ZERO docs of a rare language (stratum
    * smaller than k) surfaces as n_folds < k, not min_fold_n = 0 —
    * audit the n_folds column alongside imbalance_ppm. */
  def kfoldBalanceOf(docs: DataFrame, k: Int = 5): DataFrame = {
    kfoldAssignOf(docs, k)
      .groupBy("lang", "fold").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(sum("n").as("n_docs"), count(lit(1)).as("n_folds"),
        min("n").as("min_fold_n"), max("n").as("max_fold_n"))
      .select(col("lang"), col("n_docs"), col("n_folds"),
        col("min_fold_n"), col("max_fold_n"),
        expr("CAST(((max_fold_n - min_fold_n) * 1000000)" +
          " div max_fold_n AS BIGINT)").as("imbalance_ppm"))
      .orderBy("lang")
  }

  /** Inverse-frequency class weights (the sklearn "balanced" formula
    * with additive smoothing): w_c = N / (K · (n_c + α)) — what a
    * trainer multiplies into the loss so rare languages are not
    * drowned by the head class. α > 0 caps the weight a
    * nearly-empty class can claim. ONE bounded-key aggregate; the
    * totals ride a window over the K-row frame; one division, 4 dp
    * half-up. */
  def classWeightsOf(docs: DataFrame, alpha: Int = 0): DataFrame = {
    require(alpha >= 0, s"alpha must be >= 0, got $alpha")
    val all = Window.partitionBy(lit(1))
    docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("n_total", sum("n_docs").over(all))
      .withColumn("n_classes", count(lit(1)).over(all))
      .select(col("lang"), col("n_docs"),
        TextF.round4HalfUp(col("n_total").cast("double")
          / (col("n_classes").cast("double")
            * (col("n_docs") + lit(alpha)).cast("double"))).as("weight"))
      .orderBy("lang")
  }

  /** Weighted corpus mixing: per-source keep fractions (curated
    * sources oversampled relative to bulk crawl — the data-mixture
    * knob every pretraining run tunes). Deterministic: within each
    * source, documents take the shared [[contentRanked]] order and
    * the top ceil(frac·count) survive, so the mixture is reproducible
    * across runs, engines, and partitionings. One window over the
    * source key (= shard key), one map-side filter. */
  def mixSourcesOf(docs: DataFrame, weights: Map[String, Double],
                   defaultFrac: Double): DataFrame = {
    require((weights.values.toSeq :+ defaultFrac).forall(f => f >= 0 && f <= 1),
      s"fractions must be in [0,1]: $weights default=$defaultFrac")
    val frac = weights.foldLeft(lit(defaultFrac)) { case (acc, (src, f)) =>
      when(col("source") === src, lit(f)).otherwise(acc)
    }
    contentRanked(docs, "source")
      .withColumn("keep_n", ceil(frac * col("cnt")).cast("long"))
      .filter(col("rn") <= col("keep_n"))
      .select(col("doc_id"), col("source"), col("rn"))
      .orderBy("source", "rn")
  }

  /** Temperature-balanced mixture design (α = 0.5): sampling weights
    * w_i ∝ √n_i, the standard up-weighting of small sources relative
    * to proportional sampling (multilingual/multi-source pretraining
    * practice; α is FIXED at 0.5 because `sqrt` is the one power IEEE
    * 754 requires correctly rounded — both JVMs and C libms return the
    * identical double, while a libm `pow` does not reproduce across
    * engines). Weights quantize to integer micro-units before the
    * normalizing sum, so fractions are partition-order independent;
    * target document counts come from one identically-parenthesized
    * double expression. The per-source frame is K rows — the compute
    * after the one count aggregate is trivial at any corpus size.
    */
  def sourceTemperatureOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("qw", Behavior.micro(sqrt(col("n_docs"))))
    val totals = counts.agg(sum("n_docs").as("total_docs"),
      sum("qw").as("qwsum"))
    counts.crossJoin(totals)
      .select(col("source"), col("n_docs"),
        TextF.round4HalfUp(
          col("qw").cast("double") / col("qwsum").cast("double")).as("frac"),
        floor(col("qw").cast("double") * col("total_docs").cast("double") /
          col("qwsum").cast("double")).cast("long").as("target_docs"))
      .orderBy("source")
  }

  /** Duplicated-span REMOVAL (the transform [[boilerplateStatsOf]] only
    * reports): every token position covered by an n-gram that occurs in
    * at least `minDocs` distinct documents is cut, and the surviving
    * tokens are reassembled in order (the RefinedWeb/CCNet
    * exact-substring dedup step, at token-gram granularity). Output
    * hash-checks the reassembled CONTENT (md5), not just counts — cf.
    * [[piiRedactOf]].
    *
    * Positional grams can't come from [[graft.plans.ShingleHashes]]
    * (it de-duplicates into a SET); instead ONE posexploded token frame
    * is materialized and grams form as [[leadGrams]] — no per-position
    * interpreted slice lambda (the 7× trap
    * [[graft.functions.TextF.bigramPairs]] documents).
    *
    * 100 TB shape: the token frame shuffles once on doc_id (the window)
    * and once on the gram hash (the df aggregate); covered positions
    * are a bounded ×n fan-out of MATCHED starts only, and the final
    * reassembly re-uses the doc_id shuffle. Common grams are joined,
    * not broadcast — the duplicated-gram table of a 100 TB crawl is
    * itself unbounded (AQE may still broadcast a small one).
    */
  def spanDedupOf(docs: DataFrame, n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n > 1, s"n-gram order must be > 1, got $n")
    require(minDocs > 1, s"minDocs must be > 1, got $minDocs")
    // (doc_id, pos, tok): two consumers (gram build, reassembly) —
    // materialize once (no cross-branch CSE in Catalyst).
    val tp = tokenPositions(docs).localCheckpoint(false)
    // Materialized: the window is the expensive pass and BOTH the df
    // aggregate and the candidate join consume it, keyed differently
    // (distinct on (g, doc) vs join on g — ReuseExchange can't help).
    val grams = leadGrams(tp, n)
      .select("doc_id", "pos", "g")
      .localCheckpoint(false)
    val common = grams.select("g", "doc_id").distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select("g")
    // Covered positions collapse straight to ONE small array per doc
    // (collect_set dedups overlapping spans inside the aggregate) and
    // the reassembly joins two doc-count-sized frames — no row-level
    // (doc, pos) join, no standalone distinct; the bounded ×n span
    // fan-out exists only inside the doc-keyed shuffle. covered
    // descends from tp, so its key is renamed (self-join ambiguity).
    val covered = grams.join(common, "g")
      .select(col("doc_id").as("cdoc"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("cpos"))
      .groupBy("cdoc").agg(collect_set(col("cpos")).as("cov"))
    val docToks = tp.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("tok"))))
        .as("toks"))
    docToks
      .join(covered, col("doc_id") === col("cdoc"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        md5(concat_ws(" ",
          transform(
            filter(col("toks"), x => !array_contains(col("cov"), x.getField("pos"))),
            x => x.getField("tok")))).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Deterministic weighted sampling without replacement (A-Res family,
    * Efraimidis-Spirakis): a document with integer weight w draws w
    * pseudo-uniforms md5(doc_id:i) and keeps the MAX as its sort key —
    * max of w uniforms ≡ u^(1/w) in distribution, but stays in exact
    * hex-string space both engines order identically (the
    * libm-free trick; `pow` would differ in the last ulp). Top-k keys
    * win. Weights here derive from length (1 + n_chars div 500, capped
    * 10) — the "longer docs carry more signal" sampling a mixture
    * builder uses.
    *
    * 100 TB shape: bounded ×10 fan-out, map-side-combinable MAX, and
    * the global top-k is TakeOrderedAndProject (per-partition heaps →
    * driver merge of k·P rows), never a full sort.
    */
  def weightedSampleOf(docs: DataFrame, k: Int = 100): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    docs
      .select(col("doc_id"),
        (lit(1L) + least(expr("n_chars div 500"), lit(9L))).as("weight"))
      .select(col("doc_id"), col("weight"),
        explode(sequence(lit(1L), col("weight"))).as("i"))
      .select(col("doc_id"), col("weight"),
        md5(concat(col("doc_id").cast("string"), lit(":"),
          col("i").cast("string"))).as("u"))
      .groupBy("doc_id", "weight").agg(max("u").as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(k)
  }

  /** Group-aware train/val split: the bucket hash is keyed on the
    * GROUP (source), not the document, so every document of a source
    * lands in the same split — the leakage guarantee
    * sklearn's GroupShuffleSplit provides and [[trainSplitOf]]
    * deliberately does not (near-duplicate docs within one source
    * can't straddle train/val and inflate eval). Pure map-side; same
    * hex-bucket arithmetic as trainSplit: 0x00-0xcb train (204/256),
    * 0xcc-0xe5 val (26/256), 0xe6-0xff test (26/256).
    */
  def groupedSplitOf(docs: DataFrame): DataFrame = {
    val bucket = substring(md5(col("source")), 1, 2)
    docs.select(col("doc_id"), col("source"), bucket.as("bucket"))
      .select(col("doc_id"), col("source"), col("bucket"),
        when(col("bucket") < "cc", "train")
          .when(col("bucket") < "e6", "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Length-bucketed batch assignment — the inference-serving twin of
    * [[packGreedyOf]]: docs of similar token length batch together so
    * per-batch padding (to the batch max) stays small. Buckets are
    * n_tokens div `bucketWidth`; within a bucket, docs take batches of
    * `batchSize` in doc_id order; `padding` reports the per-doc cost
    * of its batch's max length.
    *
    * One shuffle: row_number partitions by bucket, and the batch-max
    * window's (bucket, batch_id) requirement is satisfied by the SAME
    * bucket partitioning (partitioning exprs ⊂ clustering exprs), so
    * Spark plans no second exchange.
    */
  def lengthBatchingOf(docs: DataFrame, bucketWidth: Int = 64,
                       batchSize: Int = 32): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0,
      s"need positive bucketWidth/batchSize, got $bucketWidth/$batchSize")
    val byBucket = Window.partitionBy("bucket").orderBy("doc_id")
    val byBatch = Window.partitionBy("bucket", "batch_id")
    docs
      .select(col("doc_id"), TextF.tokenCount(col("text")).as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .withColumn("rn", row_number().over(byBucket))
      .withColumn("batch_id", expr(s"(rn - 1) div $batchSize"))
      .withColumn("pos_in_batch", expr(s"CAST((rn - 1) % $batchSize AS BIGINT)"))
      .withColumn("padding",
        max("n_tokens").over(byBatch) - col("n_tokens"))
      .select("doc_id", "n_tokens", "bucket", "batch_id", "pos_in_batch",
        "padding")
      .orderBy("doc_id")
  }

  /** Shared-prefix groups — the KV-cache reuse analysis an inference
    * fleet runs over its corpus: documents whose first `prefixLen`
    * tokens are identical can share one prefix cache entry, saving
    * (n_docs − 1) · prefixLen prefill tokens per group. Groups key on
    * md5 of the joined prefix (cross-engine; a raw token string key
    * would hash the same but bloat the shuffle). Docs shorter than the
    * prefix contribute nothing (strict semantics, cf.
    * [[decontaminateOf]]).
    *
    * Map-side prefix extraction (one slice, no explode), one
    * aggregate; only ≥ 2-member groups survive.
    */
  def prefixCacheGroupsOf(docs: DataFrame, prefixLen: Int = 8): DataFrame = {
    require(prefixLen > 0, s"prefixLen must be positive, got $prefixLen")
    docs
      .select(col("doc_id"), TextF.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= prefixLen)
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("toks"), 1, prefixLen))).as("prefix_key"))
      .groupBy("prefix_key")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("cache_owner"))
      .filter(col("n_docs") >= 2)
      .select(col("prefix_key"), col("n_docs"), col("cache_owner"),
        ((col("n_docs") - 1) * prefixLen).as("tokens_saved"))
      .orderBy("prefix_key")
  }

  /** Mixture plan: given a total token `budget`, the per-language
    * sampling fraction that yields a UNIFORM language mix — the
    * planning table [[mixSourcesOf]] then executes. Each language's
    * target is min(available, budget div n_langs) (integer division —
    * a language short of its equal share contributes all it has; the
    * slack is REPORTED as `unfilled`, not silently reassigned, so the
    * plan stays one deterministic pass). One token aggregate on the
    * bounded lang key; n_langs rides a window over that frame; one
    * division per row, rounded 4 dp.
    */
  def mixturePlanOf(docs: DataFrame, budget: Long = 100000L): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val all = Window.partitionBy(lit(1))
    docs
      .select(col("lang"), TextF.tokenCount(col("text")).cast("long").as("t"))
      .groupBy("lang")
      .agg(sum("t").as("available_tokens"))
      .withColumn("n_langs", count(lit(1)).over(all))
      .select(col("lang"), col("available_tokens"),
        least(col("available_tokens"), expr(s"$budget div n_langs"))
          .as("target_tokens"),
        (expr(s"$budget div n_langs") -
          least(col("available_tokens"), expr(s"$budget div n_langs")))
          .as("unfilled"),
        TextF.round4HalfUp(
          least(col("available_tokens"), expr(s"$budget div n_langs"))
            .cast("double") / col("available_tokens").cast("double"))
          .as("sample_frac"))
      .orderBy("lang")
  }

  /** Water-filling token-budget allocation across sources — the
    * mixture upgrade of [[mixturePlanOf]]: instead of REPORTING the
    * slack of short sources, redistribute it. With capacities sorted
    * ascending, source i is fully funded iff the budget left after
    * fully funding the i−1 smaller sources covers giving every
    * remaining source at least c_i (`c_i·(n−i+1) ≤ B − cum_{i−1}` —
    * the classic greedy water-fill test, monotone in i); every source
    * above the last fully-funded one gets the integer water level
    * λ = (B − cum_{i*}) div (n − i*). Exact integers end to end; the
    * ≤(n−i*) flooring remainder is reported as `undistributed`, never
    * silently assigned (mixturePlan's contract). Budget beyond the
    * corpus degrades cleanly: everyone fully funded, the surplus is
    * the reported remainder.
    *
    * Shape: ONE token aggregate on the bounded source key; the solve
    * is windows over that |sources|-row frame (global-order windows
    * are fine there — the frame is dimension-sized by construction,
    * like [[mixturePlanOf]]'s n_langs window). */
  def waterfillBudgetOf(docs: DataFrame, budget: Long = 15000L): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val byCap = Window.orderBy(col("cap"), col("source"))
    val all = Window.partitionBy(lit(1))
    docs
      .select(col("source"), TextF.tokenCount(col("text")).cast("long").as("t"))
      .groupBy("source")
      .agg(sum("t").as("cap"))
      .withColumn("i", row_number().over(byCap).cast("long"))
      .withColumn("cum", sum("cap").over(byCap)) // unique order key → running sum
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("is_full",
        col("cap") * (col("n") - col("i") + 1L) <= lit(budget) - (col("cum") - col("cap")))
      .withColumn("istar", max(when(col("is_full"), col("i")).otherwise(0L)).over(all))
      .withColumn("cumstar", max(when(col("is_full"), col("cum")).otherwise(0L)).over(all))
      .withColumn("alloc_tokens",
        when(col("is_full"), col("cap"))
          .otherwise(expr(s"($budget - cumstar) div (n - istar)")))
      .withColumn("undistributed", lit(budget) - sum("alloc_tokens").over(all))
      .select(col("source"), col("cap").as("available_tokens"),
        col("alloc_tokens"), col("is_full").as("fully_funded"),
        TextF.round4HalfUp(col("alloc_tokens").cast("double")
          / col("cap").cast("double")).as("sample_frac"),
        col("undistributed"))
      .orderBy("source")
  }

  /** Token-count histogram on power-of-two buckets (bucket =
    * ⌊log₂ n⌋ + 1 via the BINARY-STRING LENGTH — no libm log): the
    * length-distribution view that sizes [[lengthBatchingOf]]'s
    * buckets and [[chunkDocsOf]]'s windows. Map-side bucket + one
    * bounded aggregate. Empty docs (0 tokens… impossible under the
    * tokenizer's trim, but NULL-safe) land in bucket 0. */
  def tokenLenHistogramOf(docs: DataFrame): DataFrame = {
    val n = TextF.tokenCount(col("text")).cast("long")
    docs
      .select(when(n > 0, length(bin(n))).otherwise(0).as("bucket"), n.as("t"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("total_tokens"),
        min("t").as("min_tokens"), max("t").as("max_tokens"))
      .select(col("bucket"),
        // bucket 0 (empty docs): shiftleft(1L, -1) masks the shift to
        // 63 and yields Long.MinValue — emit the true 0/0 range instead.
        when(col("bucket") > 0, expr("shiftleft(1L, bucket - 1)"))
          .otherwise(lit(0L)).as("bucket_lo"),
        (expr("shiftleft(1L, bucket)") - 1L).as("bucket_hi"),
        col("n_docs"), col("total_tokens"), col("min_tokens"),
        col("max_tokens"))
      .orderBy("bucket")
  }

  /** Padding-waste audit per length bucket — the cost
    * [[lengthBatchingOf]] exists to avoid, MEASURED (the number that
    * justifies length-bucketed batching to whoever pays the GPU
    * bill): if every doc in a power-of-two length bucket
    * ([[tokenLenHistogramOf]]'s grid) pads to the bucket's observed
    * max, what share of the batch is padding? waste_ppm =
    * (n·max − Σlen)·10⁶ div (n·max), exact integers end to end;
    * the corpus-level row rides along so the headline "x% of
    * compute is padding without bucketing vs y% with" is one
    * report.
    *
    * Shape: one map-side counting scan, a ≤ 64-row bucket rollup +
    * a 1-row global fold (global max via the bounded bucket frame,
    * not a second scan). */
  def paddingWasteOf(docs: DataFrame): DataFrame = {
    val n = TextF.tokenCount(col("text")).cast("long")
    val buckets = docs
      .select(when(n > 0, length(bin(n))).otherwise(0).as("bucket"),
        n.as("t"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("total_tokens"),
        max("t").as("max_tokens"))
      .localCheckpoint(false) // per-bucket rows + the global fold
    val wastePpm = expr(s"CAST((CAST(n_docs AS $Dec) * max_tokens - total_tokens)" +
      s" * 1000000 div NULLIF(CAST(n_docs AS $Dec) * max_tokens, 0)" +
      s" AS BIGINT)").as("pad_waste_ppm")
    val perBucket = buckets.select(col("bucket").cast("long").as("bucket"),
      col("n_docs"), col("max_tokens"), col("total_tokens"), wastePpm)
    val global = buckets.agg(sum("n_docs").as("n_docs"),
        sum("total_tokens").as("total_tokens"),
        max("max_tokens").as("max_tokens"))
      .select(lit(-1L).as("bucket"), col("n_docs"), col("max_tokens"),
        col("total_tokens"), wastePpm)
    perBucket.unionByName(global).orderBy("bucket")
  }

  /** DSIR-style importance weights for data selection (Xie et al.
    * '23): score every raw document by how target-domain-like its
    * hashed-unigram profile is, so a selection pass can sample raw
    * data toward a target distribution. Features are md5-prefix
    * buckets (3 hex chars → 4096 — md5 renders identically in Spark
    * and DuckDB, the train_split precedent; a 64-bit engine hash
    * would be oracle-unportable). Per-bucket evidence is the
    * Laplace-smoothed frequency ratio
    * ((ct+1)/(T+B)) / ((cr+1)/(R+B)) — target count over raw count —
    * and a document's weight is its mean per-token ratio. The paper
    * averages LOG ratios; the engine's libm-free rule (bm25's
    * odds-form precedent) keeps the pre-log ratio, trading the
    * geometric mean for an arithmetic one — same direction, documented
    * difference. Per-token ratios quantize to 1e-6 integers before
    * the per-doc sum (partition-order independence), weight rounds
    * to 4 dp.
    *
    * Scale: token stream aggregates map-side to ≤B=4096 bucket rows
    * (fixed-size state) → the ratio table is constant-bounded and
    * BROADCAST back onto the second token pass — the corpus shuffles
    * only on doc_id for the final per-doc sum; nothing driver-side.
    */
  def dsirWeightsOf(docs: DataFrame, targetSources: Seq[String],
                    buckets: Int = 4096): DataFrame = {
    require(targetSources.nonEmpty, "need at least one target source")
    val toks = docs
      .select(col("doc_id"), col("source"),
        explode(TextF.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("source"),
        substring(md5(col("tok")), 1, 3).as("b"))
      .localCheckpoint(false) // counts pass + scoring pass
    val isT = col("source").isin(targetSources: _*)
    val counts = toks.groupBy("b")
      .agg(sum(when(isT, 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    // 1-row totals; crossJoin onto the ≤4096-row bucket frame only
    val totals = toks.agg(
      sum(when(isT, 1L).otherwise(0L)).as("t_tot"), count(lit(1)).as("r_tot"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        Behavior.micro(
          (col("ct") + 1L).cast("double") / (col("t_tot") + buckets).cast("double")
            / ((col("cr") + 1L).cast("double") / (col("r_tot") + buckets).cast("double")))
          .as("r6"))
    toks.join(broadcast(ratios), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("r6").as("sr"))
      .select(col("doc_id"), col("n_tokens"),
        TextF.round4HalfUp(col("sr").cast("double")
          / col("n_tokens").cast("double") / 1e6).as("weight"))
      .orderBy("doc_id")
  }

  /** Curriculum ordering for training (clean-first scheduling): docs
    * rank by quality DESC — the [[graft.functions.TextF.qualityScore]]
    * contract, one source of truth with the quality_score query — md5
    * tiebreak so equal-quality docs land in a deterministic but
    * content-blind order (the same md5-rank trick as
    * [[stratifiedSampleOf]]; a doc_id tiebreak would correlate
    * curriculum position with crawl order), then split into
    * quality-quartile tiers (ntile 4 over the same total order) and
    * fixed-size training batches of `batchSize` in curriculum order.
    * A curriculum run feeds batch 0, 1, 2… — so the (tier, batch_id)
    * columns ARE the schedule; the quality column survives for audit.
    *
    * Shape: the global rank runs the two-phase decomposition
    * ([[graft.Scale.twoPhaseRank]] — quality-range buckets from a
    * map-side sketch, per-bucket counts to a bounded offset literal,
    * rank = offset + bucket-local row_number), so NO single-partition
    * window exists in the plan at any scale; ntile(4) derives from
    * the same rank arithmetically ([[graft.Scale.ntileFromRank]],
    * bit-identical to the window function). Only the narrow
    * (id, quality, tie) triple rides the decomposition — it is
    * materialized once (localCheckpoint inside the helper) so the
    * regex-heavy quality score computes one time, not three.
    * Everything downstream is per-row arithmetic. */
  def curriculumOrderOf(docs: DataFrame, batchSize: Int = 64): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val triples = docs
      .select(col("doc_id"),
        TextF.qualityScore(col("text"), TextAnalysis.Stopwords).as("quality"),
        md5(col("doc_id").cast("string")).as("tie"))
    // keyAsc = -quality: an ascending proxy of the DESC leading key.
    val (ranked, total) = graft.Scale.twoPhaseRank(triples,
      Seq(col("quality").desc, col("tie"), col("doc_id")))
    ranked
      .withColumn("rank", col("__rank") - 1L)
      .withColumn("tier", graft.Scale.ntileFromRank("__rank", 4, total))
      .select(col("doc_id"), col("quality"), col("rank"), col("tier"),
        expr(s"rank div $batchSize").as("batch_id"))
      .orderBy("rank")
  }

  /** Sentence-level duplication rate per source — the C4-style
    * boilerplate read at SENTENCE granularity ([[boilerplateStatsOf]]
    * measures 8-gram span mass per DOC; C4's actual rule deduplicates
    * three-sentence spans, and nav/footer/disclaimer boilerplate
    * repeats as whole sentences across a source's pages — the unit a
    * cleaning pass would actually drop): sentences split on terminal
    * punctuation runs `[.!?]+` (identical regex semantics in both
    * engines — no lookbehind, RE2-safe), trimmed, short fragments
    * (< `minChars` chars) ignored; a sentence INSTANCE is duplicated
    * iff its corpus-wide occurrence count ≥ 2.
    *
    * Shape: ONE map-combinable (source, md5-sentence) aggregate
    * (md5 keeps the shuffle key 32 bytes instead of sentence text);
    * the corpus-wide count rides a hash-partitioned window over that
    * aggregated frame (the [[graft.operators.Similarity]] MMD
    * complement trick — never a per-instance self-join), then one
    * ≤|sources| rollup. Exact ppm. */
  def sentenceDedupOf(docs: DataFrame, minChars: Int = 20,
                      approx: Boolean = false): DataFrame = {
    require(minChars > 0, s"minChars must be positive, got $minChars")
    if (approx) return sentenceDedupSketchOf(docs, minChars)
    val perSrc = docs
      .select(col("source"),
        explode(split(col("text"), "[.!?]+")).as("raw"))
      .select(col("source"), trim(col("raw")).as("s"))
      .filter(length(col("s")) >= minChars)
      .groupBy(col("source"), md5(col("s")).as("h"))
      .agg(count(lit(1)).as("c"))
      .withColumn("total", sum("c").over(Window.partitionBy("h")))
    perSrc.groupBy("source")
      .agg(count(lit(1)).as("n_distinct_sentences"),
        sum("c").as("n_sentences"),
        sum(when(col("total") >= 2L, col("c")).otherwise(0L))
          .as("n_dup_instances"))
      .select(col("source"), col("n_sentences"),
        col("n_distinct_sentences"), col("n_dup_instances"),
        expr("(n_dup_instances * 1000000) div n_sentences")
          .as("dup_ppm"))
      .orderBy("source")
  }

  /** The `approx = true` path of [[sentenceDedupOf]]: the exact
    * form shuffles every distinct sentence of the corpus as a 32-byte
    * md5 key — fact-scale distinct state. The sketch twin splits the
    * two published masses by what each actually needs: the DISTINCT
    * count folds into a fixed-size HLL per source (rsd 2%, map-side
    * combinable, no distinct shuffle at all), and the DUP-instance
    * mass is measured exactly on a deterministic 1/4 sample of the
    * sentence-KEY space (`pmod(xxhash64(s), 4) = 0` — sampling keys,
    * not instances, keeps every occurrence of a sampled sentence, so
    * the within-sample dup structure is the true one and ×4 is an
    * unbiased scale-up; hash-deterministic, so the pinned oracle
    * reproduces bit-stably). Total instances stay exact (a plain
    * combinable count). The only fact-scale distinct-keyed shuffle
    * left carries 1/4 of the keys at 8 bytes each vs all of them at
    * 32. ScaleApproxSpec bands both estimates per source. */
  private def sentenceDedupSketchOf(docs: DataFrame, minChars: Int): DataFrame = {
    val sent = docs
      .select(col("source"),
        explode(split(col("text"), "[.!?]+")).as("raw"))
      .select(col("source"), trim(col("raw")).as("s"))
      .filter(length(col("s")) >= minChars)
      .select(col("source"), xxhash64(col("s")).as("h"))
    val tot = sent.groupBy("source")
      .agg(count(lit(1)).as("n_sentences"),
        approx_count_distinct(col("h"), 0.02).as("n_distinct_sentences"))
    val dup = sent
      .filter(pmod(col("h"), lit(4)) === 0)
      .groupBy("source", "h").agg(count(lit(1)).as("c"))
      .withColumn("total", sum("c").over(Window.partitionBy("h")))
      .groupBy("source")
      .agg((sum(when(col("total") >= 2L, col("c")).otherwise(0L)) * 4L)
        .as("n_dup_instances"))
    tot.join(dup, Seq("source"), "left")
      .select(col("source"), col("n_sentences"), col("n_distinct_sentences"),
        coalesce(col("n_dup_instances"), lit(0L)).as("n_dup_instances"))
      .select(col("source"), col("n_sentences"),
        col("n_distinct_sentences"), col("n_dup_instances"),
        expr("(n_dup_instances * 1000000) div n_sentences")
          .as("dup_ppm"))
      .orderBy("source")
  }

  /** Pairwise 8-gram overlap matrix between sources — the provenance
    * read that names WHO shares content with WHOM
    * ([[graft.operators.Components]]' cross_source_dup_share says how
    * much near-dup mass crosses ANY source boundary; licensing/
    * provenance triage needs the pair: which provider pairs share
    * text, and how much): per source-pair, the count of distinct
    * strict 8-grams present in BOTH, with the exact-ppm Jaccard
    * shared/(|A|+|B|−shared).
    *
    * Shape: [[strictGrams]] as a (source, g) frame, one distinct
    * (gram, source) aggregate (the fact's only heavy shuffle), then
    * [[Dedup.sourcePairs]]' per-gram sorted source set and map-side
    * pair explode — never a gram-keyed self-join; per-source totals
    * ride the SAME frame as a ≤|sources|-row broadcast. Output is
    * ≤ C(|sources|,2) rows. */
  def sourceOverlapMatrixOf(docs: DataFrame, n: Int = 8,
                            approx: Boolean = false): DataFrame = {
    require(n > 1, s"n-gram order must be > 1, got $n")
    if (approx) return sourceOverlapSketchOf(docs, n)
    val gs = sourceGrams(docs, n)
      .groupBy("g", "source").agg(count(lit(1)).as("_c")).drop("_c")
      .localCheckpoint(false) // feeds the pair explode AND the totals
    val totals = gs.groupBy("source").agg(count(lit(1)).as("tot"))
    Dedup.sourcePairs(gs, "shared_grams")
      .join(broadcast(totals.select(col("source").as("source_a"),
        col("tot").as("tot_a"))), "source_a")
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("tot").as("tot_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        col("tot_a"), col("tot_b"),
        expr("""(shared_grams * 1000000)
               | div (tot_a + tot_b - shared_grams)""".stripMargin)
          .as("jaccard_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** (source, g): every [[strictGrams]] hash of every document. */
  private def sourceGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("source"), explode(strictGrams(n)).as("g"))

  /** The `approx = true` path of [[sourceOverlapMatrixOf]] — the
    * r16 ×100 rehearsal's 51× leader, because the exact path's
    * distinct (gram, source) aggregate shuffles every distinct gram
    * of a 100 TB corpus. The sketch twin runs [[Dedup.sketchPairs]]
    * with the matrix's own output contract: totals are per-source
    * HLL estimates and shared mass is [[Dedup.sketchShared]]'s
    * inclusion-exclusion over the |sources|-row sketch frame. The
    * distinct shuffle AND the per-gram collect_set/pair explode are
    * GONE — the only pairwise work is |sources|² arithmetic on
    * kilobyte blobs. Error scales with the pair's UNION (rsd ≈ 0.2%
    * at lgK=18), so jaccard_ppm for pairs far below that floor drowns
    * in noise — the provenance signal this matrix triages sits well
    * above it; non-positive estimates are clamped out, mirroring the
    * exact path's shared ≥ 1 row contract. ScaleApproxSpec bands
    * every cell union-relative against the exact matrix. */
  private def sourceOverlapSketchOf(docs: DataFrame, n: Int): DataFrame =
    Dedup.sketchPairs(sourceGrams(docs, n))
      .select(col("source_a"), col("source_b"),
        round(expr("hll_sketch_estimate(sk_a)")).cast("long").as("tot_a"),
        round(expr("hll_sketch_estimate(sk_b)")).cast("long").as("tot_b"),
        Dedup.sketchShared.as("shared_grams"))
      .filter(col("shared_grams") > 0L)
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        col("tot_a"), col("tot_b"),
        expr("""(shared_grams * 1000000)
               | div (tot_a + tot_b - shared_grams)""".stripMargin)
          .as("jaccard_ppm"))
      .orderBy("source_a", "source_b")

  /** Train/val/test split leakage audit — the MEASUREMENT of what
    * [[trainSplitOf]]'s doc-keyed hash deliberately permits and
    * [[groupedSplitOf]]'s group key prevents: near-duplicate pairs
    * straddling split boundaries (a test doc whose near-twin sits in
    * train is a leaked answer — eval reads memorization as skill).
    * Composes the exact-Jaccard pair machinery
    * ([[Dedup.jaccardPairsOf]], Bayardo prefix + PPJoin length
    * pruning) with the split assignment: per unordered split pair,
    * the near-dup pair count, its ppm share of all near-dup pairs
    * (exact integer div), and the cross-split flag. The honest read
    * of a content-hash split: ~90·5·2 ppm-scale cross mass is
    * EXPECTED; zero only comes from group- or cluster-keyed splits.
    *
    * Scale: the pair generation is the audited [[Dedup.jaccardPairsOf]]
    * shape (its §6 rehearsals apply verbatim); the split join adds two
    * hash joins on doc_id and a ≤6-row rollup with a 1-row total
    * broadcast. */
  def splitLeakageOf(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.jaccardPairsOf(docs, threshold)
      .select(col("a_id"), col("b_id"))
    // thin (doc_id, split) frame joined on BOTH pair sides; the pair
    // frame itself feeds the total AND the rollup — checkpoint both
    // or each reference re-runs its whole upstream pipeline
    val splits = trainSplitOf(docs).select(col("doc_id"), col("split"))
      .localCheckpoint(false)
    val tagged = pairs
      .join(splits.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("split", "sa"), Seq("a_id"))
      .join(splits.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("split", "sb"), Seq("b_id"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .localCheckpoint(false)
    val total = tagged.agg(count(lit(1)).as("tot"))
    tagged.groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(total))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        expr("CAST(n_pairs * 1000000 div tot AS BIGINT)").as("share_ppm"),
        (col("split_a") =!= col("split_b")).as("cross_split"))
      .orderBy("split_a", "split_b")
  }

  /** Deterministic per-epoch shuffle order for multi-epoch training
    * (the data-ordering contract a trainer needs WITHOUT a stateful
    * random shuffle: every epoch visits every doc once, in an order
    * that is decorrelated from every other epoch's, reproducible
    * across runs/engines/partitionings): position = two-phase rank of
    * md5("ep" ‖ epoch ‖ ":" ‖ doc_id) within the epoch
    * ([[graft.Scale.groupedTwoPhaseRank]] — range buckets + bounded
    * offset broadcast, never a single-partition window over the
    * corpus). Returns (epoch, doc_id, pos). */
  def epochShuffleOf(docs: DataFrame, epochs: Int = 3): DataFrame = {
    require(epochs >= 2 && epochs <= 64, s"epochs in [2,64], got $epochs")
    val tagged = docs.select(col("doc_id"))
      .withColumn("epoch", explode(array((0 until epochs).map(lit(_)): _*)))
      .withColumn("key", md5(concat(lit("ep"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
    graft.Scale.groupedTwoPhaseRank(tagged, "epoch",
      Seq(col("key"), col("doc_id")), snapshotInput = false)
      .select(col("epoch"), col("doc_id"), col("__rank").as("pos"))
  }

  /** The registered audit over [[epochShuffleOf]]: per epoch pair,
    * the mean absolute rank displacement as ppm of n — the
    * decorrelation read (independent uniform permutations sit near
    * 333333 ppm = n/3; ~0 would mean the "shuffle" repeats an order
    * and the trainer sees the same batch neighborhoods every epoch).
    * Σ|Δpos| folds in decimal(38,0) (it crosses int64 at the ×1000
    * corpus: n²·1e6/3 ≈ 8·10¹⁸ at 5M docs); the ppm is one exact
    * integer division. */
  def epochShuffleAuditOf(docs: DataFrame, epochs: Int = 3): DataFrame = {
    // referenced as BOTH pair sides — uncheckpointed, the whole
    // two-phase rank would run twice
    val pos = epochShuffleOf(docs, epochs).localCheckpoint(false)
    val a = pos.select(col("epoch").as("epoch_a"), col("doc_id"),
      col("pos").as("pa"))
    val b = pos.select(col("epoch").as("epoch_b"), col("doc_id"),
      col("pos").as("pb"))
    a.join(b, Seq("doc_id"))
      .filter(col("epoch_a") < col("epoch_b"))
      .groupBy("epoch_a", "epoch_b")
      .agg(count(lit(1)).as("n_docs"),
        sum(abs(col("pa") - col("pb")).cast(Dec)).as("sd"))
      .select(col("epoch_a"), col("epoch_b"), col("n_docs"),
        expr(s"CAST((sd * 1000000) div (CAST(n_docs AS $Dec) * n_docs) AS BIGINT)")
          .as("mean_disp_ppm"))
      .orderBy("epoch_a", "epoch_b")
  }
}
