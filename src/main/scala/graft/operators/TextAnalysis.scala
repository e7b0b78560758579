package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.functions.TextF.{round4HalfUp => r4}
import graft.sources.Tables
import Behavior.Dec

/** Text-analysis family over `documents`: token counting, per-group
  * stats, quality scoring, fingerprinting, language ID. All map-side
  * expression work + one aggregation shuffle — the 100 TB shape.
  */
object TextAnalysis {

  val Stopwords: Seq[String] = Seq("the", "a")

  /** Token counts per source (whitespace tokenization). The per-doc
    * count is materialized in a projection FIRST — referencing
    * `TextF.tokenCount` in both aggregates would split every document
    * twice (interpreted expressions get no common-subexpression
    * elimination; see the lang-ID history). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), TextF.tokenCount(col("text")).as("n_tok"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum("n_tok").as("total_tokens"),
        max("n_tok").as("max_tokens"))
      .orderBy("source")

  /** Whitespace vs BPE-ish token counts per document — the number a
    * training-data pipeline budgets corpus cost by. One map-side pass,
    * no shuffle except the output sort. */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextF.tokenCount(col("text")).as("n_tokens_ws"),
        TextF.bpeTokenCount(col("text")).as("n_tokens_bpe"))
      .orderBy("doc_id")

  /** Bland–Altman agreement between the chars/4 token-budget
    * heuristic and the real BPE-style counter (Bland-Altman '86 —
    * the measurement-agreement read tokenizer_efficiency's mean
    * fertility stops short of): every budget conversation starts
    * from "tokens ≈ characters / 4"; per doc d = ⌊chars/4⌋ − BPE
    * count, published as the bias (mean d), the spread (sd), the 95%
    * limits of agreement mean ± 1.96·sd, and the share of docs
    * OUTSIDE those limits — whether the estimate is systematically
    * off (bias), merely noisy (wide limits), or tail-unreliable
    * (outside mass in specific docs). (The whitespace-vs-BPE pair
    * was measured VACUOUS here — d ≡ 0 on this corpus's punctuation-
    * free text — so the heuristic leg is the one with a real
    * distribution to bound.)
    *
    * Exactness: d is an exact integer per doc; Σd / Σd² ride
    * DECIMAL(38,0); mean/sd/limits are ONE fixed double chain each
    * (sample sd, n−1); the outside test compares the integer d
    * against the UNROUNDED double limits — the same comparison both
    * engines execute. Shape: one map-side projection, one 1-row
    * global aggregate, a second conditional 1-row aggregate against
    * the broadcast limits; no shuffle beyond the two folds. */
  def blandAltmanOf(docs: DataFrame): DataFrame = {
    val d = docs.select(
      (expr("length(text) div 4")
        - TextF.bpeTokenCount(col("text")).cast("long")).as("d"))
      .localCheckpoint(false) // moment fold + outside fold share it
    val mom = d.agg(count(lit(1)).as("n"),
      sum(col("d").cast(Dec)).as("sd1"),
      sum(expr(s"CAST(d AS $Dec) * d")).as("sd2"))
    val lim = mom.select(col("n"), col("sd1"), col("sd2"),
      expr("CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE)").as("mean_d"),
      expr("""sqrt((CAST(sd2 AS DOUBLE)
             |  - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE)
             |    / CAST(n AS DOUBLE))
             |  / NULLIF(CAST(n - 1 AS DOUBLE), 0.0))""".stripMargin)
        .as("sd_d")) // n = 1 → sd NULL (not NaN), limits null-propagate
      .select(col("n"), col("mean_d"), col("sd_d"),
        (col("mean_d") - lit(1.96) * col("sd_d")).as("lo"),
        (col("mean_d") + lit(1.96) * col("sd_d")).as("hi"))
    d.crossJoin(broadcast(lim)) // 1 row by construction
      .agg(max("n").as("n_docs"), max("mean_d").as("m"),
        max("sd_d").as("s"), max("lo").as("l"), max("hi").as("h"),
        sum(when(col("d").cast("double") < col("lo") ||
          col("d").cast("double") > col("hi"), 1L).otherwise(0L))
          .as("n_out"))
      .select(col("n_docs"), r4(col("m")).as("mean_diff"),
        r4(col("s")).as("sd_diff"), r4(col("l")).as("loa_low"),
        r4(col("h")).as("loa_high"),
        expr("(n_out * 1000000) div n_docs").as("outside_ppm"))
      // empty corpus: Spark's global agg over the empty crossJoin
      // yields one all-null row while the oracle's GROUP BY yields
      // zero rows — drop the degenerate row so both engines agree
      .where(col("n_docs").isNotNull && col("n_docs") > 0)
  }

  /** Per-language corpus stats. Ratios are single divisions of exact
    * integer sums — reproducible across engines and partitionings. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum("n_chars").as("total_chars"),
        sum(TextF.tokenCount(col("text"))).as("total_tokens"))
      .select(col("lang"), col("docs"), col("total_chars"), col("total_tokens"),
        round(col("total_chars").cast("double") / col("docs").cast("double"), 4)
          .as("avg_chars"),
        round(col("total_tokens").cast("double") / col("docs").cast("double"), 4)
          .as("avg_tokens"))
      .orderBy("lang")

  /** Per-document quality score (length/punct/stopword heuristics). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextF.qualityScore(col("text"), Stopwords).as("quality"))
      .orderBy("doc_id")

  /** Rolling polynomial document fingerprint (SQL-expressible variant;
    * the xxhash64 [[TextF.contentFingerprint]] is the production key). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextF.rollingFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken '03 —
    * the MOSS scheme): hash every k-token gram, slide a w-hash
    * window, keep each window's MINIMUM — the position-robust
    * fingerprint SAMPLE with the paper's guarantee (any shared run
    * of ≥ w+k−1 tokens shares a selected print) at ~2/(w+1) the full
    * gram density. [[docFingerprint]] keys the whole doc (exact-dup
    * only) and row 198's suffix-gram spans pay full gram mass; this
    * is the storage/bandwidth posture between them — the sampled
    * index a plagiarism/overlap service actually persists. Published
    * per source: doc/gram/selected-print masses, the realized
    * selection density (post per-doc distinct, so ≤ the 2/(w+1)
    * theory line — stated to make the audit readable), distinct and
    * cross-doc-shared print counts (the overlap-candidate signal).
    *
    * Determinism: grams hash as lowercase-hex md5 STRINGS and the
    * window minimum is their LEXICOGRAPHIC min — no hex→int
    * conversion to disagree on; density rides decimal(38,0)
    * (print·10⁶ mass crosses int64 near 10¹³ tokens/source).
    * Docs shorter than k tokens select nothing; 1 ≤ grams < w
    * selects min of what exists (the paper's short-doc convention).
    *
    * Shape: gram hashing, window minima, and the per-doc distinct
    * all happen MAP-SIDE inside array transforms (per-doc bounded);
    * the only fact-scale shuffles are the (source, print) count and
    * the bounded source rollup. */
  def winnowFingerprintsOf(docs: DataFrame, k: Int = 5,
                           w: Int = 4, approx: Boolean = false): DataFrame = {
    require(k >= 1 && w >= 1, s"need k/w positive, got $k/$w")
    val perDoc = docs
      .select(col("source"), col("doc_id"), TextF.tokens(col("text")).as("toks"))
      .select(col("source"), col("doc_id"),
        expr(s"""CASE WHEN size(toks) >= $k THEN
                |  transform(sequence(1, size(toks) - ${k - 1}),
                |    i -> md5(concat_ws(' ', slice(toks, i, $k))))
                |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)
          .as("grams"))
      .select(col("source"), col("doc_id"), size(col("grams")).as("n_grams"),
        expr(s"""CASE WHEN size(grams) >= 1 THEN
                |  array_distinct(
                |    transform(sequence(1, greatest(size(grams) - ${w - 1}, 1)),
                |      j -> array_min(slice(grams, j, $w))))
                |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)
          .as("prints"))
      .localCheckpoint(false) // the doc rollup and the print explode both read it
    val bySource = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_grams").as("n_grams"),
        sum(size(col("prints"))).as("n_prints"))
    // The `approx = true` swap (sentenceDedupSketchOf's recipe):
    // the exact path shuffles every distinct print as a 32-char md5
    // string. Sketch twin: distinct-print mass folds into a fixed
    // HLL per source (rsd 2%, no distinct shuffle); shared-print
    // mass is measured exactly on a deterministic 1/4 sample of the
    // print-KEY space and scaled ×4 (sampling keys keeps every doc's
    // occurrence of a sampled print — unbiased, hash-deterministic).
    val ps = perDoc
      .select(col("source"), col("doc_id"), explode(col("prints")).as("p"))
    val printStats =
      if (!approx)
        ps.groupBy("source", "p")
          .agg(count(lit(1)).as("nd")) // prints are per-doc distinct already
          .groupBy("source")
          .agg(count(lit(1)).as("n_distinct_prints"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_prints"))
      else {
        val dist = ps.groupBy("source")
          .agg(approx_count_distinct(col("p"), 0.02).as("n_distinct_prints"))
        val shared = ps
          .filter(pmod(xxhash64(col("p")), lit(4)) === 0)
          .groupBy("source", "p").agg(count(lit(1)).as("nd"))
          .groupBy("source")
          .agg((sum(when(col("nd") >= 2, 1L).otherwise(0L)) * 4L)
            .as("n_shared_prints"))
        dist.join(shared, Seq("source"), "left")
      }
    bySource.join(printStats, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_grams"), col("n_prints"),
        expr(s"""CAST((CAST(n_prints AS $Dec) * 1000000)
                |  div NULLIF(CAST(n_grams AS $Dec), 0) AS BIGINT)"""
          .stripMargin).as("density_ppm"),
        coalesce(col("n_distinct_prints"), lit(0L)).as("n_distinct_prints"),
        coalesce(col("n_shared_prints"), lit(0L)).as("n_shared_prints"))
      .orderBy("source")
  }

  /** The composite corpus-cleaning pass an LLM-data pipeline runs
    * before training: quality threshold + length band + language
    * allowlist, composed from the primitives above so the whole
    * predicate evaluates in ONE map-side pass over the scan (no
    * intermediate materialization; the lang/length filters reach the
    * parquet reader as pushed filters). */
  def corpusClean(spark: SparkSession, dir: String,
                  minQuality: Double = 0.9, minChars: Int = 100,
                  maxChars: Int = 500,
                  langs: Seq[String] = Seq("en", "es", "de", "fr")): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("lang").isin(langs.map(_.asInstanceOf[Any]): _*) &&
        col("n_chars").between(minChars, maxChars))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextF.qualityScore(col("text"), Stopwords).as("quality"))
      .filter(col("quality") >= minQuality)
      .orderBy("doc_id")

  /** Common-word profiles for the language-ID heuristic (public
    * most-frequent-words lists, truncated). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "you", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une", "que"),
    "zh" -> Seq("的", "一", "是", "不", "了", "人", "我", "在", "有", "他"))

  /** Per-language hit counts packed 12 bits apiece into one long: each
    * profile word maps (via a literal map) to a 1-increment in its
    * language's field, summed in a single interpreted-HOF pass over the
    * tokens. The round-2 form — five `filter(toks, isin(words))`
    * columns — inlined the tokenization into every language (no CSE for
    * interpreted HOFs) and cost 13.5 s at sf0.1. */
  private val LangBits = 12
  private lazy val langMasks: Seq[(String, Long)] = {
    val entries = scala.collection.mutable.LinkedHashMap[String, Long]()
    LangProfiles.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w => entries(w) = entries.getOrElse(w, 0L) + (1L << (LangBits * i)) }
    }
    entries.toSeq
  }

  /** One-pass packed language scores of a text column via the native
    * [[graft.plans.PackedWordScore]] expression — hash lookup per
    * token inside whole-stage codegen (the interpreted
    * aggregate+element_at form scanned all map entries per token). */
  /** Code-switching / language-purity profile per source — the
    * intra-doc mixing read the per-doc [[langId]] argmax throws
    * away (a "en" doc that is 60% English and 40% Spanish stopwords
    * is a translation artifact or a scraped comment thread; a
    * corpus gate that only sees the winner ships it): per doc the
    * five profile-stopword counts, purity = best/total matched,
    * mixed = ≥ `minEvidence` matches from OTHER languages; per
    * source the matched/mixed counts and exact-ppm shares.
    *
    * Exactness: counts via map-side array filters on the SAME
    * lowercased whitespace split and stopword lists as the langId
    * oracle — deliberately NOT the packed native expression, whose
    * 12-bit lanes saturate at 4095 matches/doc (fine for an argmax,
    * wrong for totals on book-length docs); per-doc purity is one
    * integer division, source means are integer-ppm divisions.
    *
    * Shape: one map-side counting scan, one bounded source
    * aggregate. */
  def codeSwitchOf(docs: DataFrame, minEvidence: Long = 2): DataFrame = {
    // tokenize ONCE behind a projection boundary — inlining the
    // split into each language's filter would re-tokenize five
    // times (no CSE for interpreted HOFs; the langScores scaladoc's
    // measured 13.5 s lesson)
    def cnt(words: Seq[String]): Column =
      size(filter(col("toks"),
        x => x.isin(words.map(_.asInstanceOf[Any]): _*))).cast("long")
    val scores = LangProfiles.map { case (_, words) => cnt(words) }
    val total = scores.reduce(_ + _)
    val best = greatest(scores: _*)
    docs
      .select(col("source"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("source"), total.as("total"), best.as("best"))
      .select(col("source"), col("total"), col("best"),
        (col("total") > 0).as("matched"),
        (col("total") - col("best") >= minEvidence).as("mixed"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("matched") && col("mixed"), 1L).otherwise(0L))
          .as("n_mixed"),
        sum(when(col("matched"),
          expr("(best * 1000000) div total")).otherwise(0L)).as("psum"))
      .select(col("source"), col("n_docs"), col("n_matched"), col("n_mixed"),
        expr("CAST((n_mixed * 1000000) div NULLIF(n_matched, 0) AS BIGINT)")
          .as("mixed_share_ppm"),
        expr("CAST(psum div NULLIF(n_matched, 0) AS BIGINT)")
          .as("mean_purity_ppm"))
      .orderBy("source")
  }

  def langScores(text: Column): Column =
    graft.plans.ColumnBridge.column(graft.plans.PackedWordScore(
      graft.plans.ColumnBridge.expression(lower(text)), langMasks, LangBits))

  /** Argmax language from a packed-scores column (ties break on
    * language code; "und" when no profile word matched). Cheap bit
    * ops — safe to evaluate per language off a materialized column. */
  def langPred(packed: Column): Column = {
    val scored = array(LangProfiles.zipWithIndex.map { case ((lang, _), i) =>
      struct(
        shiftrightunsigned(packed, LangBits * i)
          .bitwiseAND(lit((1L << LangBits) - 1)).cast("int").as("score"),
        lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Convenience single-column form (re-evaluates the token pass per
    * language — use the two-projection split in hot paths). */
  def langIdCol(text: Column): Column = langPred(langScores(text))

  /** Predicted vs labeled language per document. Two projections so the
    * non-cheap packed aggregate is materialized once (CollapseProject
    * keeps aliases that are referenced more than once and non-cheap).
    * The synthetic corpus shares one vocabulary across labels, so
    * accuracy is only meaningful on real text (see LangIdSpec); this
    * query exercises the distributed plumbing. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), langScores(col("text")).as("packed"))
      .select(col("doc_id"), col("lang"), langPred(col("packed")).as("pred_lang"))
      .orderBy("doc_id")

  /** Detector evaluation: the (true lang × predicted lang) confusion
    * matrix with per-cell fraction of the true language's documents —
    * the quality report that decides whether the detector's gate
    * thresholds are trustworthy. At most |langs|² cells regardless of
    * corpus size; the row totals come from an unordered window over
    * that bounded frame. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("lang_total",
        sum("n").over(org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      .select(col("lang"), col("pred_lang"), col("n"),
        TextF.round4HalfUp(
          col("n").cast("double") / col("lang_total").cast("double")).as("frac"))
      .orderBy("lang", "pred_lang")

  /** Cohen's kappa of the language detector vs the labeled truth, per
    * source — the chance-corrected agreement scalar behind
    * [[langConfusion]]'s matrix (raw accuracy flatters any detector
    * on a skewed corpus; κ = (p_o − p_e)/(1 − p_e) discounts the
    * agreement a marginal-matching coin would get). Exact integer
    * contingency algebra: p_o's numerator is the diagonal count,
    * p_e's is Σ_class row_marginal·col_marginal on decimal(38,0)
    * (n² crosses int64 at ~3·10⁹ docs per source); each probability
    * is ONE double division in fixed order and κ one nullif-guarded
    * division (NULL when p_e = 1 — a single-class table carries no
    * chance-corrected signal).
    *
    * Shape: one fact aggregate keyed by (source, lang, pred) —
    * ≤ sources·|langs|² cells; marginals, diagonal, and the κ
    * arithmetic all ride that bounded frame (the [[langConfusion]]
    * window pattern, joined per class with full-outer + zero-fill so
    * classes seen only as truth or only as prediction still enter
    * p_e). */
  def cohenKappaOf(docs: DataFrame): DataFrame = {
    val cells = docs
      .select(col("source"), col("lang"), langScores(col("text")).as("packed"))
      .select(col("source"), col("lang"), langPred(col("packed")).as("pred_lang"))
      .groupBy("source", "lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      // bounded (≤ sources·langs² rows); three consumers below
      .localCheckpoint(false)
    val rows = cells.groupBy(col("source"), col("lang").as("cls"))
      .agg(sum("n").as("rt"))
    val cols = cells.groupBy(col("source"), col("pred_lang").as("cls"))
      .agg(sum("n").as("ct"))
    val peNum = rows.join(cols, Seq("source", "cls"), "full_outer")
      .select(col("source"),
        (coalesce(col("rt"), lit(0L)).cast(Dec) *
          coalesce(col("ct"), lit(0L))).as("rc"))
      .groupBy("source").agg(sum("rc").as("pe_num"))
    val totals = cells.groupBy("source")
      .agg(sum("n").as("n_docs"),
        sum(when(col("lang") === col("pred_lang"), col("n"))
          .otherwise(0L)).as("diag"))
    val po = col("diag").cast("double") / col("n_docs").cast("double")
    val pe = col("pe_num").cast("double") /
      (col("n_docs").cast("double") * col("n_docs").cast("double"))
    totals.join(peNum, Seq("source"))
      .select(col("source"), col("n_docs"),
        TextF.round6HalfUp(po).as("po"),
        TextF.round6HalfUp(pe).as("pe"),
        TextF.round6HalfUp((po - pe) / nullif(lit(1.0) - pe, lit(0.0)))
          .as("kappa"))
      .orderBy("source")
  }

  /** Keyword-in-context (KWIC) concordance: every occurrence of the
    * query token with its `ctx` tokens of left/right context — the
    * inspection surface a corpus curator greps before committing to a
    * filter rule (and the classic concordancer output). Entirely
    * map-side: posexplode carries the token array through, the match
    * filter drops non-hits before anything shuffles, and the context
    * windows are two slices of the carried array; only matches reach
    * the presentation sort.
    */
  def kwicSnippetsOf(docs: DataFrame, query: String, ctx: Int = 3): DataFrame = {
    require(ctx > 0, s"ctx must be positive, got $ctx")
    docs
      .select(col("doc_id"), TextF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .filter(col("tok") === query)
      // pos is 0-based, slice is 1-based: left context starts at
      // max(0, pos-ctx)+1 and runs to pos; right starts at pos+2.
      .select(col("doc_id"), col("pos").cast("int").as("pos"),
        concat_ws(" ", slice(col("toks"),
          greatest(col("pos") - ctx, lit(0)) + 1,
          col("pos") - greatest(col("pos") - ctx, lit(0)))).as("left_ctx"),
        col("tok").as("match"),
        concat_ws(" ", slice(col("toks"), col("pos") + 2, lit(ctx)))
          .as("right_ctx"))
      .orderBy("doc_id", "pos")
  }

  // Markup patterns. No lookahead, no \s (the [[Corpus.EmailRe]]
  // rule: Java regex and DuckDB's RE2 must match identically).
  val TagRe = "<[^<>]+>"
  val EntityRe = "&[A-Za-z]{2,8};"

  /** HTML/markup stripping report — the WET-extraction step of a web
    * corpus pipeline: per document, how many tags and character
    * entities the cleaner removed and the md5 of the cleaned text
    * (the transform signature, [[Corpus.piiRedactOf]]'s contract
    * shape). The synthetic corpus is markup-free, so deterministic
    * doc_id-keyed fragments are planted first — same construction in
    * the DuckDB oracle, the pii-family convention. Tags strip before
    * entities (an entity inside a tag must not double-count, and no
    * placeholder can re-trigger the later pattern — the redactor's
    * ordering rule). One map-side pass, no shuffle but the final sort.
    */
  def stripMarkupOf(docs: DataFrame): DataFrame = {
    val synth = concat(
      when(col("doc_id") % 4 === 0,
        concat(lit("<div class=\"d"), (col("doc_id") % 7).cast("string"),
          lit("\"><p>")))
        .otherwise(lit("")),
      col("text"),
      when(col("doc_id") % 4 === 0, lit("</p></div>")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" &amp; tail&nbsp;"), (col("doc_id") % 9).cast("string")))
        .otherwise(lit("")))
    val stripped = regexp_replace(col("synth"), TagRe, "")
    val clean = regexp_replace(stripped, EntityRe, " ")
    docs.select(col("doc_id"), synth.as("synth"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("synth"), lit(TagRe), lit(0))).as("n_tags"),
        size(regexp_extract_all(stripped, lit(EntityRe), lit(0)))
          .as("n_entities"),
        (length(col("synth")) - length(clean)).as("chars_removed"),
        md5(clean).as("clean_md5"))
      .orderBy("doc_id")
  }

  // Mojibake signatures: UTF-8 bytes re-decoded as Latin-1 leave 'Ã'
  // followed by a continuation-byte character, and Windows-1252
  // round-trips leave 'â€¦'-family runs; U+FFFD is a decoder giving
  // up. Literal-alternation only (no classes, no anchors) so the
  // UTF-8 pattern bytes behave identically in Java regex and RE2.
  val MojibakeRe = "Ã.|â€.|�"

  /** Encoding-artifact (mojibake) incidence per source — the screen a
    * crawl pipeline runs before trusting byte-level dedup or language
    * ID (mojibake shifts both). Detects the three classic signatures
    * (UTF-8-as-Latin-1 'Ã'+continuation, Windows-1252 'â€' runs,
    * U+FFFD replacement chars) planted doc_id-keyed into the clean
    * synthetic corpus (the pii-family convention, same construction
    * in the oracle). Per source: affected-doc count and rate, total
    * artifact hits. One map-side regex count + one bounded source
    * aggregate; rates divide once, 4 dp half-up.
    */
  def mojibakeStatsOf(docs: DataFrame): DataFrame = {
    val synth = concat(
      col("text"),
      when(col("doc_id") % 6 === 0, lit(" cafÃ© menu")) // 'café' mis-decoded
        .otherwise(lit("")),
      when(col("doc_id") % 8 === 0, lit(" itâ€™s fine")) // ’ as â€™
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" bad�byte")).otherwise(lit("")))
    docs
      .select(col("source"),
        size(regexp_extract_all(synth, lit(MojibakeRe), lit(0))).as("hits"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("affected_docs"),
        sum("hits").as("artifact_hits"))
      .select(col("source"), col("n_docs"), col("affected_docs"),
        col("artifact_hits"),
        TextF.round4HalfUp(col("affected_docs").cast("double")
          / col("n_docs").cast("double")).as("affected_rate"))
      .orderBy("source")
  }

  /** Unicode-script composition per language label: mean
    * parts-per-million of Latin / CJK / Cyrillic codepoints (explicit
    * codepoint RANGES, not named script classes — Java regex and RE2
    * spell those differently; ranges are engine-identical) — the
    * script-level cross-check on [[langId]] (a "zh"-labeled doc
    * that is 95% Latin is mislabeled or transliterated; a Latin-heavy
    * "ru" shard is mojibake row 204 didn't catch). Counting is
    * subtractive — length(text) − length(strip(text)) — so it runs in
    * two codegen'd string passes per class, no explode. Per-doc
    * fractions quantize to ppm (integer division) before the
    * order-blind per-language mean.
    *
    * Shape: map-only scoring + one bounded (lang) aggregate. */
  def scriptMixOf(docs: DataFrame): DataFrame = {
    val cjk = "[一-鿿぀-ヿ]"
    val latin = "[A-Za-zÀ-ɏ]"
    val cyr = "[Ѐ-ӿ]"
    // BIGINT before the ×1e6: length() is INT, and a doc with >~2147
    // matched chars would overflow int32 (ANSI throw) — the oracle
    // computes the same expression in BIGINT, so widen to match.
    def ppm(re: String) =
      expr(s"((CAST(length(text) AS BIGINT) " +
        s"- length(regexp_replace(text, '$re', ''))) " +
        "* 1000000) div length(text)")
    docs
      .filter(length(col("text")) > 0)
      .select(col("lang"), ppm(latin).as("latin_ppm"),
        ppm(cjk).as("cjk_ppm"), ppm(cyr).as("cyrillic_ppm"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(latin_ppm) div count(1)").as("mean_latin_ppm"),
        expr("sum(cjk_ppm) div count(1)").as("mean_cjk_ppm"),
        expr("sum(cyrillic_ppm) div count(1)").as("mean_cyrillic_ppm"))
      .orderBy("lang")
  }

  /** Per-document readability via the Coleman–Liau index — the
    * syllable-free member of the readability family (CLI = 0.0588·L −
    * 0.296·S − 15.8 with L = letters per 100 words, S = sentences per
    * 100 words: Coleman & Liau '75 fit it to cloze scores on LETTER
    * counts precisely so machines could score text without a
    * hyphenation dictionary — the right variant for a corpus
    * pipeline, and a quality-gate input alongside the stopword/punct
    * ratios of `quality_score`). Letters = [A-Za-z] runs (the
    * `scriptMixOf` class convention), words = the whitespace tokens
    * every counter here shares, sentences = runs of [.!?] clamped to
    * ≥1 so headline-style fragments score rather than divide by zero.
    * The only doubles are the final three-term literal combination in
    * ONE fixed sequence, 4 dp half-up; empty-token docs drop.
    *
    * Shape: map-only over the document scan — three codegen'd regex
    * passes, no shuffle, no state; trivially linear at any corpus
    * size. */
  def readabilityOf(docs: DataFrame): DataFrame = {
    val counted = docs.select(col("doc_id"),
        length(regexp_replace(col("text"), "[^A-Za-z]", ""))
          .cast("long").as("n_letters"),
        TextF.tokenCount(col("text")).cast("long").as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sents"))
      .filter(col("n_words") > 0)
    def d(c: Column) = c.cast("double")
    val cli = lit(0.0588) * (d(col("n_letters")) * 100.0 / d(col("n_words"))) -
      lit(0.296) * (d(col("n_sents")) * 100.0 / d(col("n_words"))) - lit(15.8)
    counted.select(col("doc_id"), col("n_letters"), col("n_words"),
        col("n_sents"), TextF.round4HalfUp(cli).as("cli"))
      .orderBy("doc_id")
  }

  /** Flesch-Kincaid grade level per doc — [[readabilityOf]]'s
    * Coleman-Liau deliberately avoids syllables (letters are safer
    * cross-engine); this is the OTHER classic, with the syllable
    * count as the standard vowel-group heuristic: one [aeiouAEIOU]+
    * run ≈ one syllable, counted over the whole text (per-word
    * min-1 correction intentionally omitted — it needs a per-word
    * explode for a correction that moves the grade by < 0.2 on
    * running text, and the heuristic is documented AS the contract).
    * FK = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.
    * Both regex counts are alternation-free character classes —
    * Java (here) and RE2 (oracle) agree on every input.
    *
    * Shape: map-only per-doc counting, one double chain, 4-dp grid
    * — the [[readabilityOf]] contract verbatim. */
  def fleschKincaidOf(docs: DataFrame): DataFrame = {
    val counted = docs.select(col("doc_id"),
        TextF.tokenCount(col("text")).cast("long").as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sents"),
        regexp_count(col("text"), lit("[aeiouAEIOU]+"))
          .cast("long").as("n_syllables"))
      .filter(col("n_words") > 0)
    def d(c: Column) = c.cast("double")
    val fk = lit(0.39) * (d(col("n_words")) / d(col("n_sents"))) +
      lit(11.8) * (d(col("n_syllables")) / d(col("n_words"))) - lit(15.59)
    counted.select(col("doc_id"), col("n_words"), col("n_sents"),
        col("n_syllables"), TextF.round4HalfUp(fk).as("fk_grade"))
      .orderBy("doc_id")
  }
}
