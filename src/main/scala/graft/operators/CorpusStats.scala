package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.functions.TextF.{round4HalfUp => r4, round6HalfUp => r6}
import Behavior.Dec

/** Corpus-statistics operators a training-data pipeline runs when
  * weighing and filtering documents: TF-IDF term salience, Gopher-style
  * repetition gates, bigram collocation mining, and per-language
  * quality-quantile gating.
  *
  * Scale design (100 TB): every operator is token-explode →
  * map-side-combinable aggregate → narrow join. Cross-engine numeric
  * determinism: scores stick to IEEE +,*,/ (correctly rounded, so
  * bit-identical between Spark and the DuckDB oracle) — never libm
  * transcendentals (ln/log2 differ in the last ulp between engines),
  * which is why idf is the raw ratio (N+1)/(df+1) and collocation
  * salience is the lift ratio rather than log-PMI.
  */
object CorpusStats {

  /** Top-k TF-IDF terms per document. idf = (N+1)/(df+1) (ratio form,
    * see object scaladoc); score = tf · idf, rounded THEN ranked so
    * ordering is on the exact values both engines agree on.
    *
    * Shape: tf is a (doc, token) aggregate (map-side combinable); df
    * is a count WINDOW over tf partitioned by token — a separate df
    * aggregate joined back would re-plan the whole tf subtree for the
    * second consumer (no cross-branch CSE in Catalyst), tokenizing
    * the corpus twice. The 1-row doc count broadcasts; top-k per doc
    * is a WindowGroupLimit (partition-local, no global sort of the
    * scored set). */
  def tfidfTopTermsOf(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tf = Corpus.tokenTfOf(docs)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val score = round(
      col("tf").cast("double") *
        ((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")),
      4)
    val byScore = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
      .crossJoin(broadcast(n)) // 1 row by construction
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        score.as("score"))
      .withColumn("rank", row_number().over(byScore).cast("int"))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Gopher-style repetition gate: distinct-token ratio and the
    * fraction of all bigrams taken by the single most frequent bigram.
    * Boilerplate and looped generations score low on the first and
    * high on the second. `keep` applies the thresholds.
    *
    * n_tokens / n_distinct are per-row expression work; only the
    * (doc, bigram) → max-count aggregate shuffles, and it combines
    * map-side. Docs with < 2 tokens have no bigrams → fraction 0.
    * ONE pass: the per-doc constants ride through the aggregate as
    * group keys and empty-bigram docs survive via explode_outer's
    * null row — a base⋈topBigram join would re-plan the tokenize +
    * bigram projection for the second consumer (no cross-branch CSE
    * in Catalyst). */
  def repetitionStatsOf(docs: DataFrame,
                        minDistinctRatio: Double = 0.3,
                        maxTopBigramFrac: Double = 0.2): DataFrame = {
    val base = docs.select(col("doc_id"), TextF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        TextF.bigramPairs(col("toks"), col("n_tokens")).as("bigrams"))
    base
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        explode_outer(col("bigrams")).as("bg"))
      .groupBy("doc_id", "n_tokens", "n_distinct", "bg")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_tokens", "n_distinct")
      .agg(max(when(col("bg").isNotNull, col("c"))).as("top_bigram_count"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_tokens").cast("double"), 4)
          .as("distinct_ratio"),
        coalesce(col("top_bigram_count"), lit(0L)).as("top_bigram_count"),
        when(col("n_tokens") >= 2,
          round(coalesce(col("top_bigram_count"), lit(0L)).cast("double") /
            (col("n_tokens") - 1).cast("double"), 4))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .withColumn("keep",
        col("distinct_ratio") >= minDistinctRatio &&
          col("top_bigram_frac") <= maxTopBigramFrac)
      .orderBy("doc_id")
  }

  /** Bigram collocation mining by lift: lift(w1,w2) =
    * P(w1 w2) / (P(w1)·P(w2)) over corpus token/bigram totals — the
    * log-free PMI variant (see object scaladoc). Bigrams with count >=
    * minCount, top-k by (count, lift, bigram). The [[pairLift]] frame
    * over adjacent pairs. */
  def collocationsOf(docs: DataFrame, minCount: Long = 5,
                     k: Int = 50): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    pairLift(docs, TextF.bigramPairs(col("toks"), col("n")),
        greatest(col("n") - 1, lit(0)), "c12", minCount)
      .orderBy(col("c12").desc, col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** The (w1, w2, `cnt`, lift) frame both co-occurrence miners share.
    * `pairs` is a per-doc array<struct<w1, w2>> over the tokenized
    * (toks, n) row and `pairTotal` its per-doc pair count; pairs
    * counted at least `minCount` times keep lift = P(pair) /
    * (P(w1)·P(w2)), rounded 4 dp, normalized by the corpus pair and
    * unigram totals (a 1-row broadcast).
    *
    * Two shuffled aggregates (pair counts, unigram counts) + two
    * token-keyed joins. The tokenized frame and the unigram table
    * each feed several consumers, so both materialize once: without
    * the checkpoints, uni's two join consumers and the pair/totals
    * branches re-planned the tokenize under every consumer — four
    * corpus tokenizations (measured: re-tokenizing beats
    * materializing only if the interpreted-HOF tokenize were cheap; it
    * is the dominant cost, so paying it once wins both locally and at
    * scale — a 100 TB caller whose executors can't hold the token
    * frame should persist the uni/pair AGGREGATES to a table and drop
    * the toks checkpoint). */
  private def pairLift(docs: DataFrame, pairs: Column, pairTotal: Column,
                       cnt: String, minCount: Long): DataFrame = {
    val toks = docs
      .select(col("doc_id"), TextF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .localCheckpoint(false)
    val uni = toks.select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c1"))
      .localCheckpoint(false)
    val counted = toks
      .select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as(cnt))
      .filter(col(cnt) >= minCount)
    val totals = toks.agg(
      sum(col("n")).as("n_uni"),
      sum(pairTotal).as("n_pairs"))
    // lift parenthesization mirrors the oracle SQL exactly — IEEE ops
    // are correctly rounded, so same shape ⇒ same bits.
    val lift = round(
      (col(cnt).cast("double") / col("n_pairs").cast("double")) /
        ((col("c1a").cast("double") / col("n_uni").cast("double")) *
          (col("c1b").cast("double") / col("n_uni").cast("double"))),
      4)
    counted
      .join(uni.select(col("token").as("w1"), col("c1").as("c1a")), "w1")
      .join(uni.select(col("token").as("w2"), col("c1").as("c1b")), "w2")
      .crossJoin(broadcast(totals)) // 1 row by construction
      .select(col("w1"), col("w2"), col(cnt), lift.as("lift"))
  }

  /** The unordered token pairs `off` positions apart in a (toks, n)
    * row, as array<struct<w1 = least, w2 = greatest>>: one zip_with of
    * two slices of the token array (map-side, no per-doc window
    * function, no positional self-join — the span-dedup lesson). */
  private def pairsAt(off: Int): Column =
    when(col("n") >= off + 1, zip_with(
      slice(col("toks"), lit(1), col("n") - off),
      slice(col("toks"), lit(off + 1), col("n") - off),
      (a, b) => struct(least(a, b).as("w1"), greatest(a, b).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** Per-language quality gate: keep documents at or above their
    * language's p75 quality score. Exact `percentile` (matches DuckDB
    * `quantile_cont` bit-for-bit after rounding — established by the
    * earnings_percentiles oracle).
    *
    * The per-language stats frame is bounded by the language-code
    * alphabet — a genuine dimension table, safe to `broadcast()` at
    * any corpus size (unlike per-user/per-doc aggregates). */
  def langQualityGateOf(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("lang"),
      TextF.qualityScore(col("text"), TextAnalysis.Stopwords).as("quality"))
    // Whole-partition percentile WINDOW, not an aggregate joined back:
    // the join's second consumer re-planned the quality scoring pass
    // (interpreted-HOF stopword ratios — the expensive part) over the
    // whole corpus (no cross-branch CSE in Catalyst).
    scored
      .withColumn("lang_p75", TextF.round4HalfUp(
        expr("percentile(quality, 0.75)").over(Window.partitionBy("lang"))))
      .filter(col("quality") >= col("lang_p75"))
      .select("doc_id", "lang", "quality", "lang_p75")
      .orderBy("doc_id")
  }

  /** Corpus-LM fluency score (the ratio-form analog of a CCNet/KenLM
    * perplexity filter): train a character-trigram unigram model on
    * the whole corpus, then score each document by its mean trigram
    * corpus-frequency, in parts-per-million. Gibberish and
    * wrong-charset documents score low because their trigrams are
    * rare in the corpus; formulaic text scores high. No libm: the
    * score is `Σ count(g) · 1e6 / (n_grams_doc · total_grams)` — two
    * exact BIGINT sums, one exact ×1e6 (well under 2^53), one IEEE
    * division, one half-up rounding (see object scaladoc; a true
    * log-perplexity would differ in the last ulp between engines).
    *
    * Shape: the explode runs ONCE and collapses straight to per-doc
    * gram counts (doc_id, g, c) — materialized and shared by both
    * consumers (cf. [[Similarity.annHammingOf]]'s packed-code reuse),
    * so the model build, the gram join, and the per-doc score all run
    * over distinct (doc, gram) pairs instead of raw occurrences
    * (Σ_occurrences cnt ≡ Σ_g c·cnt, exactly, in integers). The model
    * is NOT broadcast: a corpus-wide trigram table is bounded
    * (|charset|³) but a 100-TB charset includes CJK, so the join
    * stays a shuffled equijoin AQE may still turn into a broadcast
    * when the observed table is small.
    */
  def lmQualityOf(docs: DataFrame): DataFrame = {
    // Same normalization as TextF.charTrigrams; the window+hash pass
    // is the native expression (interpreted HOF windows and 30M
    // string shuffle keys are the trap lang_id already dodged).
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    val grams = graft.plans.ColumnBridge.column(
      graft.plans.CharNgramHashes(graft.plans.ColumnBridge.expression(norm), 3))
    val docGrams = docs
      .select(col("doc_id"), explode(grams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // two consumers; explode+count runs once
    val model = docGrams.groupBy("g").agg(sum("c").as("cnt"))
    val total = model.agg(sum("cnt").as("total_grams")) // 1 row
    docGrams
      .join(model, "g")
      .groupBy("doc_id")
      .agg(sum("c").as("n_grams"), sum(col("c") * col("cnt")).as("sum_cnt"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_grams"),
        TextF.round4HalfUp(
          col("sum_cnt").cast("double") * lit(1e6) /
            (col("n_grams").cast("double") * col("total_grams").cast("double")))
          .as("score_ppm"))
      .orderBy("doc_id")
  }

  /** Per-document out-of-vocabulary rate against the corpus's own
    * top-k vocabulary (the tokenizer-coverage check run before
    * committing to a vocab size): fraction of token OCCURRENCES not
    * covered by [[Corpus.vocabDfOf]]'s top-k — reused verbatim, so
    * this metric can never drift from the vocabulary builder it
    * evaluates. The vocabulary is k rows BY CONSTRUCTION, so the
    * explicit broadcast is safe at any corpus size (the bounded-side
    * rule the engine's other forced broadcasts follow). Both the
    * vocabulary and the scoring consume ONE materialized (doc, token,
    * tf) frame — occurrence math becomes Σ tf, and the corpus isn't
    * tokenized twice (no cross-branch CSE in Catalyst).
    */
  def oovRateOf(docs: DataFrame, k: Int = 100): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tf = Corpus.tokenTfOf(docs).localCheckpoint(false)
    val vocab = Corpus.vocabFromTf(tf, k)
      .select(col("token"), lit(1L).as("in_vocab"))
    tf.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        TextF.round4HalfUp(
          col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** The Gopher rule measurements over `col("text")`, shared between
    * [[gopherRulesOf]] (per-doc report) and [[corpusCardOf]] (rollup):
    * (n_tokens, mean_word_len, symbol_frac, alpha_frac, n_stop_hits).
    * Ratios round half-up to 4 dp BEFORE any threshold comparison so
    * the gate fires on cross-engine-identical values. */
  private def gopherMeasures: (Column, Column, Column, Column, Column) = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val toks = TextF.tokens(col("text"))
    val nTokens = size(toks)
    // Σ token lengths = chars minus whitespace (exact, no explode).
    val charLen = length(regexp_replace(col("text"), "[ \\t\\n\\f\\r]", ""))
    val meanLen = TextF.round4HalfUp(
      charLen.cast("double") / nTokens.cast("double"))
    val symFrac = TextF.round4HalfUp(
      size(filter(toks, t => t.startsWith("#") || t.contains("...")))
        .cast("double") / nTokens.cast("double"))
    val alphaFrac = TextF.round4HalfUp(
      size(filter(toks, t => t.rlike("[A-Za-z]")))
        .cast("double") / nTokens.cast("double"))
    val stopHits = size(array_intersect(toks, array(stop.map(lit): _*)))
    (nTokens, meanLen, symFrac, alphaFrac, stopHits)
  }

  /** The conjunction gate over [[gopherMeasures]]. */
  private def gopherKeep(minTokens: Int, maxTokens: Int): Column = {
    val (nTokens, meanLen, symFrac, alphaFrac, stopHits) = gopherMeasures
    nTokens >= minTokens && nTokens <= maxTokens &&
      meanLen >= 3.0 && meanLen <= 10.0 &&
      symFrac <= 0.1 && alphaFrac >= 0.8 && stopHits >= 2
  }

  /** Gopher-style quality rule flags (Rae'21 §A1.1, the named ruleset
    * every pretraining filter descends from), one row per document
    * with each rule's measurement AND its boolean — a pipeline tunes
    * thresholds by inspecting the measurements, then gates on `keep`.
    * Rules: token count in [minTokens, maxTokens]; mean word length in
    * [3, 10]; symbol-token fraction (# or … carriers) ≤ 0.1; alphabetic
    * -token fraction ≥ 0.8; at least 2 distinct stopword hits.
    *
    * Whitespace is the EXPLICIT class [ \t\n\f\r] (Java's \s ≠ RE2's
    * \s — the [[graft.operators.Corpus.EmailRe]] rule). Entirely
    * map-side: one projection, no shuffle until the presentation sort;
    * ratios are single IEEE divisions rounded half-up (cross-engine
    * exact, see object scaladoc).
    */
  def gopherRulesOf(docs: DataFrame, minTokens: Int = 50,
                    maxTokens: Int = 100000): DataFrame = {
    val (nTokens, meanLen, symFrac, alphaFrac, stopHits) = gopherMeasures
    docs
      .select(col("doc_id"), nTokens.as("n_tokens"), meanLen.as("mean_word_len"),
        symFrac.as("symbol_frac"), alphaFrac.as("alpha_frac"),
        stopHits.cast("long").as("n_stop_hits"))
      .withColumn("keep",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_frac") <= 0.1 && col("alpha_frac") >= 0.8 &&
          col("n_stop_hits") >= 2)
      .orderBy("doc_id")
  }

  /** Inverted-index construction (the retrieval-side build over a
    * training corpus): per term, document frequency, collection
    * frequency, and the top-`k` postings by term frequency
    * (deterministic (tf DESC, doc_id) tiebreak) for terms appearing in
    * at least `minDf` documents.
    *
    * Two shuffles, deliberately: the (doc, token) tf aggregate
    * combines map-side BEFORE anything moves (the occurrence stream
    * never shuffles raw), then df/cf/rank are all WINDOWS over the one
    * token re-shuffle of the much smaller tf frame. Collapsing to a
    * single token-only shuffle is possible (token ⊂ the group key) but
    * worse at scale: it forfeits map-side combine and concentrates a
    * hot token's raw occurrences in one partition. Separate aggregates
    * joined back would be worse still — two MORE shuffles and a
    * re-planned tokenize (cf. [[tfidfTopTermsOf]]'s df window). Top-k
    * per term is a WindowGroupLimit — partition-local, no global sort.
    */
  def invertedIndexOf(docs: DataFrame, minDf: Long = 5,
                      k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val byToken = Window.partitionBy("token")
    val byTf = byToken.orderBy(col("tf").desc, col("doc_id"))
    Corpus.tokenTfOf(docs)
      .withColumn("df", count(lit(1)).over(byToken))
      .withColumn("cf", sum("tf").over(byToken))
      .withColumn("rank", row_number().over(byTf).cast("int"))
      .filter(col("df") >= minDf && col("rank") <= k)
      .select("token", "df", "cf", "doc_id", "tf", "rank")
      .orderBy("token", "rank")
  }

  /** BM25 retrieval scoring for a fixed query, odds-form: the term
    * weight keeps Robertson–Spärck Jones' pre-log odds
    * (N − df + 0.5)/(df + 0.5) instead of its log (the engine's
    * libm-free rule — log only reorders scores monotonically per term;
    * with multi-term SUMS the ranking can differ from log-BM25, which
    * is the documented trade). tf saturation is the standard
    * k1/b form with len/avgdl expanded to len·N/total_tokens (exact
    * integers, one IEEE division). Per-term scores quantize to 1e-6
    * integers before the per-doc sum (partition-order independence),
    * then top-k docs by (score DESC, doc_id).
    *
    * Shape: the token explode filters to the query list map-side
    * (pushdown before any shuffle), so the tf aggregate shuffles only
    * matching (doc, term) pairs; df is a term-partition window on that
    * same shuffle; doc lengths ride the corpus scan once; the 1-row
    * totals frame broadcasts.
    */
  def bm25SearchOf(docs: DataFrame, query: Seq[String],
                   k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "empty query")
    require(k > 0, s"k must be positive, got $k")
    val lens = docLengths(docs)
    bm25SearchOf(docs, _.filter(col("token").isin(query: _*)), lens,
      lens.agg(count(lit(1)).as("n_docs"), sum("len").as("total_tokens")),
      k, k1, b)
  }

  /** (doc_id, len): whitespace-token length per doc, materialized — every
    * BM25 pass joins it and its 1-row totals fold reads it. */
  private def docLengths(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        TextF.tokenCount(col("text")).cast("long").as("len"))
      .localCheckpoint(false)

  /** The one BM25 pass: the query terms are whatever `terms` keeps of
    * the (doc_id, token) stream; `lens` is [[docLengths]] and `totals`
    * its 1-row (n_docs, total_tokens) fold. */
  private def bm25SearchOf(docs: DataFrame, terms: DataFrame => DataFrame,
                           lens: DataFrame, totals: DataFrame, k: Int,
                           k1: Double, b: Double): DataFrame = {
    val tf = Corpus.tokenTfOf(docs, keep = terms)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
    val lenNorm = col("len").cast("double") * col("n_docs").cast("double") /
      col("total_tokens").cast("double")
    val w = (col("tf").cast("double") * (k1 + 1) /
      (col("tf").cast("double") + lit(k1) * (lit(1 - b) + lit(b) * lenNorm))) *
      ((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    tf.join(lens, "doc_id")
      .crossJoin(broadcast(totals)) // 1 row by construction
      .select(col("doc_id"), col("token"),
        Behavior.micro(w).as("qw"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        TextF.round4HalfUp(sum("qw").cast("double") / 1e6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Pseudo-relevance-feedback retrieval (Rocchio '71 via the modern
    * RM/PRF recipe): run [[bm25SearchOf]], treat its top-`fDocs`
    * docs as relevant, mine the `mTerms` highest-weight expansion
    * terms from them (feedback term frequency × ratio-idf — the
    * vocabulary-mismatch fix: a query says "merge", the relevant
    * docs also say "join", the second pass finds docs that only say
    * "join"), re-run BM25 with the expanded query. The second-pass
    * stage the sparse stack ([[bm25SearchOf]] → `hybrid_search`)
    * was missing.
    *
    * Determinism: expansion weights are EXACT integers — tfb ×
    * ((N·10⁶) div df) on decimal(38,0) (ratio-idf on the ppm grid;
    * N·10⁶ crosses int64 at ~9·10⁹ docs) — ranked (weight DESC,
    * token); seed terms, [[graft.operators.TextAnalysis.Stopwords]]
    * and 1-char tokens are excluded from expansion; both passes are
    * [[bm25SearchOf]]'s one BM25 pass (default k1/b), over one shared
    * doc-length frame.
    *
    * Shape: pass 1 is [[bm25SearchOf]]; the candidate mine joins
    * the corpus against a BROADCAST fDocs-row feedback set; the
    * corpus-df pass semi-joins the bounded candidate vocabulary
    * map-side; pass 2 is one more filtered scan. Four fact scans
    * total, every intermediate frame bounded. */
  def prfSearchOf(docs: DataFrame, query: Seq[String] =
                    Seq("spark", "merge", "window"),
                  fDocs: Int = 5, mTerms: Int = 3,
                  k: Int = 20): DataFrame = {
    require(query.nonEmpty && fDocs > 0 && mTerms > 0 && k > 0,
      s"need nonempty query and positive fDocs/mTerms/k")
    val stop = graft.operators.TextAnalysis.Stopwords
    val lens = docLengths(docs)
    val totals = lens.agg(count(lit(1)).as("n_docs"),
      sum("len").as("total_tokens")).localCheckpoint(false)
    def bm25Pass(terms: DataFrame => DataFrame, topK: Int): DataFrame =
      bm25SearchOf(docs, terms, lens, totals, topK, 1.2, 0.75)
    val fb = bm25Pass(_.filter(col("token").isin(query: _*)), fDocs)
      .select(col("doc_id")).localCheckpoint(false)
    val banned = (stop ++ query).map(_.asInstanceOf[Any])
    val cand = docs.join(broadcast(fb), "doc_id")
      .select(explode(TextF.tokens(col("text"))).as("token"))
      .filter(length(col("token")) >= 2 && !col("token").isin(banned: _*))
      .groupBy("token").agg(count(lit(1)).as("tfb"))
      .localCheckpoint(false) // the df pass and the weight rank read it
    val dfc = docs
      .select(col("doc_id"), explode(TextF.tokens(col("text"))).as("token"))
      .join(broadcast(cand.select("token")), Seq("token"), "left_semi")
      .distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val expTerms = cand.join(dfc, "token")
      .crossJoin(broadcast(totals))
      .select(col("token"),
        expr(s"""CAST(tfb AS $Dec)
                |  * ((CAST(n_docs AS $Dec) * 1000000) div df)"""
          .stripMargin).as("wq"))
      .orderBy(col("wq").desc, col("token")).limit(mTerms)
      .select(col("token"))
    val allTerms = {
      import docs.sparkSession.implicits._
      query.toDF("token").union(expTerms).distinct().localCheckpoint(false)
    }
    bm25Pass(_.join(broadcast(allTerms), Seq("token"), "left_semi"), k)
  }

  /** Dataset card per (lang, source) — the one-table summary a corpus
    * release ships: document count, whitespace and BPE-ish token
    * totals (the two costing bases, [[TextF.tokenCount]] /
    * [[TextF.bpeTokenCount]]), mean quality score, and the fraction
    * passing the Gopher gate ([[gopherKeep]]).
    *
    * ONE map-side projection computes every per-doc measure, then one
    * map-side-combinable aggregate on the bounded (lang, source) key —
    * a single fact scan, a single shuffle of partial aggregates.
    * Determinism: per-doc quality is already on the 1e-4 grid, so its
    * 1e4-scaled integer rides an exact BIGINT sum (doubles would sum
    * order-dependently); each mean is one IEEE division chain rounded
    * half-up at the end.
    */
  def corpusCardOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("lang"), col("source"),
        TextF.tokenCount(col("text")).cast("long").as("t_ws"),
        TextF.bpeTokenCount(col("text")).cast("long").as("t_bpe"),
        TextF.grid4(TextF.qualityScore(col("text"), TextAnalysis.Stopwords))
          .as("qq"),
        when(gopherKeep(50, 100000), 1L).otherwise(0L).as("keep"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("t_ws").as("tokens_ws"), sum("t_bpe").as("tokens_bpe"),
        sum("qq").as("qsum"), sum("keep").as("n_keep"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("tokens_ws"), col("tokens_bpe"),
        r4(col("qsum").cast("double") / col("n_docs").cast("double")
          / lit(1e4)).as("mean_quality"),
        r4(col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("gopher_keep_frac"))
      .orderBy("lang", "source")
  }

  /** Exact ROC AUC of the quality score as a classifier of `lang ==
    * posLang`, per source — "does the quality heuristic separate the
    * target language?" is the calibration question asked before gating
    * a corpus on it. Mann-Whitney form with tie credit ½, computed
    * WITHOUT the P×N pairwise join: scores collapse to per-(source,
    * score) positive/negative counts, one ordered pass accumulates
    * negatives-below, and 2·U = Σ np·(2·cum_nn_below + nn) stays in
    * exact integers until the single final division (rounded half-up,
    * 6 dp). Sources with no positives or no negatives are excluded
    * (AUC undefined).
    *
    * Scale: the fact-scale shuffle is the (source, score) aggregate —
    * map-side combinable; the ordered pass is a window over the
    * DISTINCT-SCORE frame, bounded by the 1e-4 score grid (≤ ~10⁴ rows
    * per source), not by corpus size. */
  def aucQualityOf(docs: DataFrame, posLang: String = "en"): DataFrame = {
    val w = Window.partitionBy("source").orderBy("score")
    val below = w.rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("source"),
        TextF.qualityScore(col("text"), TextAnalysis.Stopwords).as("score"),
        when(col("lang") === posLang, 1L).otherwise(0L).as("pos"))
      .groupBy("source", "score")
      .agg(sum("pos").as("np"), sum(lit(1L) - col("pos")).as("nn"))
      .withColumn("nn_below", coalesce(sum("nn").over(below), lit(0L)))
      .groupBy("source")
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np") * (lit(2L) * col("nn_below") + col("nn"))).as("u2"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("source"), col("n_pos"), col("n_neg"),
        TextF.round6HalfUp(col("u2").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc"))
      .orderBy("source")
  }

  /** Average precision (PR-AUC) of the quality score as a lang
    * classifier, per source — [[aucQualityOf]]'s sibling on the
    * PRECISION-RECALL plane, the eval that matters when positives are
    * rare: ROC AUC stays flattering under class imbalance (the FPR
    * denominator is the huge negative class), while AP prices every
    * false positive against the small positive class. Step-function
    * AP with sklearn's tie convention: thresholds at DISTINCT scores
    * descending, AP = Σ_blocks (np_b/n_pos)·(cumTP_b/cumAll_b) with
    * precision read at each block's end.
    *
    * Determinism: per-block precision is quantized to an int64 nano
    * grid by integer division ((cumTP·10⁹) div cumAll — exact,
    * positive operands), weighted by the block's positive count in
    * decimal(38,0) (np·10⁹ crosses int64 at 10¹⁰-doc sources), summed
    * order-free; ONE double chain at the edge renders 6 dp.
    *
    * Shape: identical to [[aucQualityOf]] — one (source, score) fact
    * aggregate; the per-source cumulative window rides the SCORE
    * frame, bounded at 10⁴ rows/source by the score's 4-dp grid, not
    * by corpus size. Sources with zero positives drop (AP undefined);
    * zero negatives keeps AP = 1 (unlike ROC AUC, PR handles it). */
  def prAucOf(docs: DataFrame, posLang: String = "en"): DataFrame = {
    val cum = Window.partitionBy("source").orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("source"),
        TextF.qualityScore(col("text"), TextAnalysis.Stopwords).as("score"),
        when(col("lang") === posLang, 1L).otherwise(0L).as("pos"))
      .groupBy("source", "score")
      .agg(sum("pos").as("np"), count(lit(1)).as("nb"))
      .withColumn("cum_tp", sum("np").over(cum))
      .withColumn("cum_all", sum("nb").over(cum))
      .withColumn("tq", expr(
        s"""CAST(np AS $Dec) *
           |  ((CAST(cum_tp AS $Dec) * 1000000000) div CAST(cum_all AS $Dec))
           |""".stripMargin))
      .groupBy("source")
      .agg(sum("np").as("n_pos"), sum(col("nb") - col("np")).as("n_neg"),
        sum("tq").as("sq"))
      .filter(col("n_pos") > 0)
      .select(col("source"), col("n_pos"), col("n_neg"),
        (floor(col("sq").cast("double") / col("n_pos").cast("double")
          / lit(1e3) + lit(0.5)) / lit(1e6)).as("pr_auc"))
      .orderBy("source")
  }

  /** Leave-one-source-out corpus ablation — the governance read
    * behind every mixture decision (rows 90/159/173 decide HOW MUCH
    * of each source; this says WHAT EACH SOURCE COSTS): for every
    * source, the corpus-level mean quality, mean whitespace tokens,
    * and English share WITHOUT it, plus the quality delta vs the
    * full corpus — positive delta = removing the source RAISES
    * corpus quality (the source is a drag), the same knockout logic
    * as [[graft.operators.Behavior.markovAttributionOf]] applied to
    * corpus composition. Pure algebra off per-source sums:
    * loo = (global − own)/(N − n_s), no second scan.
    *
    * Exactness: quality rides its native 1e-4 grid as int64 (the
    * score is round4HalfUp by construction, so floor(q·10⁴ + 0.5) is
    * lossless), tokens/flags are counts; sums ride decimal(38,0)
    * (10¹² docs × 10⁴ quality units crosses int64); each published
    * mean divides once; en-share in exact ppm by integer division.
    * Single-source corpora null their LOO columns via nullif.
    *
    * Shape: ONE document scan → per-source sums (vocabulary-bounded),
    * a 1-row global broadcast, map-side algebra after. */
  def sourceAblationOf(docs: DataFrame, posLang: String = "en"): DataFrame = {
    val perSource = docs
      .select(col("source"),
        TextF.grid4(TextF.qualityScore(col("text"), TextAnalysis.Stopwords))
          .as("qq"),
        TextF.tokenCount(col("text")).cast("long").as("tok"),
        when(col("lang") === posLang, 1L).otherwise(0L).as("en"))
      .groupBy("source")
      .agg(count(lit(1)).cast(Dec).as("n"),
        sum(col("qq").cast(Dec)).as("q"),
        sum(col("tok").cast(Dec)).as("t"),
        sum(col("en").cast(Dec)).as("e"))
    val global = perSource.agg(
      sum("n").as("gn"), sum("q").as("gq"),
      sum("t").as("gt"), sum("e").as("ge"))
    def d(c: Column) = c.cast("double")
    perSource.crossJoin(broadcast(global)) // 1 row by construction
      .select(col("source"), col("n").cast("long").as("n_docs"),
        r4(d(col("gq")) / d(col("gn")) / lit(1e4)).as("mean_quality_all"),
        r4(d(col("gq") - col("q")) / d(nullif(col("gn") - col("n"),
          lit(0).cast(Dec))) / lit(1e4)).as("mean_quality_loo"),
        TextF.round6HalfUp(
          d(col("gq") - col("q")) / d(nullif(col("gn") - col("n"),
            lit(0).cast(Dec))) / lit(1e4) -
          d(col("gq")) / d(col("gn")) / lit(1e4)).as("quality_delta"),
        r4(d(col("gt") - col("t")) / d(nullif(col("gn") - col("n"),
          lit(0).cast(Dec)))).as("mean_tokens_loo"),
        expr(s"CAST(((ge - e) * 1000000) div nullif(gn - n," +
          s" CAST(0 AS $Dec)) AS BIGINT)").as("en_share_loo_ppm"))
      .orderBy("source")
  }

  /** CCNet head/middle/tail partitioning (Wenzek '19 §4.3 — the step
    * between row 106's fluency score and a training mix: per
    * language, split the corpus into LM-score terciles and ship the
    * head first): per-language tercile cutpoints by NEAREST-RANK on
    * the (lang, score) GRID — the score is row 106's 4-dp ppm ratio,
    * so the grid is score-vocabulary-bounded and the cumulative
    * window never holds a language's documents in one task (the
    * contentRanked lesson applied up front; `percentile()` over a
    * lang partition would). Higher score = more typical of the
    * corpus = head (the orientation mirror of CCNet's
    * lower-perplexity-is-better). Rank boundaries r = ⌈total/3⌉,
    * ⌈2·total/3⌉ in exact integers; every bucket stat (docs, tokens,
    * mean score) aggregates off the same bounded grid.
    *
    * Shape: row 106's model pass (one gram shuffle) → per-doc
    * scores; one (lang, score)-grid aggregate absorbs the doc frame;
    * cutpoints, assignment, and bucket stats all ride the grid. */
  def ccnetBucketsOf(docs: DataFrame): DataFrame = {
    val scored = lmQualityOf(docs)
      .join(docs.select(col("doc_id"), col("lang"),
        TextF.tokenCount(col("text")).cast("long").as("tok")), "doc_id")
    val grid = scored
      .select(col("lang"),
        TextF.grid4(col("score_ppm")).as("sq"),
        col("tok"))
      .groupBy("lang", "sq")
      .agg(count(lit(1)).as("c"), sum(col("tok").cast(Dec)).as("tokc"))
      .localCheckpoint(false) // bounded by the 4-dp score vocabulary
    val byLang = Window.partitionBy("lang")
    val cum = byLang.orderBy("sq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = grid
      .withColumn("cumc", sum("c").over(cum))
      .withColumn("total", sum("c").over(byLang))
      .groupBy("lang")
      .agg(
        min(when(col("cumc") >= expr("(total + 2) div 3"), col("sq")))
          .as("cut1"),
        min(when(col("cumc") >= expr("(2 * total + 2) div 3"), col("sq")))
          .as("cut2"))
    grid.join(cuts, Seq("lang")) // grid ⋈ langs, both bounded
      .withColumn("bucket",
        when(col("sq") <= col("cut1"), "tail")
          .when(col("sq") <= col("cut2"), "middle")
          .otherwise("head"))
      .groupBy("lang", "bucket")
      .agg(sum("c").as("n_docs"),
        sum("tokc").cast(Dec).as("tokens"),
        sum(expr(s"CAST(sq AS $Dec) * c")).as("sqs"))
      .select(col("lang"), col("bucket"), col("n_docs"),
        col("tokens").cast("long").as("tokens"),
        (floor(col("sqs").cast("double") / col("n_docs").cast("double")
          + lit(0.5)) / lit(1e4)).as("mean_score"))
      .orderBy("lang", "bucket")
  }

  /** Pairwise source DISTRIBUTION distance — total variation over the
    * coarsened word partition (top-K corpus words + OTHER): row 154
    * reads which sources SHARE vocabulary (set Jaccard); this reads
    * how differently they USE it (½ Σ|pₐ−p_b| — the mixture-design
    * number: near-zero TVD sources are redundant in a training mix,
    * the same coarsened-partition move row 108 makes over value bins).
    * Coarsening to K+1 cells is what makes the op scale-honest: the
    * full-vocabulary TVD would put an unbounded hapax tail through
    * the pair join; the top-K + OTHER partition is a valid coarsened
    * TVD (a lower bound of the full one, documented) on a bounded
    * frame.
    *
    * Exactness: per-cell shares in exact ppm by integral division;
    * TVD numerator = Σ_common|pₐ−p_b| + each side's missing-cell
    * mass (Sₐ−Σ_common pₐ), all integer; one div 2 at the edge.
    *
    * Shape: one tokenize scan → (source, word) counts (checkpointed;
    * the vocabulary-scale frame every corpus op here rides), top-K
    * via a K-row TakeOrdered broadcast, then everything on the
    * sources × (K+1) frame. */
  def sourceWordTvdOf(docs: DataFrame, topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    val counts = docs
      .select(col("source"),
        explode(TextF.tokens(lower(col("text")))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // two consumers: vocabulary + profile
    val top = counts.groupBy("t").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(topK)
      .select(col("t"), lit(true).as("topw"))
    val prof = counts.join(broadcast(top), Seq("t"), "left")
      .select(col("source"),
        when(col("topw"), col("t")).otherwise(lit("__OTHER__")).as("cell"),
        col("c"))
      .groupBy("source", "cell").agg(sum("c").as("c"))
      .join(counts.groupBy("source").agg(sum("c").as("total")), "source")
      .select(col("source"), col("cell"),
        expr("CAST((c * 1000000) div total AS BIGINT)").as("p"))
      .localCheckpoint(false) // sources × (K+1), bounded
    val sums = prof.groupBy("source").agg(sum("p").as("sp"))
    val common = prof.as("a")
      .join(prof.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(sum(abs(col("a.p") - col("b.p"))).as("dcommon"),
        sum(col("a.p")).as("ca"), sum(col("b.p")).as("cb"))
    // EVERY unordered source pair appears — a pair sharing no cell at
    // all reads its full disjoint mass (TVD ≈ 1e6), not a missing
    // row; the pair frame is the bounded source-list cross.
    sums.as("x").crossJoin(sums.as("y"))
      .filter(col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"),
        col("y.source").as("source_b"),
        col("x.sp").as("spa"), col("y.sp").as("spb"))
      .join(common, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        expr("CAST((coalesce(dcommon, 0) + (spa - coalesce(ca, 0))" +
          " + (spb - coalesce(cb, 0))) div 2 AS BIGINT)").as("tvd_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** Calibration (reliability) curve for the quality score against
    * `lang == posLang`: equal-width score bins over [0, 1], each
    * reporting its doc count, mean score, and observed positive rate —
    * [[aucQualityOf]] says whether the score RANKS well, this says
    * whether its VALUES mean anything. Bin = min(⌊score·bins⌋, bins−1)
    * on the already-4dp score (exact); mean score rides the 1e4-scaled
    * integer sum ([[corpusCardOf]]'s argument); both output ratios
    * divide once and round half-up. One map-side projection, one
    * combinable aggregate on the ≤`bins` key.
    */
  def calibrationCurveOf(docs: DataFrame, posLang: String = "en",
                         bins: Int = 20): DataFrame = {
    require(bins > 1, s"bins must be > 1, got $bins")
    val score = TextF.qualityScore(col("text"), TextAnalysis.Stopwords)
    docs
      .select(least(floor(score * bins), lit(bins - 1L)).cast("long").as("bin"),
        TextF.grid4(score).as("qq"),
        when(col("lang") === posLang, 1L).otherwise(0L).as("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("qq").as("qsum"),
        sum("pos").as("n_pos"))
      .select(col("bin"), col("n_docs"),
        TextF.round4HalfUp(col("qsum").cast("double")
          / col("n_docs").cast("double") / lit(1e4)).as("mean_score"),
        TextF.round4HalfUp(col("n_pos").cast("double")
          / col("n_docs").cast("double")).as("pos_rate"))
      .orderBy("bin")
  }

  /** Murphy decomposition of the Brier score over
    * [[calibrationCurveOf]]'s binned frame — the curve shows WHERE
    * calibration fails; this prices it: Brier = reliability −
    * resolution + uncertainty (+ the within-bin residual, since bins
    * hold non-constant scores). Reliability punishes p̄ₖ ≠ ōₖ
    * (miscalibration), resolution rewards bins that separate the
    * outcome, uncertainty is the data's irreducible ō(1−ō), and the
    * direct Brier Σ(score − outcome)²/N closes the identity — all
    * published, so the table audits itself to the printed digit.
    *
    * Determinism: every Σ is over integers/decimals (order-free);
    * the per-bin reliability/resolution terms quantize to the micro
    * grid through ONE fixed-order double chain each (floor — the
    * best_split nano-quantize convention), so cross-engine equality
    * is exact; the direct Brier numerator Σ(qq − pos·10⁴)² is pure
    * decimal. Final combinations are single fixed-order expressions.
    *
    * Shape: one fact aggregate to the ≤`bins` cell frame; 1-row
    * totals broadcast back; everything else is arithmetic on ≤ bins
    * rows. */
  def brierDecompositionOf(docs: DataFrame, posLang: String = "en",
                           bins: Int = 20): DataFrame = {
    require(bins > 1, s"bins must be > 1, got $bins")
    val score = TextF.qualityScore(col("text"), TextAnalysis.Stopwords)
    val perDoc = docs
      .select(least(floor(score * bins), lit(bins - 1L)).cast("long").as("bin"),
        TextF.grid4(score).as("qq"),
        when(col("lang") === posLang, 1L).otherwise(0L).as("pos"))
    val cells = perDoc.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("qq").as("qsum"),
        sum("pos").as("npos"),
        sum(expr(s"CAST(qq - pos * 10000 AS $Dec) * (qq - pos * 10000)"))
          .as("sqerr"))
    val totals = cells.agg(sum("n").as("nn"), sum("npos").as("tpos"),
      sum(col("sqerr").cast(Dec)).as("tsqerr")) // 1 row
    def d(c: Column) = c.cast("double")
    // a = qsum − npos·10⁴ → bin reliability term a²/(n·10⁸);
    // b = npos·N − Npos·n → bin resolution term b²/(n·N²).
    // Each quantized to micros through one fixed-order double chain.
    val a = d(col("qsum")) - d(col("npos")) * 1e4
    val b = d(col("npos")) * d(col("nn")) - d(col("tpos")) * d(col("n"))
    val relT = Behavior.micro(a * a / d(col("n")) / 1e8)
    val resT = Behavior.micro(b * b / d(col("n")) / d(col("nn")) / d(col("nn")))
    val agg = cells.crossJoin(broadcast(totals))
      .select(col("n"), col("nn"), col("tpos"), col("tsqerr"),
        relT.as("rel_t"), resT.as("res_t"))
      .groupBy("nn", "tpos", "tsqerr")
      .agg(sum("rel_t").as("rel_sum"), sum("res_t").as("res_sum"))
    val rel = d(col("rel_sum")) / 1e6 / d(col("nn"))
    val res = d(col("res_sum")) / 1e6 / d(col("nn"))
    val unc = d(col("tpos")) * (d(col("nn")) - d(col("tpos"))) /
      (d(col("nn")) * d(col("nn")))
    val brier = d(col("tsqerr")) / d(col("nn")) / 1e8
    agg.select(col("nn").as("n_docs"), col("tpos").as("n_pos"),
      r6(brier).as("brier"), r6(rel).as("reliability"),
      r6(res).as("resolution"), r6(unc).as("uncertainty"),
      r6(brier - (rel - res + unc)).as("within_bin"))
  }

  /** Isotonic (PAVA) calibration of the quality score against
    * `lang == posLang` — the FIT the calibration family still lacked:
    * [[calibrationCurveOf]] shows the raw reliability curve,
    * [[brierDecompositionOf]] prices its miscalibration, this produces
    * the monotone recalibration map itself (Zadrozny-Elkan '02: the
    * standard score→probability post-hoc fit, assumption-free beyond
    * monotonicity). Pool-adjacent-violators is computed by its minimax
    * identity rather than the sequential merge loop:
    * fitted(i) = max_{j≤i} min_{k≥i} pooledRate(j..k) — fully
    * declarative, no driver-side stack, no recursion.
    *
    * Determinism: interval pooled rates land on the 1e-12 integer grid
    * by integer division ((R·10¹²) div N on DECIMAL(38,0) — R can pass
    * int64·10¹² at corpus scale) BEFORE the minimax, so both engines
    * take min/max over identical integers; published ppm values divide
    * the grid down by integer division. Two interval rates closer than
    * 10⁻¹² collapse to the same grid point — the documented (and
    * engine-identical) quantization.
    *
    * Shape: ONE fact aggregate to the ≤`bins` cell frame; everything
    * after is arithmetic on bounded frames (≤ bins·(bins+1)/2 interval
    * rows theta-joined back to ≤ bins anchors — a few hundred rows
    * regardless of corpus size; the single-partition prefix window is
    * the bounded-frame idiom, cf. [[Behavior]]'s decile curves). The
    * cell frame is checkpointed once: prefix, interval, and output
    * legs all read it without re-scanning the corpus. */
  def isotonicCalibrationOf(docs: DataFrame, posLang: String = "en",
                            bins: Int = 20): DataFrame = {
    require(bins > 1, s"bins must be > 1, got $bins")
    val score = TextF.qualityScore(col("text"), TextAnalysis.Stopwords)
    val cells = docs
      .select(least(floor(score * bins), lit(bins - 1L)).cast("long").as("bin"),
        when(col("lang") === posLang, 1L).otherwise(0L).as("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"))
    isotonicFitOf(cells)
  }

  /** PAVA minimax fit over a prepared (bin, n_docs, n_pos) cell frame
    * — split from [[isotonicCalibrationOf]] so the merge algebra is
    * directly testable on constructed curves. Bounded: ≤ bins rows in,
    * the interval theta-join never sees the corpus. */
  private[graft] def isotonicFitOf(cellsIn: DataFrame): DataFrame = {
    val cells = cellsIn.localCheckpoint(false) // bounded; three legs read it
    val pref = cells.select(col("bin"), col("n_docs"), col("n_pos"),
      sum("n_docs").over(Window.orderBy("bin")).as("cn"),
      sum("n_pos").over(Window.orderBy("bin")).as("cr"))
    val lo = pref.select(col("bin").as("j"),
      (col("cn") - col("n_docs")).as("cn0"),
      (col("cr") - col("n_pos")).as("cr0"))
    val hi = pref.select(col("bin").as("k"), col("cn").as("cn1"),
      col("cr").as("cr1"))
    val intervals = lo.join(hi, col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr(s"""CAST((CAST(cr1 - cr0 AS $Dec) * 1000000000000)
               |  div (cn1 - cn0) AS BIGINT)""".stripMargin).as("re12"))
    val fitted = intervals
      .join(cells.select(col("bin").as("i")),
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy("i", "j").agg(min("re12").as("mn"))
      .groupBy("i").agg(max("mn").as("fe12"))
    cells.join(fitted, cells("bin") === fitted("i"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("(n_pos * 1000000) div n_docs").as("raw_ppm"),
        expr("fe12 div 1000000").as("iso_ppm"))
      .orderBy("bin")
  }

  /** McNemar's paired test between the two quality gates the corpus
    * family already ships — [[gopherRulesOf]]'s rule conjunction vs
    * the quality-score threshold ([[graft.operators.TextAnalysis]]'s
    * corpus_clean gate): do the gates disagree SYSTEMATICALLY, or
    * symmetrically? Unpaired comparison (each gate's pass rate) can't
    * answer that — McNemar conditions on the disagreeing pairs only:
    * χ² = (|b−c|−1)²/(b+c) (continuity-corrected, clamped), b/c the
    * gopher-only / quality-only counts ON THE SAME documents. The
    * read that tells a pipeline owner whether swapping gates would
    * RESHAPE the corpus (one-sided disagreement) or just resample it.
    *
    * Exactness: the 2×2 is four exact conditional counts off ONE
    * projection (both gates evaluate in the same map — no doc_id
    * self-join, the fact never shuffles at all: a single 1-row global
    * aggregate); χ² is one fixed double chain; b+c = 0 (gates agree
    * everywhere) nulls χ² via try_divide → not significant. */
  def mcnemarGatesOf(docs: DataFrame, minQuality: Double = 0.9): DataFrame = {
    // coalesce: an empty/whitespace-only doc nulls both measures
    // (0-token divisions) — a null gate must read "rejected", or the
    // doc counts in n_docs yet falls in NO 2×2 cell
    docs
      .select(coalesce(gopherKeep(50, 100000), lit(false)).as("g1"),
        coalesce(TextF.qualityScore(col("text"), TextAnalysis.Stopwords)
          >= minQuality, lit(false)).as("g2"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("g1") && col("g2"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("g1") && !col("g2"), 1L).otherwise(0L))
          .as("n_only_gopher"),
        sum(when(!col("g1") && col("g2"), 1L).otherwise(0L))
          .as("n_only_quality"),
        sum(when(!col("g1") && !col("g2"), 1L).otherwise(0L))
          .as("n_neither"))
      .select(col("n_docs"), col("n_both"), col("n_only_gopher"),
        col("n_only_quality"), col("n_neither"),
        r6(expr(
          """try_divide(
            |  CAST(greatest(abs(n_only_gopher - n_only_quality) - 1, 0)
            |       AS DOUBLE)
            |  * CAST(greatest(abs(n_only_gopher - n_only_quality) - 1, 0)
            |       AS DOUBLE),
            |  CAST(n_only_gopher + n_only_quality AS DOUBLE))"""
            .stripMargin)).as("chi2_mcnemar"))
      .withColumn("significant",
        when(col("chi2_mcnemar").isNull, lit(false))
          .otherwise(col("chi2_mcnemar") > 3.841459))
  }

  /** Term keyness: which words characterize the `focus` source against
    * the rest of the corpus (the corpus-linguistics comparison behind
    * "what is this source actually about"). Statistic is the add-one
    * smoothed relative-frequency ratio
    * ((f_focus+1)/(N_focus+V)) / ((f_rest+1)/(N_rest+V)) — ratio form,
    * not Dunning log-likelihood, per the no-libm rule (object
    * scaladoc); it ranks keyness identically. Computed as
    * (f_f+1)(N_r+V) / ((f_r+1)(N_f+V)): each operand an exact int64
    * cast once, one multiply each side, one division, rounded 4 dp
    * THEN ranked (ties on token) for a deterministic top-`k`.
    *
    * Shape: ONE token aggregate with conditional focus/rest sums (the
    * occurrence stream shuffles once, map-side combinable); totals and
    * vocab size are a second aggregate over that vocabulary-bounded
    * frame, re-joined as a 1-row broadcast; top-k is
    * TakeOrderedAndProject, never a global sort. */
  def termKeynessOf(docs: DataFrame, focus: String = "src0",
                    minCount: Long = 5, k: Int = 50): DataFrame = {
    require(k > 0 && minCount >= 0, s"need k>0, minCount>=0; got $k/$minCount")
    val tf = docs
      .select(col("source"), explode(TextF.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(sum(when(col("source") === focus, 1L).otherwise(0L)).as("f_focus"),
        sum(when(col("source") =!= focus, 1L).otherwise(0L)).as("f_rest"))
      .localCheckpoint(false) // totals + report both read it
    val totals = tf.agg(sum("f_focus").as("nf"), sum("f_rest").as("nr"),
      count(lit(1)).as("v"))
    val keyness = TextF.round4HalfUp(
      ((col("f_focus") + 1L).cast("double") * (col("nr") + col("v")).cast("double")) /
        ((col("f_rest") + 1L).cast("double") * (col("nf") + col("v")).cast("double")))
    tf.filter(col("f_focus") >= minCount)
      .crossJoin(broadcast(totals))
      .select(col("token"), col("f_focus"), col("f_rest"),
        keyness.as("keyness"))
      .orderBy(col("keyness").desc, col("token"))
      .limit(k)
  }

  /** Vocabulary-overlap matrix: Jaccard similarity of the DISTINCT
    * token vocabularies of every source pair — the cheap corpus-level
    * "are these two sources the same kind of text" signal that guides
    * mixture weighting before any document-level dedup runs
    * ([[Dedup.dupMatrixOf]] is the span-level sharp end; this is the
    * distributional view). Exact integers until one division, rounded
    * half-up 4 dp.
    *
    * Shape: DISTINCT (token-hash, source) partial-aggregate first,
    * per-source sizes from that bounded frame, shared tokens from
    * [[Dedup.sourcePairs]] (dup_matrix's source-pair overlap, no
    * token-keyed self-join), |sources|²-bounded output. */
  def vocabOverlapOf(docs: DataFrame): DataFrame = {
    val vs = docs
      .select(col("source"),
        explode(TextF.tokens(col("text"))).as("token"))
      .select(xxhash64(col("token")).as("g"), col("source"))
      .distinct()
      .localCheckpoint(false) // sizes + the source-pair fold
    val sizes = vs.groupBy("source").agg(count(lit(1)).as("n"))
    Dedup.sourcePairs(vs, "n_shared")
      .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        TextF.round4HalfUp(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Quality-threshold retention curve: for each cutoff t ∈ {0.0,
    * 0.1, …, 0.9}, how many documents and tokens survive `quality ≥
    * t` — the sweep every filtering decision reads before a cutoff is
    * frozen (the DataComp/FineWeb ablation table, computed once, no
    * per-threshold re-scan).
    *
    * Shape: ONE corpus pass buckets each doc at ⌊q·10⌋ (clamped to 9,
    * so q = 1.0 lands in the top band); the 10-row bucket aggregate
    * left-joins a literal grid (empty bands report zeros, the curve
    * is always complete) and a DESCENDING running sum turns band
    * counts into ≥-threshold retention. All windows run on the
    * grid-sized frame. */
  def qualityRetentionOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val q = TextF.qualityScore(col("text"), TextAnalysis.Stopwords)
    val byBucket = docs
      .select(least(floor(q * 10).cast("int"), lit(9)).as("bucket"),
        TextF.tokenCount(col("text")).cast("long").as("t"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"))
    val grid = spark.range(0, 10).select(col("id").cast("int").as("bucket"))
    val desc10 = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1))
    grid.join(byBucket, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("docs_kept", sum("n_docs").over(desc10))
      .withColumn("tokens_kept", sum("n_tokens").over(desc10))
      .withColumn("total_docs", sum("n_docs").over(all))
      .withColumn("total_tokens", sum("n_tokens").over(all))
      .select((col("bucket").cast("double") / 10.0).as("threshold"),
        col("docs_kept"), col("tokens_kept"),
        TextF.round4HalfUp(col("docs_kept").cast("double")
          / col("total_docs").cast("double")).as("doc_frac"),
        TextF.round4HalfUp(col("tokens_kept").cast("double")
          / col("total_tokens").cast("double")).as("token_frac"))
      .orderBy("threshold")
  }

  /** Cross-source quantile normalization of the quality score — the
    * fix for "source A's quality model runs hot": each document's
    * WITHIN-SOURCE rank maps onto the GLOBAL score distribution, so
    * every source contributes the same quality profile and one
    * global cutoff treats sources fairly (the standard
    * quantile-normalization move, applied the way multi-scorer
    * corpus pipelines combine per-source quality models).
    *
    * Mechanics, exact-integer until the last interpolation: scores
    * quantize to 1e-4 ints; a doc at within-source rank r of n_s maps
    * to grid point k = ((r−1)·100) div (n_s−1) (middle, k = 50, for
    * singleton sources); the global distribution enters as ONE
    * percentile(array) aggregate row — 101 interpolated values of
    * integer inputs, the same IEEE arithmetic DuckDB's quantile_cont
    * runs (earnings_percentiles' precedent) — broadcast to every row.
    * Per-source ranks are a window on the source key (scalable
    * partitioning); nothing global ever sorts. At true 100 TB the
    * grid aggregate's full-buffer percentile swaps for the KLL sketch
    * ([[graft.operators.Report.earningsPercentilesApprox]]) with the
    * same join shape. */
  def quantileNormalizeOf(docs: DataFrame,
                          approx: Boolean = false): DataFrame = {
    val q = TextF.qualityScore(col("text"), TextAnalysis.Stopwords)
    val scored = docs.select(col("doc_id"), col("source"),
      TextF.grid4(q).as("qq"))
    val fractions = (0 to 100).map(_ / 100.0)
    // The `approx = true` swap: the full-buffer exact percentile
    // (Θ(rows) on one reducer) becomes the fixed-size mergeable
    // quantile sketch (earnings_percentiles_approx's machinery) —
    // same 1-row grid, same broadcast join shape downstream.
    // Sketch grid points are observed values (longs), exact grid
    // points interpolate; ScaleApproxSpec bands the per-doc q_norm.
    val gridAgg =
      if (approx)
        expr(s"approx_percentile(qq, array(${fractions.mkString(",")}), 10000)")
          .cast("array<double>")
      else expr(s"percentile(qq, array(${fractions.mkString(",")}))")
    val grid = scored.agg(gridAgg.as("g"))
    val bySource = Window.partitionBy("source").orderBy(col("qq"), col("doc_id"))
    val ns = Window.partitionBy("source")
    scored
      .withColumn("r", row_number().over(bySource).cast("long"))
      .withColumn("n_s", count(lit(1)).over(ns))
      .withColumn("k",
        when(col("n_s") > 1L, expr("((r - 1) * 100) div (n_s - 1)"))
          .otherwise(lit(50L)))
      .crossJoin(broadcast(grid)) // 1 row by construction
      .select(col("doc_id"), col("source"),
        (col("qq").cast("double") / 1e4).as("q_raw"),
        TextF.round4HalfUp(
          element_at(col("g"), (col("k") + 1L).cast("int")) / 1e4)
          .as("q_norm"))
      .orderBy("doc_id")
  }

  /** Distinct-n diversity per source — the type/token ratio
    * generalized to n-grams (n = 1, 2, 3): ‖distinct n-grams‖ /
    * ‖n-gram occurrences‖. THE screen for diversity collapse in a
    * source (template farms and synthetic loops crater distinct-2/3
    * while keeping distinct-1 plausible; cf. the per-DOC repetition
    * gate, row 56 — this is the per-SOURCE view of the same failure).
    * Unigrams use the whitespace tokens (empty docs contribute their
    * [""] token, a corpus-constant convention); higher n uses STRICT
    * shingles (short docs contribute nothing — unigram fallback would
    * fake diversity).
    *
    * Shape: three column-pruned scans (text, source only) unioned
    * before ONE (source, n) aggregate; the distinct count shuffles
    * 8-byte gram HASHES once (r17 optimization round: the native
    * non-deduping [[graft.plans.ShingleHashes]] scan replaced the
    * interpreted `strictShingles` string pipeline — identical
    * occurrence counts, and the distinct count is over xxhash64 keys
    * instead of strings, collision-checked by the oracle replay; the
    * string form measured 3.4 s vs 1.1 s at sf0.1). The one-scan
    * concat-of-families form stays rejected (measured 2× slower when
    * tried with interpreted lambdas; with three native scans the scan
    * count is not the cost). r18 hardening: the exact leg's distinct
    * key is 128-bit (two independent xxhash64 seeds in a struct, same
    * one-pass scan) — the r17 64-bit key was "exact" only up to
    * birthday-bound collisions near 10⁹⁺ distinct grams; two seeds
    * push the bound past any corpus. At 100 TB the distinct count
    * swaps for the HLL sketch (approx_count_distinct) with the same
    * frame. */
  def distinctNgramDiversityOf(docs: DataFrame,
                               approx: Boolean = false): DataFrame = {
    def grams(n: Int): DataFrame = {
      // n=1 non-strict ≡ whitespace tokens incl. the empty-doc [""]
      // convention; n≥2 strict ≡ strictShingles (short docs: nothing).
      // dedup=false keeps every occurrence — total_ngrams needs the
      // full stream, not the per-doc set. The APPROX path must keep
      // the STRING stream: approx_count_distinct's estimate is a
      // deterministic function of the input values and the _approx
      // twin's output is oracle-pinned — hashing first would move it.
      val g =
        if (approx) {
          if (n == 1) TextF.tokens(col("text"))
          else TextF.strictShingles(col("text"), n)
        } else graft.plans.ColumnBridge.column(graft.plans.ShingleHashes(
          graft.plans.ColumnBridge.expression(col("text")), n, 0L,
          strict = n > 1, dedup = false,
          // splitCompat: agree with the split-convention oracle (and
          // the approx twin) on whitespace-edged text; pairSeed: the
          // exact leg's distinct runs over a 128-bit (two-seed) gram
          // key, so "exact" no longer leans on 64-bit injectivity at
          // 10⁹⁺ grams (r18; VERDICT r17 #6).
          splitCompat = true, pairSeed = 4242L))
      // The approx twin keeps the interpreted string stream (its HLL
      // estimates are value-pinned) — spreadInput parallelizes that
      // compute-dense scan instead (no-op on already-parallel input).
      val in = if (approx)
        graft.Scale.spreadInput(docs.select(col("source"), col("text")),
          col("source"), col("text"))
      else docs
      in.select(col("source"), lit(n).as("n"), explode(g).as("g"))
    }
    // The `approx = true` swap: HLL (rsd 2%) replaces the exact
    // distinct — fixed-size per-group state, no second shuffle of the
    // gram stream for dedup. ScaleApproxSpec bands it vs exact.
    val distinctGrams =
      if (approx) approx_count_distinct(col("g"), 0.02)
      else countDistinct(col("g"))
    grams(1).union(grams(2)).union(grams(3))
      .groupBy("source", "n")
      .agg(count(lit(1)).as("total_ngrams"),
        distinctGrams.as("distinct_ngrams"))
      .select(col("source"), col("n"), col("total_ngrams"),
        col("distinct_ngrams"),
        TextF.round4HalfUp(col("distinct_ngrams").cast("double")
          / col("total_ngrams").cast("double")).as("ttr"))
      .orderBy("source", "n")
  }

  /** Language-concentration (Herfindahl) profile per source: HHI =
    * Σ(n_lang/n)² over the source's document language shares — 1.0 =
    * monolingual, 1/|langs| = uniform mix — plus the dominant
    * language (argmax docs, ties to lexicographically-smallest lang)
    * and its share. The one-number mixture diagnostic behind
    * [[Corpus.mixturePlanOf]]-style per-language balancing: a "web" source at
    * HHI 0.95 is an English crawl wearing a multilingual label, and
    * its per-language quality gates (row 58) are fitting noise for
    * the tail languages. Exact integers until two final divisions
    * (HHI = Σn_l² / n², both int64), 4 dp half-up.
    *
    * Shape: one map-combinable (source, lang) count — the only
    * fact-sized shuffle — then a bounded per-source fold (argmax via
    * the lexicographic struct max, [[graft.operators.Warehouse]]'s
    * latest-per-key shape). */
  def langHhiOf(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("c") * col("c")).as("ssq"),
        // argmax with ties to the SMALLEST lang = lexicographic MIN
        // over (-count, lang)
        min(struct((-col("c")).as("nc"), col("lang"))).as("m"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        TextF.round4HalfUp(col("ssq").cast("double")
          / (col("n_docs") * col("n_docs")).cast("double")).as("hhi"),
        col("m.lang").as("top_lang"),
        TextF.round4HalfUp((-col("m.nc")).cast("double")
          / col("n_docs").cast("double")).as("top_share"))
      .orderBy("source")

  /** Simpson token-repeat index per source — the EXACT-pair
    * diversity scalar beside [[langHhiOf]] (HHI squares SHARES of
    * the bounded language vocabulary; Simpson's λ = Σc(c−1)/(N(N−1))
    * is literally "the probability two token occurrences drawn
    * WITHOUT replacement are the same type", over the unbounded
    * TOKEN vocabulary) and [[distinctNgramDiversityOf]] (distinct-n
    * counts types; λ weights them by mass — a corpus can keep a huge
    * vocabulary and still be dominated by ten boilerplate tokens,
    * which distinct-n misses and λ nails). The published inverse
    * 1/λ is the "effective vocabulary size" a language model
    * actually experiences.
    *
    * Exact integers end to end: c(c−1) and N(N−1) ride
    * decimal(38,0) (c approaches N ~ 10¹² occurrences per source at
    * 100 TB, so the products cross int64 at ~3·10⁹ — the
    * [[pagerankOf]] overflow posture), λ as (Σc(c−1))·10⁶ div
    * N(N−1) exact ppm, the inverse as ONE correctly-rounded double
    * division (both engines convert the same decimal values the
    * same way). Single-token sources null both via try_divide /
    * NULLIF — a 1-token λ is undefined, not zero.
    *
    * Shape: one (source, token) map-combinable count aggregate —
    * the only fact-sized shuffle — then a bounded source fold. */
  def simpsonDiversityOf(docs: DataFrame): DataFrame = {
    Corpus.tokenTfOf(docs, "source", "c")
      .groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(expr(s"CAST(c AS $Dec) * (c - 1)")).as("rep2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr(s"""CAST((rep2 * 1000000) div
                |  NULLIF(CAST(n_tokens AS $Dec) * (n_tokens - 1), 0)
                |  AS BIGINT)""".stripMargin).as("simpson_ppm"),
        TextF.round4HalfUp(expr(
          s"""try_divide(
             |  CAST(CAST(n_tokens AS $Dec) * (n_tokens - 1) AS DOUBLE),
             |  CAST(rep2 AS DOUBLE))""".stripMargin)).as("effective_types"))
      .orderBy("source")
  }

  /** RAKE keyword extraction (Rose '10 — Rapid Automatic Keyword
    * Extraction): candidate PHRASES are the maximal stopword-free
    * token runs, each word scores degree/frequency (degree = Σ
    * phrase length over its occurrences — co-occurrence inside
    * phrases is the whole trick), a phrase scores the sum of its
    * words. The PHRASE-level sibling of [[textrankKeywordsOf]]
    * (TextRank ranks single tokens by graph centrality at 10
    * iterations; RAKE surfaces multi-word terms in ONE pass — the
    * cheap-first keyword ladder).
    *
    * Determinism: degree/frequency is a RATIONAL per word — summing
    * float ratios per phrase would be order-sensitive, so each word
    * score quantizes to the 1e-6 integer grid FIRST
    * ((degree·10⁶) div freq, ≤ maxLen·10⁶ by degree ≤ freq·maxLen)
    * and phrase scores are exact integer sums; top-k breaks ties on
    * the phrase text. Products ride decimal(38,0) (degree sums are
    * corpus-scale).
    *
    * Shape: one posexplode + per-DOC cumulative-stopword window
    * (bounded per doc — the sessionize contract), one (doc, seg)
    * phrase fold, bounded word/phrase vocabulary aggregates, TakeOrdered
    * top-k. */
  def rakeKeywordsOf(docs: DataFrame, maxLen: Int = 4,
                     minCount: Long = 2, k: Int = 20): DataFrame = {
    require(maxLen >= 1 && minCount >= 1 && k > 0,
      s"need maxLen/minCount/k positive, got $maxLen/$minCount/$k")
    val stop = graft.operators.TextAnalysis.Stopwords
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val words = docs
      .select(col("doc_id"), posexplode(TextF.tokens(col("text")))
        .as(Seq("pos", "tok")))
      .withColumn("st",
        when(col("tok").isin(stop.map(_.asInstanceOf[Any]): _*)
          || length(col("tok")) < 2, 1L).otherwise(0L))
      .withColumn("seg", sum("st").over(byDoc))
      .filter(col("st") === 0L)
    val phrases = words.groupBy("doc_id", "seg")
      .agg(concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"))
        .as("phrase"), count(lit(1)).as("plen"))
      .filter(col("plen") <= maxLen)
      .localCheckpoint(false) // word stats, support and members read it
    val wordScore = phrases
      .select(explode(split(col("phrase"), " ")).as("tok"), col("plen"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"),
        sum(col("plen").cast(Dec)).as("degree"))
      .select(col("tok"),
        expr("CAST((degree * 1000000) div freq AS BIGINT)").as("wscore"))
    val support = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), min("plen").as("n_words"))
      .filter(col("n_occurrences") >= minCount)
    support
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("tok"))
      .join(wordScore, "tok")
      .groupBy("phrase", "n_words", "n_occurrences")
      .agg(sum("wscore").as("score_q"))
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        (col("score_q").cast("double") / lit(1e6)).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
  }

  /** Term burstiness (Church-Gale '95): per-term dispersion of the
    * per-DOCUMENT count — D = var/mean over all N docs with absent
    * docs as real zeros. A Poisson-scattered term reads D ≈ 1
    * (function words); a term that arrives in BURSTS (all its mass
    * in few docs) reads D ≫ 1 — the classical signal that a term is
    * topical, which raw frequency can't see ([[tfidfTopTermsOf]]
    * scores docs by terms; this profiles the TERMS themselves, the
    * keyword-vs-glue diagnostic under every stopword list). Top-K
    * terms by collection frequency.
    *
    * Exact: D = (N·Σc² − cf²)/(N·cf) — population variance over the
    * implicit zero-padded doc vector, cleared denominators, no
    * densification (absent docs add nothing to either sum). All
    * products decimal(38,0) (cf² crosses int64 at ~3·10⁹
    * occurrences), exact-ppm division, df carried for the
    * bursty-AND-rare read.
    *
    * Shape: one (doc, token) map-combinable count — the only
    * fact-scale shuffle — one token-keyed moment fold on the
    * vocabulary frame, a 1-row doc-count broadcast, TakeOrdered
    * top-K. */
  def termBurstinessOf(docs: DataFrame, k: Int = 50): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val perDoc = Corpus.tokenTfOf(docs, tf = "c")
    val nDocs = docs.agg(count(lit(1)).as("n_docs")) // 1 row
    perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("c").as("cf"),
        sum(expr(s"CAST(c AS $Dec) * c")).as("c2"))
      .crossJoin(broadcast(nDocs))
      .select(col("token"), col("cf"), col("df"),
        expr(s"""CAST(((n_docs * c2 - CAST(cf AS $Dec) * cf) * 1000000)
                |  div (CAST(n_docs AS $Dec) * cf) AS BIGINT)"""
          .stripMargin).as("dispersion_ppm"))
      .orderBy(col("cf").desc, col("token"))
      .limit(k)
  }

  /** Burrows' Delta stylometric distance between sources (Burrows
    * '02 — the authorship-attribution standard): z-normalize each
    * source's relative frequency of the top-`k` corpus words across
    * sources, Delta(a,b) = mean |z_a − z_b|. The STYLE lens beside
    * [[graft.operators.Corpus]]'s source governance —
    * `source_word_tvd` reads raw share differences (dominated by
    * topic); z-normalizing per WORD cancels the corpus-wide usage
    * level, leaving each source's stylistic deviation profile, which
    * is what separates "same content, different register" sources.
    *
    * Determinism: relative frequencies quantize to exact ppb
    * integers ((count·10⁹) div source_total, decimal(38,0) —
    * count·10⁹ crosses int64 at ~9·10⁹ tokens); per-word z clears
    * denominators — z = (S·f − Σf)/√(S·Σf² − (Σf)²) — computed as
    * ONE double division+sqrt then quantized to the 1e-6 grid
    * BEFORE the pairwise |Δ| sums (integer, order-free); words with
    * zero cross-source variance drop (z undefined; they carry no
    * signal) and `n_words` publishes the surviving count. Absent
    * (source, word) cells are REAL zeros via the bounded
    * sources × top-k cross.
    *
    * Shape: one (source, token) map-combinable count — the only
    * fact-scale shuffle — a k-row TakeOrdered vocabulary broadcast,
    * then sources×k / pair-frame algebra. */
  def burrowsDeltaOf(docs: DataFrame, k: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = Corpus.tokenTfOf(docs, "source", "c")
      .localCheckpoint(false) // totals, top-k and the dense join read it
    val totals = counts.groupBy("source").agg(sum("c").as("total"))
      .localCheckpoint(false)
    val topk = counts.groupBy("token").agg(sum("c").as("tc"))
      .orderBy(col("tc").desc, col("token")).limit(k)
      .select(col("token")).localCheckpoint(false)
    val dense = totals.crossJoin(broadcast(topk)) // bounded: S × k
      .join(counts, Seq("source", "token"), "left")
      .select(col("source"), col("token"),
        expr(s"""CAST((CAST(COALESCE(c, 0) AS $Dec) * 1000000000)
                |  div total AS BIGINT)""".stripMargin).as("f"))
    val byWord = Window.partitionBy("token")
    val z = dense
      .withColumn("s_src", count(lit(1)).over(byWord))
      .withColumn("sw", sum(col("f").cast(Dec)).over(byWord))
      .withColumn("sww", sum(expr(s"CAST(f AS $Dec) * f")).over(byWord))
      .filter(expr("s_src * sww - sw * sw > 0")) // zero-variance words drop
      .select(col("source"), col("token"),
        Behavior.micro(expr("""CAST(s_src * f - sw AS DOUBLE)
          |  / sqrt(CAST(s_src * sww - sw * sw AS DOUBLE))""".stripMargin))
          .as("zq"))
      .localCheckpoint(false) // both pair legs read it
    z.select(col("source").as("source_a"), col("token"), col("zq").as("za"))
      .join(z.select(col("source").as("source_b"), col("token"),
        col("zq").as("zb")), Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_words"), sum(abs(col("za") - col("zb"))).as("m"))
      .select(col("source_a"), col("source_b"), col("n_words"),
        TextF.round4HalfUp(expr(
          "CAST(m AS DOUBLE) / CAST(n_words AS DOUBLE) / 1e6")).as("delta"))
      .orderBy("source_a", "source_b")
  }

  /** Vocabulary coverage curve: what fraction of all corpus token
    * OCCURRENCES the top-k vocabulary types cover, at k ∈ `ks` — the
    * tokenizer/vocab-sizing read ([[oovRateOf]] fixes ONE k and scores
    * docs; this sweeps k so you pick it): rank types by (count DESC,
    * token), cumulative-sum the counts, report each k's prefix share
    * (clamped to the full vocabulary when k exceeds it). Exact int64
    * cumsum, one division per k, 4 dp half-up.
    *
    * Shape: one token-explode count aggregate (map-combinable, the
    * only fact-sized shuffle); the rank AND the cumsum both ride ONE
    * frozen range exchange of the vocabulary frame
    * ([[graft.Scale.twoPhaseRankAndRunningSum]] on (c DESC, token))
    * — web-corpus vocabulary at 100 TB is 10⁸+ types (the hapax
    * tail), so a global `Window.orderBy` here would be a single-task
    * sort of the whole type frame; the two-phase form is
    * `buckets`-way parallel and hands back the totals from its
    * bounded per-bucket collect, so the old 1-row totals pass and
    * its checkpoint both disappear. The k-probe joins a |ks|-row
    * broadcast against the exact clamped rank as before. */
  def coverageCurveOf(docs: DataFrame,
                      ks: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks must be positive, got $ks")
    import docs.sparkSession.implicits._
    val counts = docs
      .select(explode(TextF.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("c"))
    val (ranked, nVocab, totalTokens) = graft.Scale.twoPhaseRankAndRunningSum(
      counts, Seq(col("c").desc, col("token")), col("c"))
    val vocab = ranked.select(col("token"), col("c"),
      col("__rank").as("rank"), col("__running").as("cum"))
    vocab
      .join(broadcast(ks.toDF("k")),
        col("rank") === least(col("k").cast("long"), lit(nVocab)))
      .select(col("k"), lit(nVocab).as("n_vocab"),
        lit(totalTokens).as("total_tokens"),
        col("cum").as("covered_tokens"),
        TextF.round4HalfUp(col("cum").cast("double")
          / lit(totalTokens.toDouble)).as("coverage"))
      .orderBy("k")
  }

  /** Histogram-based decision-stump split finder — the inner loop of
    * every distributed GBDT/random-forest trainer (XGBoost/LightGBM
    * find splits exactly this way: bin the feature, aggregate class
    * counts per bin, score every threshold from the bounded histogram
    * — never a per-row sort): over a fixed grid of quality-score
    * thresholds, pick the cut that best separates `targetLang` docs
    * by Gini impurity reduction. Log-free (Gini, not entropy — the
    * [[langHhiOf]] concentration algebra), exact int64 count
    * polynomials per candidate, each side ONE double division in
    * fixed L-then-R order, gain nano-quantized before the argmax so
    * ranking is integer; ties break to the smallest threshold.
    *
    * Shape: one fact scan exploded ×|grid| MAP-SIDE into the bounded
    * (threshold) aggregate — the only shuffle carries |grid| groups of
    * partial sums, not rows; the score/argmax passes run on the
    * |grid|-row frame. At 100 TB the same plan holds: histogram
    * aggregation is why distributed GBDT scales. */
  def bestSplitOf(docs: DataFrame, targetLang: String = "en",
                  gridStep: Int = 500): DataFrame =
    bestSplitBinned(docs
      .select(
        TextF.grid4(TextF.qualityScore(col("text"), TextAnalysis.Stopwords))
          .as("q4"),
        when(col("lang") === targetLang, 1L).otherwise(0L).as("y")),
      gridStep)

  /** [[bestSplitOf]] from an already-binned (q4, y) frame — split out
    * so the split algebra is testable on hand-built histograms. */
  def bestSplitBinned(binned: DataFrame, gridStep: Int = 500): DataFrame = {
    require(gridStep > 0 && gridStep < 10000,
      s"gridStep in (0,10000), got $gridStep")
    val nT = 10000 / gridStep - 1
    val cand = binned
      .select(col("q4"), col("y"),
        explode(sequence(lit(1), lit(nT))).as("ti"))
      .withColumn("t4", col("ti") * gridStep)
      .groupBy("t4")
      .agg(count(lit(1)).as("n"), sum("y").as("n1"),
        sum(when(col("q4") < col("t4"), 1L).otherwise(0L)).as("nl"),
        sum(when(col("q4") < col("t4"), col("y")).otherwise(0L)).as("nl1"))
      .select(col("t4"), col("n"), col("n1"), col("nl"), col("nl1"),
        (col("n") - col("nl")).as("nr"),
        (col("n1") - col("nl1")).as("nr1"))
      .withColumn("nl0", col("nl") - col("nl1"))
      .withColumn("nr0", col("nr") - col("nr1"))
      // Weighted child Gini mass: (s² − s1² − s0²)/s per side, summed
      // L then R (empty side contributes 0 — a degenerate cut, never
      // the argmax unless every cut is degenerate). Parent mass is
      // the same polynomial on the root counts.
      .withColumn("child", when(col("nl") === 0L, lit(0.0)).otherwise(
        (col("nl") * col("nl") - col("nl1") * col("nl1")
          - col("nl0") * col("nl0")).cast("double") / col("nl").cast("double"))
        + when(col("nr") === 0L, lit(0.0)).otherwise(
          (col("nr") * col("nr") - col("nr1") * col("nr1")
            - (col("nr") - col("nr1")) * (col("nr") - col("nr1"))).cast("double")
            / col("nr").cast("double")))
      .withColumn("parent",
        (col("n") * col("n") - col("n1") * col("n1")
          - (col("n") - col("n1")) * (col("n") - col("n1"))).cast("double")
          / col("n").cast("double"))
      .withColumn("gain_q", floor((col("parent") - col("child"))
        / col("n").cast("double") * lit(1e9) + lit(0.5)).cast("long"))
    cand
      .withColumn("rn", row_number().over(
        Window.orderBy(col("gain_q").desc, col("t4"))))
      .filter(col("rn") === 1)
      .select((col("t4").cast("double") / lit(1e4)).as("threshold"),
        col("n"), col("nl").as("n_left"), col("nr").as("n_right"),
        (col("gain_q").cast("double") / lit(1e9)).as("gini_gain"),
        // try_divide: an empty side reads NULL, not an ANSI error
        TextF.round4HalfUp(expr("try_divide(CAST(nl1 AS DOUBLE), CAST(nl AS DOUBLE))"))
          .as("target_rate_left"),
        TextF.round4HalfUp(expr("try_divide(CAST(nr1 AS DOUBLE), CAST(nr AS DOUBLE))"))
          .as("target_rate_right"))
  }

  /** Pareto frontier (skyline) over (quality, length) — the classic
    * multi-objective dominance operator (Börzsönyi'01): the documents
    * no other document beats on BOTH quality and size, i.e. the
    * candidate set when "best docs" has no single score (data
    * selection wants quality AND length; the frontier is every
    * defensible trade-off). Dominance resolved declaratively with two
    * windows on the quality grid: a RANGE frame to −1 gives the max
    * length among STRICTLY higher quality (range, not rows — quality
    * ties must not see each other there), a quality-partition max
    * handles within-tie strict-length dominance; a doc survives iff
    * neither beats its length. Equal (quality, length) pairs dominate
    * neither way and all survive — the standard skyline convention.
    *
    * Shape: one pruned scan → map-side quality quantization → ONE
    * global sort exchange shared by both windows (same ordering key).
    * The global window is the honest cost ([[Corpus.curriculumOrderOf]]'s
    * note): at 100 TB this becomes range-partition by quality + one
    * boundary-max broadcast pass — the two-phase decomposition
    * documented there; the declarative form is identical per range. */
  def paretoFrontierOf(docs: DataFrame): DataFrame =
    skylineOf(docs.select(col("doc_id"),
      TextF.grid4(TextF.qualityScore(col("text"), TextAnalysis.Stopwords))
        .as("q4"),
      col("n_chars").cast("long").as("n_chars")))

  /** [[paretoFrontierOf]]'s dominance pass on an already-scored
    * (doc_id, q4, n_chars) frame — split out so the skyline algebra
    * (strict dominance, tie conventions) is testable on hand-built
    * points.
    *
    * Shape (the ×100 rehearsal's lesson): dominance needs only the
    * PER-QUALITY-LEVEL max length, so aggregate to the bounded q4
    * grid FIRST (≤ 10001 levels for a 4-dp score — map-combinable),
    * run the strictly-above suffix max as a ROWS window on that
    * bounded frame, and broadcast it back over the fact scan. The
    * first cut windowed the raw rows with a RANGE … UNBOUNDED
    * FOLLOWING frame — Spark's UnboundedFollowing frame RESCANS the
    * frame per row, O(n²): 0.58 s at sf0.1 ballooned to 949 s at
    * ×100 (1637× — measured, §6). This form retimed 5.9 s (10×,
    * sublinear): the fact table sees one aggregate and one broadcast
    * probe, never a window. */
  def skylineOf(scoredIn: DataFrame): DataFrame = {
    // Materialize the scored projection once: both the grid aggregate
    // and the probe side read it, and the quality score is 3 regex
    // passes per doc — re-planning it per consumer doubled the x100
    // wall time (no cross-branch CSE in Catalyst).
    val scored = scoredIn.localCheckpoint(false)
    val perQ = scored.groupBy("q4").agg(max("n_chars").as("max_tie"))
      .withColumn("max_above", max("max_tie").over(
        Window.orderBy(col("q4").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
    scored.join(broadcast(perQ), "q4") // bounded: the score grid
      .filter((col("max_above").isNull || col("max_above") < col("n_chars"))
        && col("max_tie") <= col("n_chars"))
      .select(col("doc_id"),
        (col("q4").cast("double") / 1e4).as("quality"), col("n_chars"))
      .orderBy(col("quality").desc, col("doc_id"))
  }

  /** Empirical Heaps-law curve: distinct vocabulary after the first
    * 10%, 20%, … 100% of documents (doc_id order — the corpus's
    * arrival order stand-in) — [[coverageCurveOf]] asks how much a
    * FIXED vocab covers; this asks how fast the vocabulary is still
    * GROWING, the is-more-data-still-buying-new-types read behind
    * vocab sizing and dedup expectations (a flattening curve says new
    * docs are recombinations; a straight one says the domain is still
    * open). Exact: each token's FIRST document (min doc_id — one
    * map-combinable aggregate over the token explode), then vocab(t)
    * = tokens with first_doc below each decile threshold — a bounded
    * 10-row probe against the vocabulary frame.
    *
    * Shape: the token explode + per-token min is the only fact-scale
    * work; thresholds ride a 10-row broadcast; output is 10 rows. */
  def heapsCurveOf(docs: DataFrame): DataFrame = {
    val firstDoc = docs
      .select(col("doc_id"), explode(TextF.tokens(col("text"))).as("token"))
      .groupBy("token").agg(min("doc_id").as("first_doc"))
    // Thresholds cut the DOCUMENT id range (not the first-occurrence
    // range — a shared vocabulary saturates early and would shrink
    // the axis); conditional counting keeps zero-growth deciles as
    // explicit rows instead of dropped groups.
    val bounds = docs.agg(max("doc_id").as("max_id")) // 1 row
    val thresholds = docs.sparkSession.range(1, 11)
      .select(col("id").cast("int").as("pct10"))
      .crossJoin(broadcast(bounds))
      .select(col("pct10"),
        expr("((max_id + 1) * pct10) div 10").as("cutoff"))
    firstDoc.crossJoin(broadcast(thresholds)) // 10 rows
      .groupBy("pct10", "cutoff")
      .agg(sum(when(col("first_doc") < col("cutoff"), 1L).otherwise(0L))
        .as("vocab_size"))
      .select((col("pct10") * 10).as("pct_docs"), col("cutoff"),
        col("vocab_size"))
      .orderBy("pct_docs")
  }

  /** Pairwise Hellinger distance between source unigram
    * distributions — the DISTRIBUTIONAL twin of `vocab_overlap`
    * (Jaccard asks "do the sources share types?"; Hellinger asks "do
    * they USE the shared types at the same rates?" — two sources can
    * share 90% of their vocabulary and still be distributionally
    * alien, which is what a mixture design actually cares about).
    * BC(P,Q) = Σ√(pᵢqᵢ) is the Bhattacharyya affinity; H = √(1−BC)
    * ∈ [0,1]. Tokens absent from either side contribute exactly 0, so
    * the inner join IS the dense sum.
    *
    * Determinism: pᵢqᵢ = (cᵃ·cᵇ)/(Nᵃ·Nᵇ) rides ONE fixed double
    * sequence (two exact-int multiplies — counts < 2⁵³ — one divide,
    * one correctly-rounded IEEE √), each term quantized to the 1e-9
    * grid so the cross-vocabulary sum is a decimal(38,0) order-blind
    * integer sum (the ×1000 headroom rule: 10⁸ shared types × 1e9
    * crosses int64); BC and H render 6 dp half-up at the edge.
    *
    * Shape: one token-explode count is the fact-sized shuffle; the
    * pair cross is a token-keyed equijoin of the per-source vocab
    * frame with itself (vocab-sized, never doc-sized: each pair needs
    * both sides' counts) with bounded per-source totals broadcast
    * back; output is |sources|²/2 rows. */
  def hellingerMatrixOf(docs: DataFrame): DataFrame = {
    val counts = Corpus.tokenTfOf(docs, "source", "c")
    val totals = counts.groupBy("source").agg(sum("c").as("n")) // bounded
    val pairs = counts
      .select(col("source").as("source_a"), col("token"), col("c").as("ca"))
      .join(counts.select(col("source").as("source_b"), col("token"),
        col("c").as("cb")), Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .join(broadcast(totals.select(col("source").as("source_a"),
        col("n").as("na"))), Seq("source_a"))
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("n").as("nb"))), Seq("source_b"))
    def d(c: Column) = c.cast("double")
    val termQ = floor(sqrt(d(col("ca")) * d(col("cb"))
      / (d(col("na")) * d(col("nb")))) * 1e9 + 0.5).cast("long")
    val sums = pairs.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"), sum(termQ.cast(Dec)).as("bcq"))
    // Dense pair scaffold off the bounded totals frame: a fully
    // DISJOINT pair must still publish (n_shared = 0, H = 1) — the
    // inner term join alone would silently drop exactly the most
    // alien pairs.
    val scaffold = totals.select(col("source").as("source_a"))
      .crossJoin(broadcast(totals.select(col("source").as("source_b"))))
      .filter(col("source_a") < col("source_b")) // bounded: |sources|²
    scaffold.join(sums, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        TextF.round6HalfUp(
          coalesce(d(col("bcq")), lit(0.0)) / 1e9).as("bhattacharyya"),
        TextF.round6HalfUp(
          sqrt(greatest(lit(0.0),
            lit(1.0) - coalesce(d(col("bcq")), lit(0.0)) / 1e9)))
          .as("hellinger"))
      .orderBy("source_a", "source_b")
  }

  /** Zipf rank-frequency slope per source on the DOUBLING grid — the
    * one-number "is this source natural language" read behind
    * `coverage_curve` (a Zipfian corpus reads slope ≈ −1 in log-log;
    * machine-generated or boilerplate-heavy sources flatten or
    * cliff). Fitting log f on log rank needs logs — banned libm — so
    * both axes quantize to their ⌊log₂⌋ bucket via the BINARY-string
    * trick (`length(bin(n)) − 1`, the `token_len_histogram` move) and
    * the fit is token-WEIGHTED least squares over the integer grid:
    * slope = (WΣxy − ΣxΣy)/(WΣx² − (Σx)²) with every sum exact (x, y
    * ≤ 63, products in decimal(38,0) for the 10⁸-type headroom), ONE
    * double division for the slope and one fixed two-term chain for
    * the intercept, 6 dp. Degenerate sources (< 2 distinct rank
    * buckets) null via nullif rather than fake a fit.
    *
    * Shape: one token-explode count (the fact shuffle); the
    * within-source rank rides [[graft.Scale.groupedTwoPhaseRank]] —
    * a plain Window.partitionBy(source) caps parallelism at the
    * source vocabulary (~5) and one dominant source ≈ the whole vocab
    * through one task (the contentRanked lesson); everything after is
    * a per-source aggregate. */
  def zipfSlopeOf(docs: DataFrame): DataFrame = {
    val counts = Corpus.tokenTfOf(docs, "source", "f")
    val ranked = graft.Scale.groupedTwoPhaseRank(counts, "source",
      Seq(col("f").desc, col("token")), snapshotInput = false)
    val xy = ranked.select(col("source"),
      (length(bin(col("__rank"))) - 1).cast("long").as("x"),
      (length(bin(col("f"))) - 1).cast("long").as("y"))
    def d(c: Column) = c.cast("double")
    val agg = xy.groupBy("source").agg(
      count(lit(1)).as("n_types"),
      countDistinct(col("x")).as("n_buckets"),
      sum(col("x").cast(Dec)).as("sx"),
      sum(col("y").cast(Dec)).as("sy"),
      sum((col("x") * col("y")).cast(Dec)).as("sxy"),
      sum((col("x") * col("x")).cast(Dec)).as("sxx"))
    val w = col("n_types").cast(Dec)
    val den = w * col("sxx") - col("sx") * col("sx")
    val slope = d(w * col("sxy") - col("sx") * col("sy")) /
      nullif(d(den), lit(0.0))
    agg.select(col("source"), col("n_types"), col("n_buckets"),
        TextF.round6HalfUp(slope).as("slope"),
        TextF.round6HalfUp(
          (d(col("sy")) - slope * d(col("sx"))) / d(col("n_types")))
          .as("intercept"))
      .orderBy("source")
  }

  /** Skip-gram collocations: unordered token pairs co-occurring
    * within a ±`window` token window, ranked by log-free lift — the
    * word2vec/GloVe co-occurrence-table prep ([[collocationsOf]]
    * mines ADJACENT bigrams; distributional semantics needs the
    * window) and the phrase-table read behind "which terms travel
    * together". Pair count normalizes by the total window-pair mass;
    * lift parenthesization mirrors the oracle exactly (correctly-
    * rounded IEEE ops ⇒ same bits), 4 dp, min-count floor, top-k by
    * (lift DESC, count DESC, pair) so ties break deterministically.
    *
    * Shape: the [[pairLift]] frame over `window` [[pairsAt]] slices
    * per doc, normalized by the total window-pair mass. Pair-explode
    * mass is `window`·tokens — linear with a small constant. */
  def skipgramPairsOf(docs: DataFrame, window: Int = 3,
                      minCount: Long = 5, k: Int = 20): DataFrame = {
    require(window >= 1 && k > 0, s"need window >= 1 and k > 0, got $window/$k")
    pairLift(docs, concat((1 to window).map(pairsAt): _*),
        (1 to window).map(off => greatest(col("n") - off, lit(0))).reduce(_ + _),
        "cp", minCount)
      .orderBy(col("lift").desc, col("cp").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** TextRank keyword extraction (Mihalcea-Tarau '04): PageRank over
    * the word co-occurrence graph — [[skipgramPairsOf]] builds the
    * edges (±`window` token pairs on the STOPWORD-FILTERED sequence,
    * the TextRank convention), the exact-integer damped iteration
    * [[graft.operators.Graph.pagerankOf]] runs
    * ([[Graph.integerPagerank]]) ranks them, top-k publish. The
    * corpus-level sibling of [[tfidfTopTermsOf]]: tf-idf scores a
    * term by its own counts; TextRank scores it by the COMPANY it
    * keeps — a term bridging many frequent contexts outranks a
    * frequent-but-isolated one.
    *
    * Determinism: the [[graft.operators.Graph.pagerankOf]] contract
    * verbatim — rank mass on the 10¹² integer grid, (rq·w) div Σw
    * contributions, 15/85 damping by integer div, lazy checkpoints;
    * ties at the top-k boundary break on the token. Edges are
    * symmetric (undirected co-occurrence), self-pairs dropped,
    * cp ≥ `minCount` prunes hapax noise map-side.
    *
    * Shape: pair explode is [[skipgramPairsOf]]' map-side
    * [[pairsAt]] slices (window·tokens mass — no positional
    * self-join); every iteration shuffles the VOCABULARY-bounded
    * edge frame only. */
  def textrankKeywordsOf(docs: DataFrame, window: Int = 2,
                         minCount: Long = 2, iterations: Int = 10,
                         k: Int = 20): DataFrame = {
    require(window >= 1 && iterations > 0 && k > 0,
      s"need window/iterations/k positive, got $window/$iterations/$k")
    val stop = graft.operators.TextAnalysis.Stopwords
    val toks = docs
      .select(filter(TextF.tokens(col("text")),
        t => !t.isin(stop.map(_.asInstanceOf[Any]): _*) && length(t) >= 2)
        .as("toks"))
      .select(col("toks"), size(col("toks")).as("n"))
      .localCheckpoint(false)
    val pairs = toks
      .select(explode(concat((1 to window).map(pairsAt): _*)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cp"))
      .filter(col("cp") >= minCount)
    val edges = pairs.select(col("w1").as("src"), col("w2").as("dst"),
        col("cp").as("w"))
      .union(pairs.select(col("w2").as("src"), col("w1").as("dst"),
        col("cp").as("w")))
    val edgeOut = Graph.withOutWeight(edges)
    val nodes = edgeOut.select(col("src").as("token")).distinct()
      .localCheckpoint(false) // symmetric edges: every node is a src
    Graph.integerPagerank(edgeOut, Graph.uniformBase(nodes), iterations)
      .orderBy(col("rq").desc, col("token"))
      .limit(k)
      .select(col("token"), col("rq"), Graph.massShare(col("rq")).as("score"))
  }

  /** Tokenizer efficiency per language — the budgeting table behind
    * every multilingual-mix decision ([[corpusCardOf]] counts tokens;
    * this prices them): characters per BPE token (how much TEXT a
    * token buys — the number that collapses for scripts a tokenizer
    * underserves) and BPE-per-whitespace fertility (how many
    * subwords a "word" costs — [[graft.operators.Tokenizer]] measures
    * this for the LEARNED merges; this is the pre-tokenizer floor).
    * A language paying 2× the characters-per-token of English gets
    * half the context window — the fairness/cost read.
    *
    * Shape: one map-side counting scan (the native
    * [[graft.functions.TextF.bpeTokenCount]] — counting, not
    * materializing, tokens), one bounded lang aggregate, 4-dp
    * ratios. */
  def tokenizerEfficiencyOf(docs: DataFrame): DataFrame = {
    docs.select(col("lang"),
        length(col("text")).cast("long").as("chars"),
        TextF.tokenCount(col("text")).cast("long").as("ws"),
        TextF.bpeTokenCount(col("text")).cast("long").as("bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("chars").as("n_chars"),
        sum("ws").as("n_ws_tokens"), sum("bpe").as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_chars"),
        col("n_ws_tokens"), col("n_bpe_tokens"),
        TextF.round4HalfUp(expr(
          "CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)"))
          .as("chars_per_bpe"),
        TextF.round4HalfUp(expr(
          "CAST(n_bpe_tokens AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE)"))
          .as("bpe_per_word"))
      .orderBy("lang")
  }

  /** DeLong standard error for [[aucQualityOf]]'s per-source AUC —
    * the error bar the eval family's point estimates were missing
    * (row 118 bootstraps MEANS; AUC has a closed-form nonparametric
    * variance, DeLong '88, from the per-observation placement
    * values): V₁₀ for a positive = its share of negatives below
    * (ties half), V₀₁ symmetric; SE² = S₁₀/n_pos + S₀₁/n_neg.
    *
    * Determinism: placements are CONSTANT per (score) grid cell, so
    * each squared deviation clears denominators to the exact integer
    * (p·n − u2)² in decimal(38,0) (p = 2·below + ties, u2 = the
    * 2·U statistic [[aucQualityOf]] already sums), weighted by cell
    * counts — ONE double chain with oracle-mirrored parenthesization
    * renders SE and the 95% band. Degenerate classes (n ≤ 1 on a
    * side) null via nullif.
    *
    * Shape: the same (source, score) grid as the AUC — one
    * map-combinable aggregate absorbs the fact mass; the grid windows
    * are value-vocabulary-bounded. */
  def aucDelongSeOf(docs: DataFrame, posLang: String = "en"): DataFrame = {
    val w = Window.partitionBy("source").orderBy("score")
    val below = w.rowsBetween(Window.unboundedPreceding, -1)
    val above = w.rowsBetween(1, Window.unboundedFollowing)
    val grid = docs
      .select(col("source"),
        TextF.qualityScore(col("text"), TextAnalysis.Stopwords).as("score"),
        when(col("lang") === posLang, 1L).otherwise(0L).as("pos"))
      .groupBy("source", "score")
      .agg(sum("pos").as("np"), sum(lit(1L) - col("pos")).as("nn"))
      .withColumn("nn_below", coalesce(sum("nn").over(below), lit(0L)))
      .withColumn("np_above", coalesce(sum("np").over(above), lit(0L)))
    val tot = grid.groupBy("source")
      .agg(sum("np").as("tp"), sum("nn").as("tn"),
        sum(col("np") * (lit(2L) * col("nn_below") + col("nn"))).as("u2"))
    val dev = grid.join(broadcast(tot), Seq("source")) // bounded: 1 row/source
      .select(col("source"),
        (col("np").cast(Dec) *
          (((lit(2L) * col("nn_below") + col("nn")) * col("tp") - col("u2"))
            .cast(Dec) *
           ((lit(2L) * col("nn_below") + col("nn")) * col("tp") - col("u2"))
            .cast(Dec))).as("d10"),
        (col("nn").cast(Dec) *
          (((lit(2L) * col("np_above") + col("np")) * col("tn") - col("u2"))
            .cast(Dec) *
           ((lit(2L) * col("np_above") + col("np")) * col("tn") - col("u2"))
            .cast(Dec))).as("d01"))
      .groupBy("source")
      .agg(sum("d10").as("s10"), sum("d01").as("s01"))
    def d(c: Column) = c.cast("double")
    val out = tot.join(dev, Seq("source"))
      .filter(col("tp") > 0 && col("tn") > 0)
    val auc = d(col("u2")) /
      (lit(2.0) * d(col("tp")) * d(col("tn")))
    val se = sqrt(
      d(col("s10")) / (lit(4.0) * d(col("tp")) * d(col("tp"))
        * d(col("tn")) * d(col("tn"))
        * nullif(d(col("tp")) - 1.0, lit(0.0)) * d(col("tp")))
      + d(col("s01")) / (lit(4.0) * d(col("tp")) * d(col("tp"))
        * d(col("tn")) * d(col("tn"))
        * nullif(d(col("tn")) - 1.0, lit(0.0)) * d(col("tn"))))
    out.select(col("source"), col("tp").as("n_pos"), col("tn").as("n_neg"),
        TextF.round6HalfUp(auc).as("auc"),
        TextF.round6HalfUp(se).as("delong_se"),
        TextF.round6HalfUp(auc - lit(1.959964) * se).as("ci_lo"),
        TextF.round6HalfUp(auc + lit(1.959964) * se).as("ci_hi"))
      .orderBy("source")
  }

  /** Decile lift table for the quality score as a `posLang` detector —
    * THE practitioner table behind every targeting decision (AUC/PR/
    * Brier say the score works; this says "mail the top 2 deciles,
    * capture X% of positives at Y× the base rate"): documents ranked
    * by (score DESC, doc_id) into exact ntile deciles, per-decile
    * positive rate, lift vs the base rate, cumulative capture.
    *
    * Determinism: the rank rides [[graft.Scale.twoPhaseRank]] +
    * `ntileFromRank` (a fact-scale frame — never a single-task
    * window); every published number is an exact integer ppm division
    * with decimal(38,0) cross-products (lift's n_pos·N crosses int64
    * at 10⁹ docs).
    *
    * Shape: one scoring scan into the two-phase range exchange, one
    * bounded decile aggregate, the cumsum on the 10-row frame. */
  def liftTableOf(docs: DataFrame, posLang: String = "en",
                  tiles: Int = 10): DataFrame = {
    require(tiles >= 2, s"tiles must be >= 2, got $tiles")
    val scored = docs.select(col("doc_id"),
      TextF.qualityScore(col("text"), TextAnalysis.Stopwords).as("score"),
      when(col("lang") === posLang, 1L).otherwise(0L).as("pos"))
    val (ranked, total) = graft.Scale.twoPhaseRank(scored,
      Seq(col("score").desc, col("doc_id")))
    val per = ranked
      .withColumn("decile", graft.Scale.ntileFromRank("__rank", tiles, total))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"))
    val tot = per.agg(sum("n_docs").as("nn"), sum("n_pos").as("np")) // 1 row
    val cumW = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow) // ≤ tiles
    per.withColumn("cum_pos", sum("n_pos").over(cumW))
      .crossJoin(broadcast(tot)) // 1 row by construction
      .select(col("decile"), col("n_docs"), col("n_pos"),
        expr("(n_pos * 1000000) div n_docs").as("pos_rate_ppm"),
        expr(s"""CASE WHEN np > 0 THEN
                (CAST(n_pos AS $Dec) * nn * 1000000)
                  div (CAST(n_docs AS $Dec) * np)
                ELSE NULL END""").as("lift_ppm"),
        expr("""CASE WHEN np > 0
                THEN (cum_pos * 1000000) div np ELSE NULL END""")
          .as("capture_ppm"))
      .orderBy("decile")
  }

  /** The three corpus gates evaluated in ONE projection — the shared
    * frame [[cochranQGatesOf]] and [[fleissKappaGatesOf]] fold:
    * [[gopherRulesOf]]'s rule conjunction, the corpus_clean quality
    * threshold, and the target-language gate (ground-truth `lang` ==
    * 'en' — the allowlist cut every monolingual pipeline runs).
    * Null-gate docs read rejected (the [[mcnemarGatesOf]] coalesce
    * contract). */
  private def threeGates(minQuality: Double): DataFrame => DataFrame =
    docs => docs.select(
      coalesce(gopherKeep(50, 100000), lit(false)).as("g1"),
      coalesce(TextF.qualityScore(col("text"), TextAnalysis.Stopwords)
        >= minQuality, lit(false)).as("g2"),
      coalesce(col("lang") === "en", lit(false)).as("g3"))

  /** Cochran's Q test across the THREE corpus gates (Cochran '50 —
    * [[mcnemarGatesOf]]'s k-treatment generalization: McNemar asks
    * whether TWO gates disagree systematically; Q asks whether the
    * three gates' pass rates differ AT ALL on the same documents,
    * the omnibus a pipeline owner runs before pairwise McNemars):
    * Q = (k−1)·(k·ΣC_j² − T²)/(k·T − ΣR_i²) with C_j the per-gate
    * pass counts, R_i each doc's pass count, T = ΣC_j = ΣR_i;
    * χ²_{k−1} verdict (df = 2 → 5.991465 at α = 0.05).
    *
    * Exactness: every term is an exact integer off ONE map-side
    * projection and ONE 1-row aggregate (ΣR² folds as sum(r·r) — no
    * doc_id shuffle, the fact never repartitions); squares ride
    * decimal(38,0) (C_j² passes 2⁶³ at ~10¹⁰ docs); Q is one double
    * division. All-unanimous docs (every R_i ∈ {0, k}) zero the
    * denominator → Q NULL via try_divide → not significant. */
  def cochranQGatesOf(docs: DataFrame, minQuality: Double = 0.9): DataFrame = {
    threeGates(minQuality)(docs)
      .select((when(col("g1"), 1L).otherwise(0L)
        + when(col("g2"), 1L).otherwise(0L)
        + when(col("g3"), 1L).otherwise(0L)).as("r"),
        when(col("g1"), 1L).otherwise(0L).as("b1"),
        when(col("g2"), 1L).otherwise(0L).as("b2"),
        when(col("g3"), 1L).otherwise(0L).as("b3"))
      .agg(count(lit(1)).as("n_docs"),
        sum("b1").as("c_gopher"), sum("b2").as("c_quality"),
        sum("b3").as("c_lang"),
        sum("r").as("t"), sum(expr("r * r")).as("r2"))
      .select(col("n_docs"), col("c_gopher"), col("c_quality"),
        col("c_lang"),
        r6(expr(
          s"""try_divide(
             |  2.0D * CAST(3 * (CAST(c_gopher AS $Dec) * c_gopher
             |      + CAST(c_quality AS $Dec) * c_quality
             |      + CAST(c_lang AS $Dec) * c_lang)
             |    - CAST(t AS $Dec) * t AS DOUBLE),
             |  CAST(3 * t - r2 AS DOUBLE))""".stripMargin)).as("q_cochran"))
      .withColumn("significant",
        when(col("q_cochran").isNull, lit(false))
          .otherwise(col("q_cochran") > 5.991465))
  }

  /** Fleiss' kappa across the three corpus gates (Fleiss '71 — the
    * AGREEMENT companion to [[cochranQGatesOf]]'s difference test:
    * Q says whether pass rates differ, κ says how much the gates
    * agree BEYOND CHANCE doc-by-doc — the multi-rater read
    * cohen_kappa's two-rater form can't give): per-doc agreement
    * P_i = (R(R−1) + (k−R)(k−R−1))/(k(k−1)), chance from the pooled
    * pass rate, κ = (P̄ − P̄e)/(1 − P̄e); Landis-Koch verbal bands on
    * the ROUNDED κ (the kendall_w grid-stable-label rule).
    *
    * Exactness: with denominators CLEARED, κ = (3n·(ΣR² − 3T + 3n)
    * − D)/(9n² − D) where D = T² + (3n−T)² — every term an exact
    * integer off the SAME one-projection one-fold shape as Q
    * (decimal(38,0) products), ONE double division at the edge.
    * T = 0 or T = 3n (chance agreement 1) nulls κ via try_divide →
    * 'undefined'. */
  def fleissKappaGatesOf(docs: DataFrame, minQuality: Double = 0.9): DataFrame = {
    threeGates(minQuality)(docs)
      .select((when(col("g1"), 1L).otherwise(0L)
        + when(col("g2"), 1L).otherwise(0L)
        + when(col("g3"), 1L).otherwise(0L)).as("r"))
      .agg(count(lit(1)).as("n_docs"),
        sum("r").as("t"), sum(expr("r * r")).as("r2"))
      .select(col("n_docs"), col("t"),
        r6(expr(
          s"""try_divide(
             |  CAST(3 * CAST(n_docs AS $Dec) * (r2 - 3 * t + 3 * n_docs)
             |    - (CAST(t AS $Dec) * t
             |       + CAST(3 * CAST(n_docs AS $Dec) - t AS $Dec)
             |         * (3 * CAST(n_docs AS $Dec) - t)) AS DOUBLE),
             |  CAST(9 * CAST(n_docs AS $Dec) * n_docs
             |    - (CAST(t AS $Dec) * t
             |       + CAST(3 * CAST(n_docs AS $Dec) - t AS $Dec)
             |         * (3 * CAST(n_docs AS $Dec) - t)) AS DOUBLE))"""
            .stripMargin)).as("kappa"))
      .withColumn("agreement",
        when(col("kappa").isNull, lit("undefined"))
          .when(col("kappa") >= 0.8, lit("almost_perfect"))
          .when(col("kappa") >= 0.6, lit("substantial"))
          .when(col("kappa") >= 0.4, lit("moderate"))
          .when(col("kappa") >= 0.2, lit("fair"))
          .when(col("kappa") >= 0.0, lit("slight"))
          .otherwise(lit("poor")))
  }

  /** Arrival-decile quality & source-mix drift (the crawl-health
    * dashboard beside row 462's novelty curve: novelty says whether
    * new data ADDS information, this says whether it's GETTING WORSE
    * and whether the source mix is drifting — the two silent ways a
    * long-running ingest degrades a training corpus): per (arrival
    * decile, source): doc count, mean quality on the 4-dp grid
    * (per-doc scores quantize to 1e4-integers BEFORE the mean — the
    * sum is exact, ONE double division at the edge), whitespace +
    * BPE token mass. The decile is [[graft.operators.Dedup
    * .noveltyCurveOf]]'s map-side id arithmetic off the 1-row bounds
    * broadcast — never an ntile over a fact-scale window.
    *
    * Shape: ONE documents scan, map-side regex scoring (codegen'd,
    * the corpus_clean class), one bounded (≤10×|sources|) aggregate. */
  def arrivalQualityMixOf(docs: DataFrame): DataFrame = {
    val bounds = docs.agg(min("doc_id").as("id0"), max("doc_id").as("id1"))
    docs
      .crossJoin(broadcast(bounds))
      .select(least(lit(9L),
          expr("((doc_id - id0) * 10) div (id1 - id0 + 1)")).as("decile"),
        col("source"),
        TextF.grid4(TextF.qualityScore(col("text"), TextAnalysis.Stopwords))
          .as("q4"),
        TextF.tokenCount(col("text")).cast("long").as("ws_toks"),
        TextF.bpeTokenCount(col("text")).cast("long").as("bpe_toks"))
      .groupBy("decile", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("q4").as("q4s"),
        sum("ws_toks").as("ws_tokens"),
        sum("bpe_toks").as("bpe_tokens"))
      .select(col("decile"), col("source"), col("n_docs"),
        TextF.round4HalfUp(
          col("q4s").cast("double") / col("n_docs").cast("double") / 1e4)
          .as("mean_quality"),
        col("ws_tokens"), col("bpe_tokens"))
      .orderBy("decile", "source")
  }
}
