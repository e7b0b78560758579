package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline operators, all as
  * Column expressions so they stay inside Catalyst (pushdown, pruning)
  * and scale to 100 TB without serialization overhead.
  */
object TextF {

  /** Whitespace tokenization (matches DuckDB
    * `regexp_split_to_array(trim(x), '\s+')` for the oracle). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pre-tokenization regex (the GPT-2 pattern family,
    * simplified): runs of letters, runs of digits, runs of other
    * non-space symbols — each optionally absorbing one leading space —
    * or a whitespace run. No lookahead, alternatives are
    * first-char-disjoint, and whitespace is an EXPLICIT class rather
    * than `\s` (Java's `\s` includes vertical tab, RE2's does not),
    * so Java regex (Spark) and RE2 (DuckDB oracle) tokenize
    * identically on every input. */
  val BpeTokenPattern: String =
    " ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"

  /** Token count under BPE-ish pre-tokenization — the corpus-costing
    * number an LLM-data pipeline budgets by, vs whitespace counting.
    * Counting-only native scan ([[graft.plans.BpeTokenCount]]): the
    * composable form `size(regexp_extract_all(text, BpeTokenPattern,
    * 0))` allocates a string per token just to count them and was the
    * most allocation-bound map stage in the suite. Oracles keep using
    * `len(regexp_extract_all(...))` — equivalence is property-tested. */
  def bpeTokenCount(text: Column): Column =
    graft.plans.ColumnBridge.column(
      graft.plans.BpeTokenCount(graft.plans.ColumnBridge.expression(text)))

  /** Token n-gram shingles joined by a single space. Documents with
    * fewer than n tokens fall back to whole-token shingles — an empty
    * shingle set would give every short doc an identical (NULL) MinHash
    * signature and silently cluster distinct short docs as duplicates. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))
    ).otherwise(toks)
  }

  /** Strict token n-gram shingles: documents with fewer than n tokens
    * yield an EMPTY set (no whole-token fallback). Decontamination
    * needs this — falling back to unigrams would let single shared
    * words mark the whole corpus contaminated. */
  def strictShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Adjacent token pairs as (w1, w2) structs from a MATERIALIZED
    * token-array column and its size — one zip_with pass over two
    * shifted slices. The per-index form (transform(sequence(..), i =>
    * slice(toks, i+1, 2))) re-enters its interpreted lambda per
    * element and measured 7× slower at sf0.1. Fewer than 2 tokens →
    * empty. Callers pass attribute columns (not expressions) so the
    * token array is computed once per row. */
  def bigramPairs(toks: Column, n: Column): Column =
    when(n >= 2, zip_with(
      slice(toks, lit(1), n - 1),
      slice(toks, lit(2), n - 1),
      (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()-]", "")).cast("double") /
      nullif(length(text).cast("double"), lit(0.0))

  /** Ratio of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords.map(_.asInstanceOf[Any]): _*)))
      .cast("double") / nullif(size(toks).cast("double"), lit(0.0))
  }

  /** round(x, 4) as floor(x·1e4 + 0.5)/1e4 — pure IEEE ops, identical
    * on every engine. Built-in round()s disagree when x sits exactly
    * on a half-way double: Spark's BigDecimal HALF_UP reads the full
    * binary expansion (0.93625's nearest double is ...49999 → down)
    * while DuckDB rounds the decimal rendering (→ up); at sf0.1 three
    * documents' quality sums landed exactly on such points. Intended
    * for non-negative scores. */
  def round4HalfUp(c: Column): Column = grid4(c).cast("double") / lit(1e4)

  /** The 1e-4 integer grid: x half-up to whole 1e-4 units, a long (the
    * `floor` of a double), for sums that must stay exact. */
  def grid4(c: Column): Column = floor(c * lit(1e4) + lit(0.5))

  /** [[round4HalfUp]] at 6 dp, for signed values in [−1, 1] (rank
    * correlations, modularity): `floor` makes halves round toward +∞
    * regardless of sign — a DIRECTED half-up, identical in both
    * engines because the oracle mirrors the same floor form. */
  def round6HalfUp(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)

  /** Integer micro-unit sum → value at 4 dp: `floor(q/100 + 0.5)/1e4`
    * is the same double in every engine (cf. [[round4HalfUp]]). The
    * ONE implementation of the micros→4dp contract — operators whose
    * oracles mirror it must call this, not inline a copy. */
  def microsTo4dp(q: Column): Column =
    floor(q.cast("double") / lit(100.0) + lit(0.5)) / lit(1e4)

  /** The scalar twins of [[round4HalfUp]], [[round6HalfUp]] and
    * [[microsTo4dp]], for JVM-side state machines. Each equals its
    * Column form wherever x·1e4 (x·1e6) is finite and fits a long, and
    * on every q; beyond that the Column form's long step saturates
    * (and reads NaN as 0). */
  def round4HalfUp(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
  def round6HalfUp(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
  def microsTo4dp(q: Long): Double = math.floor(q / 100.0 + 0.5) / 1e4

  /** Heuristic quality score in [0,1]: favors mid-length docs with low
    * punctuation noise and a sane stopword ratio. Deterministic and
    * SQL-expressible (oracle-checkable). */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val sw = stopwordRatio(text, stopwords)
    val swScore = lit(1.0) - abs(sw - lit(0.15))
    val punctScore = lit(1.0) - least(punctRatio(text) * 10, lit(1.0))
    round4HalfUp((lenScore + swScore + punctScore) / 3.0)
  }

  /** Rolling polynomial fingerprint over tokens (left fold), kept inside
    * int64 via a Mersenne-prime modulus each step so Spark and DuckDB
    * (which errors on int64 overflow) agree bit-for-bit.
    * tokcode = len*131 + 31*ascii(first) + ascii(last). */
  def rollingFingerprint(text: Column): Column = {
    val toks = tokens(text)
    val codes = transform(toks, t =>
      length(t).cast("long") * 131L +
        ascii(substring(t, 1, 1)).cast("long") * 31L +
        ascii(substring(t, -1, 1)).cast("long"))
    aggregate(codes, lit(0L), (acc, c) => (acc * 1000003L + c) % 2147483647L)
  }

  /** High-quality 64-bit content fingerprint (Spark-native xxhash64);
    * use for exact dedup keys at scale. Not oracle-matched (DuckDB has
    * no xxhash64) — covered by scalatest instead. */
  def contentFingerprint(text: Column): Column = xxhash64(text)

  /** Character n-gram profile for the language-ID heuristic: top
    * character trigrams of the lowercased text. */
  def charTrigrams(text: Column): Column = {
    val t = lower(regexp_replace(text, "\\s+", " "))
    when(length(t) >= 3,
      transform(sequence(lit(0), length(t) - 3), i => t.substr(i + lit(1), lit(3))))
      .otherwise(array().cast("array<string>"))
  }
}
