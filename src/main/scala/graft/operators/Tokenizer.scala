package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.sources.Tables

/** Tokenizer TRAINING: learn byte-pair-encoding merge rules from the
  * corpus (Sennrich et al., ACL'16 — the algorithm behind every
  * BPE/WordPiece-family tokenizer). The engine's other token ops
  * APPLY a fixed tokenization; this learns one.
  *
  * Distributed shape: all iterations run over the WORD-FREQUENCY
  * table, not the corpus — the corpus is scanned exactly once to
  * count words, and from then on the working set is bounded by the
  * distinct-word vocabulary (orders of magnitude smaller than 100 TB
  * of text; this is why single-node BPE trainers survive on big
  * corpora, and the same collapse works distributed). Each iteration
  * is: adjacent-pair explode weighted by word frequency → one
  * map-side-combinable sum → a ONE-ROW argmax to the driver (the same
  * bounded-scalar contract as the Bloom bitset) → a map-side fold
  * applying the merge greedily left-to-right. The evolving symbol
  * table localCheckpoints per iteration (the [[Fixpoint]] loop's
  * precedent) so plan depth stays constant; durability trade-off at
  * cluster scale: [[graft.Sessions]]' checkpoint policy.
  *
  * Conventions (pinned by the spec): words are lowercased whitespace
  * tokens; pair statistics count OVERLAPPING occurrences ("aaa" has
  * two (a,a) pairs); the merge applies greedily left-to-right; ties
  * break on (count desc, left asc, right asc) — fully deterministic.
  */
object Tokenizer {

  /** Learn `merges` BPE rules. Output: one row per rule,
    * (rank, left, right, merged, pair_count), rank 1 = first merge.
    * Iterative and therefore not SQL-expressible → rows-only oracle
    * check + TokenizerSpec.
    */
  def bpeMergesOf(docs: DataFrame, merges: Int = 5): DataFrame = {
    require(merges > 0, s"merges must be positive, got $merges")
    val spark = docs.sparkSession
    var words = docs
      .select(explode(TextF.tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
      .localCheckpoint(false)

    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var i = 0
    var exhausted = false
    while (i < merges && !exhausted) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(0), size(col("syms")) - 2),
          j => struct(element_at(col("syms"), j + 1).as("l"),
            element_at(col("syms"), j + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect() // exactly one bounded row — the argmax scalar
      if (top.isEmpty) {
        exhausted = true // every word is a single symbol already
      } else {
        val (l, r, cnt) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        rules += ((i + 1, l, r, cnt))
        // Greedy left-to-right merge: fold each symbol array, joining
        // a trailing `l` with a current `r`. Column-API lambdas (no
        // SQL-string splicing — symbols may contain any character).
        val next = words.select(
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(x)))).as("syms"),
          col("freq"))
          .localCheckpoint() // EAGER: the parent's blocks free next line
        Fixpoint.freeCheckpoint(words)
        words = next
      }
      i += 1
    }
    Fixpoint.freeCheckpoint(words)
    import spark.implicits._
    rules.toSeq.toDF("rank", "left", "right", "merged_count")
      .select(col("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("merged_count"))
      .orderBy("rank")
  }

  /** APPLY learned merge rules: segment every word of every document
    * by replaying the rules in rank order (exactly how a trained BPE
    * tokenizer runs), and report per-doc subword statistics — the
    * fertility check (subwords per word) a tokenizer evaluation runs
    * before committing to a merge count. The rules are a bounded
    * driver-held list (M rows); application composes them into ONE
    * expression tree — M nested greedy folds — evaluated once per
    * DISTINCT word (the same vocabulary collapse the trainer lives
    * on: the interpreted fold per token OCCURRENCE measured 6× the
    * whole query), then per-doc counts come back through the (doc,
    * word, tf) frame with a vocabulary-bounded join AQE broadcasts.
    */
  def bpeSegmentOf(docs: DataFrame, rules: Seq[(String, String)]): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextF.tokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // two consumers: vocab + the join below
    val folded = rules.foldLeft(split(col("token"), "")) { case (syms, (l, r)) =>
      aggregate(syms, array().cast("array<string>"),
        (acc, x) => when(
          size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))
    }
    val vocab = tf.select(col("token")).distinct()
      .select(col("token"), size(folded).as("n_sub"))
    tf.join(vocab, "token")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_words"),
        sum(col("tf") * col("n_sub")).as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        TextF.round4HalfUp(
          col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"))
      .orderBy("doc_id")
  }

  /** Train on the corpus, then segment it with the learned rules —
    * the end-to-end fit/transform pair as one registered query. */
  def bpeSegment(spark: SparkSession, dir: String, merges: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rules = bpeMergesOf(docs, merges).collect() // bounded: `merges` rows
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeSegmentOf(docs, rules)
  }
}
