package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.TextF

/** Misra-Gries frequent-items sketch as a typed [[Aggregator]]: a
  * fixed-size (≤ k entries) mergeable summary with the classic
  * guarantee that every item of frequency > N/k is present in the
  * summary after ANY merge order (Misra & Gries '82; merge rule from
  * Agarwal et al., "Mergeable Summaries", PODS'12). Estimates
  * themselves are merge-order dependent, so the operator treats the
  * sketch only as a CANDIDATE SET and confirms with a second exact
  * pass — the output (all tokens with cnt·k > N) is deterministic and
  * oracle-checkable.
  *
  * 100 TB shape: pass 1 is a single fixed-size sketch per partition
  * merged map-side (the whole shuffle is ≤ k entries per partition);
  * pass 2 groups only rows matching the ≤ k broadcast candidates, so
  * the exact count never shuffles the full vocabulary the way
  * [[Corpus.vocabDfOf]] must.
  */
class MisraGries(k: Int) extends Aggregator[String, mutable.HashMap[String, Long], Map[String, Long]] {
  require(k > 1, s"capacity must be > 1, got $k")

  override def zero: mutable.HashMap[String, Long] = mutable.HashMap.empty

  override def reduce(b: mutable.HashMap[String, Long], a: String): mutable.HashMap[String, Long] = {
    b.get(a) match {
      case Some(c) => b(a) = c + 1
      case None if b.size < k => b(a) = 1L
      case None =>
        // decrement-all; drop zeros (the classic k-sized MG step).
        // Iterate a SNAPSHOT: updating a mutable.HashMap's values
        // inside its own foreach corrupts the traversal (observed:
        // most entries silently skipped), so mutate only after copying
        // the entry set out.
        for ((t, c) <- b.toArray)
          if (c == 1) b.remove(t) else b(t) = c - 1
    }
    b
  }

  override def merge(b1: mutable.HashMap[String, Long], b2: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b2.foreach { case (t, c) => b1(t) = b1.getOrElse(t, 0L) + c }
    if (b1.size > k) {
      // subtract the (k+1)-th largest count from everything, keep > 0
      // (Agarwal et al. merge rule); snapshot first — see reduce.
      val m = b1.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      for ((t, c) <- b1.toArray)
        if (c - m <= 0) b1.remove(t) else b1(t) = c - m
    }
    b1
  }

  override def finish(b: mutable.HashMap[String, Long]): Map[String, Long] = b.toMap

  override def bufferEncoder: Encoder[mutable.HashMap[String, Long]] =
    Encoders.kryo[mutable.HashMap[String, Long]]
  override def outputEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
}

/** Count-min sketch (Cormode & Muthukrishnan '05) as a typed
  * [[Aggregator]]: a fixed `depth`×`width` grid of int64 counters;
  * each token increments one cell per row (cell chosen by that row's
  * hash), and a point estimate is the MIN over rows of the token's
  * cells — never under the true count, over by at most N·e/width with
  * probability 1−e^−depth. Unlike [[MisraGries]], whose per-item
  * estimates are merge-order dependent, EVERY CMS cell is a plain sum,
  * so the sketch — and every estimate read from it — is bit-identical
  * under any partitioning and merge order: deterministic without a
  * confirm pass.
  *
  * The row hashes are the four 32-bit chunks of ONE md5 per token —
  * engine-portable (the oracle recomputes identical cells from md5 in
  * SQL) and one digest per occurrence, not `depth`. Depth is therefore
  * fixed at 4.
  */
class CountMin(width: Int) extends Aggregator[String, Array[Long], Array[Long]] {
  require(width > 1, s"width must be > 1, got $width")
  val depth = 4

  override def zero: Array[Long] = new Array[Long](depth * width)

  override def reduce(b: Array[Long], token: String): Array[Long] = {
    val hex = CountMin.md5Hex(token)
    var r = 0
    while (r < depth) {
      val h = java.lang.Long.parseLong(hex.substring(8 * r, 8 * r + 8), 16)
      b((r * width + (h % width)).toInt) += 1L
      r += 1
    }
    b
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def finish(b: Array[Long]): Array[Long] = b

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}

object CountMin {
  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Lower-case 32-char md5 hex of the UTF-8 bytes — the exact string
    * DuckDB's `md5()` renders, so hash chunks agree cross-engine. */
  def md5Hex(s: String): String = {
    val d = Md5.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < bytes.length) {
      sb.append(Character.forDigit((bytes(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(bytes(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }
}

object HeavyHitters {

  /** Tokens with frequency strictly above N/k, found with a
    * sketch-then-confirm plan: MG candidates (plus the exact total) in
    * one pass, then an exact count restricted to the ≤ k broadcast
    * candidates. The threshold compares as `cnt · k > N` — pure
    * integer arithmetic, no division to disagree across engines.
    */
  def heavyHittersOf(docs: DataFrame, k: Int = 30): DataFrame = {
    val toks = docs.select(explode(TextF.tokens(col("text"))).as("token"))
    val sketch = udaf(new MisraGries(k), Encoders.STRING)
    val pass1 = toks.agg(sketch(col("token")).as("sketch"),
      count(lit(1)).as("total"))
    val cand = pass1.select(explode(map_keys(col("sketch"))).as("token"),
      col("total"))
    toks.join(broadcast(cand), "token")
      .groupBy("token", "total")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > col("total"))
      .select(col("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Count-min error audit: the top `topK` exact tokens with their CMS
    * point estimates and overestimates — the calibration read a team
    * takes BEFORE trusting the sketch for the long tail it cannot
    * verify (est ≥ exact always; the observed overestimate vs the
    * N/width bound says whether `width` fits this vocabulary). The
    * whole sketch is ONE fixed-size (4·width cells) map-combinable
    * aggregate — at 100 TB the shuffle is 32 KB per partition
    * regardless of fact size; the exact side is a vocabulary-bounded
    * count only needed for the audited head. Estimates are read by
    * plain array arithmetic against the 1-row broadcast cell frame —
    * bit-exact in any engine (see [[CountMin]]).
    */
  def countMinErrOf(docs: DataFrame, width: Int = 1024,
                    topK: Int = 20): DataFrame = {
    require(width > 1 && topK > 0, s"width > 1, topK > 0; got $width/$topK")
    val toks = docs.select(explode(TextF.tokens(col("text"))).as("token"))
    val sketch = udaf(new CountMin(width), Encoders.STRING)
    val cells = toks.agg(sketch(col("token")).as("cells"))
    val top = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token")).limit(topK)
    // est = min over the 4 hash rows of that row's cell; the row hash
    // is the r-th 32-bit chunk of md5(token) — same chunks the
    // Aggregator wrote (conv(…,16,10) = the JVM's parseLong(hex,16)).
    val est = (0 until 4).map { r =>
      val h = expr(
        s"cast(conv(substring(md5(token), ${8 * r + 1}, 8), 16, 10) as bigint) % $width")
      element_at(col("cells"), (lit(r * width) + h + 1).cast("int"))
    }.reduce(least(_, _))
    top.crossJoin(broadcast(cells)) // 1 row by construction
      .select(col("token"), col("exact_cnt"), est.as("est_cnt"),
        (est - col("exact_cnt")).as("overestimate"))
      .orderBy(col("exact_cnt").desc, col("token"))
  }
}
