package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Single-pass moment sketch for PCA: one flat Long array holding
  * [n, Σq (d), Σqqᵀ (d²)] with every component quantized to 1e-6
  * integers BEFORE summing — partition- and merge-order independent
  * (the engine's quantized-mean contract, cf.
  * [[Cluster]]'s centroid scaladoc), and a fixed ~33 KB buffer at
  * d = 64 regardless of corpus size. Products of 1e6-scale integers
  * are re-scaled to 1e-6 units after each multiply so the running sums
  * stay far from Long overflow (|x| ≤ 1 ⇒ per-row |q_i·q_j|/1e6 ≤ 1e6;
  * 2⁶³ holds ~9×10¹² such rows per partition-merge chain).
  */
class GramMoments(d: Int) extends Aggregator[Seq[Double], Array[Long], Array[Long]] {
  require(d > 0, s"dimension must be positive, got $d")
  private val D2 = 1 + d + d * d

  override def zero: Array[Long] = new Array[Long](D2)

  override def reduce(b: Array[Long], x: Seq[Double]): Array[Long] = {
    require(x.length == d, s"expected dim $d, got ${x.length}")
    val q = new Array[Long](d)
    var i = 0
    while (i < d) { q(i) = Behavior.micro(x(i)); i += 1 }
    b(0) += 1
    i = 0
    while (i < d) {
      b(1 + i) += q(i)
      var j = 0
      val row = 1 + d + i * d
      while (j < d) {
        // q_i·q_j is in 1e-12 units; shift back to 1e-6 units so the
        // accumulator scale matches Σq and overflow headroom is ~1e12
        // rows. The truncation (±5e-7 per product) is deterministic.
        b(row + j) += q(i) * q(j) / 1000000L
        j += 1
      }
      i += 1
    }
    b
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < D2) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

/** PCA over the embedding table — the projection pass a pipeline runs
  * for visualization, drift monitoring in a low-rank space, or
  * whitening before clustering.
  *
  * Scale shape: ONE distributed pass reduces the corpus to a fixed
  * d+d²-long moment sketch ([[GramMoments]] — map-side combinable,
  * ~33 KB buffers); the d×d eigensolve happens on the driver (64² is
  * microscopic next to any data pass — the same bounded-summary
  * driver step as [[HeavyHitters]]' candidate set), and the
  * projection is a second map-only pass against the two PC vectors
  * baked in as literals. Nothing unbounded ever reaches the driver.
  *
  * Deterministic end to end: quantized integer moments, a FIXED
  * 200-step power iteration (no convergence test to flake on), ties
  * and signs pinned (largest-|component| coordinate made positive),
  * projections rounded to 6 dp. Iterative eigensolves are not
  * SQL-expressible → rows-only check + PcaSpec property coverage
  * (cf. bpe_merges).
  */
object Pca {

  /** Power iteration with deflation on the driver-side covariance.
    * Returns (pc1, var1, pc2, var2). */
  private[graft] def top2(cov: Array[Array[Double]]): (Array[Double], Double, Array[Double], Double) = {
    val d = cov.length
    def matvec(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
      val r = new Array[Double](d)
      var i = 0
      while (i < d) {
        var s = 0.0; var j = 0
        while (j < d) { s += m(i)(j) * v(j); j += 1 }
        r(i) = s; i += 1
      }
      r
    }
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    def signFix(v: Array[Double]): Array[Double] = {
      val k = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(k) < 0) v.map(-_) else v
    }
    def leading(m: Array[Array[Double]]): (Array[Double], Double) = {
      var v = normalize(Array.fill(d)(1.0))
      var it = 0
      while (it < 200) { v = normalize(matvec(m, v)); it += 1 }
      val fixed = signFix(v)
      val mv = matvec(m, fixed)
      (fixed, fixed.zip(mv).map { case (a, b) => a * b }.sum)
    }
    val (v1, l1) = leading(cov)
    val deflated = Array.tabulate(d, d)((i, j) => cov(i)(j) - l1 * v1(i) * v1(j))
    val (v2, l2) = leading(deflated)
    (v1, l1, v2, l2)
  }

  /** Project every vector onto the top-2 principal components of the
    * (centered) embedding distribution. Output: (vec_id, label, pc1,
    * pc2), rounded to 6 dp. */
  def pcaEmbedOf(embeddings: DataFrame, d: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    val vecs = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))
    val sketchUdaf = udaf(new GramMoments(d),
      ExpressionEncoder[Seq[Double]]())
    // ONE bounded row leaves the cluster: n, Σq, Σqqᵀ.
    val Row(m: scala.collection.Seq[Long @unchecked]) =
      vecs.agg(sketchUdaf(col("emb")).as("m")).head()
    val n = m.head.toDouble
    require(n > 0, "PCA over an empty table")
    val mean = Array.tabulate(d)(i => m(1 + i).toDouble / 1e6 / n)
    // moments are in 1e-6 units: E[x_i x_j] = Σqqᵀ_ij / 1e6 / n.
    val cov = Array.tabulate(d, d) { (i, j) =>
      m(1 + d + i * d + j).toDouble / 1e6 / n - mean(i) * mean(j)
    }
    val (v1, _, v2, _) = top2(cov)
    def proj(v: Array[Double]): org.apache.spark.sql.Column = {
      val c = v.zip(mean).map { case (a, b) => a * b }.sum
      round(aggregate(
        zip_with(col("emb"), typedLit(v.toSeq), (x, w) => x * w),
        lit(0.0), _ + _) - lit(c), 6)
    }
    vecs.select(col("vec_id"), col("label"),
      proj(v1).as("pc1"), proj(v2).as("pc2"))
      .orderBy("vec_id")
  }
}
