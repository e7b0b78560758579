package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.plans.{ColumnBridge, CosineSimilarity}

/** Vector math over `array<float>`/`array<double>` embedding columns. */
object VectorF {

  /** Cosine similarity via the native codegen expression
    * [[graft.plans.CosineSimilarity]] — the hot-path choice. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a.cast("array<double>")),
      ColumnBridge.expression(b.cast("array<double>"))))

  /** [[cosineSim]] rounded to 6 places: the score every ranking and
    * threshold over embeddings compares, so rank order and flags are
    * reproducible bit-for-bit across engines. */
  def roundedCosine(a: Column, b: Column): Column = round(cosineSim(a, b), 6)

  /** Built-in-functions fallback (zip_with + aggregate). Same result,
    * slower (higher-order functions are interpreted); kept as the
    * cross-check for the codegen path. */
  def cosineSimHof(a0: Column, b0: Column): Column = {
    val a = a0.cast("array<double>"); val b = b0.cast("array<double>")
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    val na = sqrt(aggregate(zip_with(a, a, (x, y) => x * y), lit(0.0), _ + _))
    val nb = sqrt(aggregate(zip_with(b, b, (x, y) => x * y), lit(0.0), _ + _))
    dot / nullif(na * nb, lit(0.0))
  }

  /** Deterministic random hyperplanes for LSH bucketing: `nPlanes`
    * vectors of `dim` gaussians from a fixed seed. Returned as literal
    * columns so the plan embeds them (no driver<->executor state). */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH code of `vec` against the given hyperplanes: an int
    * in [0, 2^nPlanes). Pure expressions — evaluated per row inside
    * codegen'd stages. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val v = vec.cast("array<double>")
    planes.zipWithIndex.map { case (p, bit) =>
      val pl = array(p.map(lit(_)): _*)
      val dot = aggregate(zip_with(v, pl, (x, y) => x * y), lit(0.0), _ + _)
      when(dot >= 0, lit(1 << bit)).otherwise(lit(0))
    }.reduce(_ + _)
  }
}
