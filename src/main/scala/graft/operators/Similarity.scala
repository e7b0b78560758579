package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorF
import Behavior.Dec

/** Scalar twin of [[graft.plans.CosineSimilarity]] for in-group use:
  * the SAME sequential fused loop (dot/norms accumulated index 0..n−1)
  * so results are bit-identical to the codegen expression, then the
  * same ⌊c·1e6 + ½⌋ quantization the MMR contract fixes. Top-level
  * object: flatMapGroups closures serialize a stable reference. */
private[graft] object MmrKernel extends Serializable {
  def cos6(x: Array[Double], y: Array[Double]): Long = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    Behavior.micro(dot / denom)
  }
}

/** Similarity search over the `embeddings` table (array<float>[64]).
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * and relies on Catalyst's WindowGroupLimit rewrite of
  * `row_number() <= k` — partition-local top-k before the shuffle, so
  * no executor ever materializes the full score matrix and nothing is
  * collected to the driver. The LSH path prunes candidates to one
  * hyperplane bucket before scoring.
  *
  * Every ranking here is one of two derivations: [[topK]] cuts a scored
  * frame per key, and [[nearest]] scores (query, neighbor) pairs by
  * [[graft.functions.VectorF.roundedCosine]] before cutting them.
  */
object Similarity {

  val TopK = 10
  val QuerySetSize = 8

  /** The `k` best rows per (`by`…, `key`) under (`score`, `id`
    * ascending), numbered 1..k in `rank`. Catalyst plans the
    * `row_number() <= k` cut as a WindowGroupLimit before the shuffle,
    * so only k rows per key move, and the id tiebreak makes the
    * ranking deterministic. */
  private[operators] def topK(scored: DataFrame, key: String, score: Column,
                              id: String, k: Int, rank: String = "rank",
                              by: Seq[String] = Nil): DataFrame =
    scored.withColumn(rank, row_number().over(
        Window.partitionBy((by :+ key).map(col): _*).orderBy(score, col(id))))
      .filter(col(rank) <= k)

  /** (by…, q_id, n_id, score, rank): the `k` nearest neighbors per
    * query (and per `by` group) among `pairs`, which carries q_id,
    * n_id, q_emb, the neighbor embedding `nEmb` and the `by` columns.
    * Scores are rounded before ranking so rank order is reproducible
    * bit-for-bit across engines; ties break on neighbor id. */
  private def nearest(pairs: DataFrame, nEmb: String, k: Int,
                      by: Seq[String] = Nil): DataFrame =
    topK(pairs.select(by.map(col) ++ Seq(col("q_id"), col("n_id"),
        VectorF.roundedCosine(col("q_emb"), col(nEmb)).as("score")): _*),
      "q_id", col("score").desc, "n_id", k, by = by)

  /** [[nearest]] over every (query, other vector) pair: the query set
    * `q` (q_id, q_emb) broadcasts against `corpus` (n_id, `nEmb`). */
  private def bruteForce(q: DataFrame, corpus: DataFrame, nEmb: String,
                         k: Int): DataFrame =
    nearest(broadcast(q).join(corpus, col("q_id") =!= col("n_id")), nEmb, k)

  /** Brute-force cosine top-k per query vector, via the native codegen
    * [[graft.plans.CosineSimilarity]] expression (see [[nearest]]). */
  def knnTopkOf(embeddings: DataFrame): DataFrame =
    bruteForce(
      embeddings.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      embeddings.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
      "n_emb", TopK)
      .orderBy("q_id", "rank")

  val LshPlanes = 6 // 64 buckets

  /** (vec_id, embedding, bucket): each vector's sign bucket under
    * `nPlanes` fixed hyperplanes, materialized once because both join
    * sides read it and the bucket is the expensive part. */
  private def lshBuckets(embeddings: DataFrame, nPlanes: Int): DataFrame =
    embeddings.select(col("vec_id"), col("embedding"),
        VectorF.lshBucket(col("embedding"), VectorF.hyperplanes(64, nPlanes))
          .as("bucket"))
      .localCheckpoint(false)

  /** Hamming-1 multiprobe: one row for `bucket` and one for each of the
    * `nPlanes` buckets one bit away (a borderline neighbor flips
    * exactly the planes it sits closest to). */
  private def multiprobe(bucket: Column, nPlanes: Int): Column =
    explode(array((0 +: (0 until nPlanes).map(1 << _)).map(m =>
      bucket.bitwiseXOR(lit(m))): _*))

  /** LSH-bucketed approximate NN with hamming-1 multiprobe: each query
    * scores candidates in its own sign bucket plus the LshPlanes
    * buckets one bit away. Single-bucket probing measured 2.5%
    * recall@10 vs brute force on the test embeddings; multiprobe takes
    * the candidate set to (planes+1)/2^planes of the data per query —
    * still ~11% of rows, not O(n) — while recovering useful recall. */
  def annLshOf(embeddings: DataFrame): DataFrame = {
    val emb = lshBuckets(embeddings, LshPlanes)
    val q = broadcast(emb.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        multiprobe(col("bucket"), LshPlanes).as("bucket")))
    nearest(q.join(
        emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("bucket")),
        Seq("bucket"))
      .filter(col("q_id") =!= col("n_id")), "n_emb", TopK)
      .orderBy("q_id", "rank")
  }

  val IvfCells = 16
  val IvfProbes = 2

  /** (vec_id, embedding, c_id, cscore): every vector beside the rounded
    * cosine to each of the `IvfCells` coarse centroids (deterministically
    * the first IvfCells vectors — a k-means stand-in with identical
    * plumbing), which broadcast. */
  private def ivfScores(embeddings: DataFrame): DataFrame = {
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    val cents = broadcast(emb.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb")))
    emb.join(cents)
      .select(col("vec_id"), col("embedding"), col("c_id"),
        VectorF.roundedCosine(col("embedding"), col("c_emb")).as("cscore"))
  }

  /** The IVF cell assignment: each vector's `nprobe` nearest cells of
    * [[ivfScores]], ties to the lowest cell id. */
  private def ivfCells(scores: DataFrame, nprobe: Int): DataFrame =
    topK(scores, "vec_id", col("cscore").desc, "c_id", nprobe, "rn")

  /** IVF-style approximate NN: vectors are assigned to their nearest
    * coarse cell ([[ivfCells]]), queries probe their `IvfProbes`
    * nearest cells and score only those cells' members. The 100 TB
    * shape: the centroid set broadcasts, cell assignment is one
    * map-side pass, and the probe join shuffles on cell id only —
    * candidates are nprobe/cells of the data, never O(n) per query.
    * Ranked as [[nearest]] ranks. */
  def annIvfOf(embeddings: DataFrame): DataFrame =
    annIvfAt(embeddings, IvfProbes)

  /** [[annIvfOf]] with the probe count as a parameter — the registered
    * query pins nprobe = [[IvfProbes]]; [[nprobeSweepOf]] walks it. */
  def annIvfAt(embeddings: DataFrame, nprobe: Int): DataFrame =
    nearest(ivfPairs(embeddings, Seq(nprobe)), "n_emb", TopK)
      .select(col("q_id"), col("n_id"), col("score"), col("rank"))
      .orderBy("q_id", "rank")

  /** (c_id, q_id, q_emb, rn, nprobe, n_id, n_emb): the candidate pairs
    * of every probe count in `probes` at once. The corpus is scored
    * against the centroids once for its cells and the query set once
    * for its probes; the query set ranks its max(probes) nearest cells
    * and each probe count keeps the first `nprobe` of them. The cut
    * compares `rn` with the `nprobe` column, not a literal, so the
    * ranking below it is the same for every count. */
  private def ivfPairs(embeddings: DataFrame, probes: Seq[Int]): DataFrame = {
    probes.foreach(np => require(np >= 1, s"nprobe must be >= 1, got $np"))
    val scores = ivfScores(embeddings)
    val cells = ivfCells(scores, 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("c_id"))
    val legs = broadcast(
      ivfCells(scores.filter(col("vec_id") < QuerySetSize), probes.max)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("c_id"), col("rn"), explode(array(probes.map(lit): _*)).as("nprobe"))
        .filter(col("rn") <= col("nprobe")))
    legs.join(cells, Seq("c_id")).filter(col("q_id") =!= col("n_id"))
  }

  /** Int8 scalar quantization of the embedding column — the compression
    * pass an embedding store runs before indexing (4× smaller, SIMD
    * dot products). Per vector: scale = 127/max|x|, q_i = round(x_i ·
    * scale). Map-only, zero shuffle; floats widen to double first so
    * the arithmetic is engine-reproducible. The quantized vector is
    * emitted as a CSV string (a raw array column would defeat the
    * harness's row hashing). `maxabs` is materialized in its own
    * projection — interpreted HOFs get no CSE, so an inline reference
    * would re-scan the array per use. */
  def embedQuantizeOf(embeddings: DataFrame): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val withMax = emb.select(col("vec_id"), col("emb"),
      array_max(transform(col("emb"), x => abs(x))).as("maxabs"))
    val withScale = withMax.select(col("vec_id"), col("emb"),
      when(col("maxabs") > 0, lit(127.0) / col("maxabs"))
        .otherwise(lit(0.0)).as("scale"))
    withScale.select(col("vec_id"),
      round(col("scale"), 6).as("scale"),
      array_join(transform(col("emb"),
        x => round(x * col("scale")).cast("int").cast("string")), ",").as("q8"))
      .orderBy("vec_id")
  }

  /** ⌈log₂(n/targetBucket)⌉ clamped to [5, 24] — the plane count that
    * keeps expected LSH bucket occupancy ≈ targetBucket as the corpus
    * grows (see [[dedupCosineOf]] for the candidate-budget math). */
  def cosinePlanesFor(n: Long, targetBucket: Int = 64): Int =
    math.min(24, math.max(5,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))

  /** Embedding-cosine near-dup: per vector, the nearest neighbor among
    * its LSH bucket plus the hamming-1 buckets (multiprobe on the
    * probe side only — a borderline near-dup flips the planes it sits
    * closest to, and single-bucket probing misses it).
    *
    * The plane count is sized to the DATA, not hardcoded: with
    * `nPlanes` planes, expected bucket occupancy is n/2^nPlanes and
    * each vector compares against (nPlanes+1) probed buckets, so the
    * candidate budget per vector is ≈ (nPlanes+1)·n/2^nPlanes and
    * total work ≈ n·(nPlanes+1)·targetBucket once
    * nPlanes = ⌈log₂(n/targetBucket)⌉ — LINEAR in n with a log-factor
    * probe count, where a fixed plane count degrades to O(n²/2^planes)
    * (the round-7 scale-killer: 32 buckets forever means 100× data →
    * 100× occupancy → 10000× pair work per bucket). The floor of 5
    * keeps small/test corpora on the exact plane set they always had;
    * the cap of 24 bounds the probe fan-out and keeps the bucket id an
    * int. targetBucket = 64 is measured, not guessed: the ×10
    * replication rehearsal (SURVEY §6) showed occupancy in the
    * 150-250 band costing ~3× over the sub-64 regime, and each probed
    * bucket still holds enough vectors that hamming-1 multiprobe keeps
    * its recall. At n = 10⁹, nPlanes = 24: ~16M buckets of ~60
    * vectors, 25 probes/vector — ~1.5k candidate comparisons per
    * vector, flat as the corpus grows. */
  def dedupCosineOf(embeddings: DataFrame, targetBucket: Int = 64): DataFrame = {
    // Footer-metadata count when the frame is a bare scan — one cheap
    // job, and the ONLY driver-side value the plan needs.
    val n = embeddings.count()
    val nPlanes = cosinePlanesFor(n, targetBucket)
    // Both join sides consume the buckets (keyed on probe vs home
    // bucket, so ReuseExchange can't dedupe), and the bucket
    // assignment is nPlanes interpreted-HOF dot products per row —
    // compute-dense, so spreadInput guards the 1-partition bench scan.
    val emb = lshBuckets(graft.Scale.spreadInput(embeddings, col("vec_id")), nPlanes)
    val a = emb.select(col("vec_id"), col("embedding").as("a_emb"),
      multiprobe(col("bucket"), nPlanes).as("bucket"))
    val b = emb.select(col("bucket"), col("vec_id").as("nn_id"), col("embedding").as("b_emb"))
    val scored = a.join(b, Seq("bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        VectorF.roundedCosine(col("a_emb"), col("b_emb")).as("cosine"))
    topK(scored, "vec_id", col("cosine").desc, "nn_id", 1, "rn").drop("rn")
      .orderBy("vec_id")
  }

  /** Sign-bit (1-bit) embedding quantization + Hamming ANN: bit i of a
    * vector's code is set iff `embedding[i] > 0`, packed into two
    * 32-bit halves so the per-pair distance is two XOR+POPCNT ops —
    * the cheapest possible candidate metric (32× smaller than the
    * float vector; cf. [[embedQuantizeOf]]'s int8 path at 8×). The
    * packing is 64 static codegen'd expressions (no higher-order
    * function, so nothing is re-evaluated per element), distances rank
    * with the same broadcast + partition-local [[topK]] shape as
    * [[knnTopkOf]]: the packed table never shuffles, only the k rows per
    * query do. Ties break on neighbor id for a deterministic ranking.
    */
  def annHammingOf(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    def packBits(emb: Column, from: Int): Column =
      graft.plans.ColumnBridge.column(graft.plans.SignPackBits(
        graft.plans.ColumnBridge.expression(emb), from))
    // Materialize the 16-byte codes once: both join sides reuse them,
    // so the pack runs once per vector instead of once per plan use.
    // At scale this is the same move: packed codes are 16× smaller
    // than the vectors and are what a 100 TB index would persist.
    val packed = embeddings.select(col("vec_id"),
      packBits(col("embedding"), 0).as("h0"),
      packBits(col("embedding"), 32).as("h1"))
      .localCheckpoint(false)
    val q = packed.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("h0").as("q0"), col("h1").as("q1"))
    val n = packed.select(col("vec_id").as("n_id"),
      col("h0").as("n0"), col("h1").as("n1"))
    val scored = broadcast(q).join(n, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (bit_count(col("q0").bitwiseXOR(col("n0"))) +
          bit_count(col("q1").bitwiseXOR(col("n1")))).as("hamming"))
    topK(scored, "q_id", col("hamming"), "n_id", k).orderBy("q_id", "rank")
  }

  /** Recall@k of the IVF index against the brute-force ground truth —
    * the evaluation every ANN deployment runs before trusting the
    * index (and re-runs when nprobe/cells are tuned). Composes the two
    * existing pipelines; per query: |approx ∩ exact| / k. Both sides
    * are k rows per query, so everything after them is negligible.
    */
  def annRecallOf(embeddings: DataFrame): DataFrame = {
    val exact = knnTopkOf(embeddings).select(col("q_id"), col("n_id"))
    val approx = annIvfOf(embeddings).select(col("q_id"), col("n_id"))
      .withColumn("hit", lit(1L))
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("q_id"), col("k"), col("hits"),
        graft.functions.TextF.round4HalfUp(
          col("hits").cast("double") / col("k").cast("double")).as("recall"))
      .orderBy("q_id")
  }

  /** IVF nprobe sweep — the knob curve behind [[annIvfOf]], completing
    * the ANN audit family (row 262 sweeps LSH's banding, row 92 reads
    * ONE recall point; this prices the whole probe-vs-recall trade a
    * deployment tunes): for nprobe 1..4, micro-averaged recall@k of
    * the IVF result against [[knnTopkOf]]'s brute-force truth, in exact
    * ppm ((Σhits·10⁶) div Σk — integer, order-free). The ground truth
    * computes ONCE; every sweep point ranks the [[ivfPairs]] frame
    * [[annIvfAt]] ranks, per (nprobe, query), so the curve can never
    * drift from the operator it audits and the corpus is scored once
    * for all points. Monotonicity in nprobe is structural (more cells
    * ⊇ fewer) and spec-pinned. An empty truth (fewer than two
    * vectors) gives no rows.
    *
    * Shape: Q = [[QuerySetSize]] bounds every leg (the knnTopkOf
    * broadcast contract); one IVF scoring pass and one top-k over all
    * points — audit-priced like every sweep in the family. */
  def nprobeSweepOf(embeddings: DataFrame,
                    probes: Seq[Int] = Seq(1, 2, 3, 4)): DataFrame = {
    require(probes.nonEmpty && probes.forall(p => p >= 1 && p <= IvfCells),
      s"probes must be within 1..$IvfCells: $probes")
    val exact = knnTopkOf(embeddings).select(col("q_id"), col("n_id"))
    val approx = nearest(ivfPairs(embeddings, probes), "n_emb", TopK, Seq("nprobe"))
      .select(col("nprobe"), col("q_id"), col("n_id")).withColumn("hit", lit(1L))
    exact.select(col("q_id"), col("n_id"),
        explode(array(probes.map(lit): _*)).as("nprobe"))
      .join(approx, Seq("nprobe", "q_id", "n_id"), "left")
      .groupBy("nprobe")
      .agg(count(lit(1)).as("k_total"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("nprobe"), col("k_total"), col("hits"),
        expr("CAST((hits * 1000000) div nullif(k_total, 0) AS BIGINT)")
          .as("recall_ppm"))
      .orderBy("nprobe")
  }

  /** IVF cell-balance audit — the occupancy read that SIZES
    * [[annIvfOf]]'s probe count (a balanced index scans ≈ n·nprobe/C
    * vectors per query; a skewed one scans whatever its fattest
    * probed cell holds): per-cell occupancies of the same
    * [[ivfCells]] assignment the index uses (the audit cannot drift),
    * imbalance factor λ = C·Σn²/(Σn)² in exact ppm (λ = 1e6 is perfect
    * balance; expected per-probe scan cost multiplies by λ), plus
    * max/median cell sizes on the C-row frame.
    *
    * Shape: one corpus × C-centroid broadcast scoring pass (the
    * [[annIvfOf]] assignment), a C-row aggregate after. */
  def ivfBalanceOf(embeddings: DataFrame): DataFrame = {
    val assigned = ivfCells(ivfScores(embeddings).drop("embedding"), 1)
    assigned.groupBy("c_id").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells_used"),
        sum("n").as("n_vectors"),
        sum(expr(s"CAST(n AS $Dec) * n")).as("ssq"),
        max("n").as("max_cell"),
        expr("CAST(percentile(n, 0.5D) AS DOUBLE)").as("p50_cell"))
      .select(col("n_cells_used"), col("n_vectors"),
        expr(s"CAST((ssq * ${IvfCells} * 1000000)" +
          s" div (CAST(n_vectors AS $Dec) * n_vectors) AS BIGINT)")
          .as("imbalance_ppm"),
        col("max_cell"), col("p50_cell"))
  }

  /** Per-DIMENSION embedding health profile (the index-build preflight
    * beside row 162's per-VECTOR norms: a dead or near-constant
    * dimension wastes index bytes and, under L2/cosine, silently
    * down-weights every other dimension; anisotropy — wildly uneven
    * per-dim variance — is the known failure mode of contextual
    * embeddings that whitening/matryoshka decisions read first):
    * per dimension, exact count/mean/std/min/max on the 1e-6 integer
    * grid (float→double widening is exact; decimal(38,0) moments —
    * the row-229 machinery turned sideways), `dead` flagged on the
    * PUBLISHED 6-dp std against a 0.01 literal so the flag is
    * grid-stable cross-engine.
    *
    * Shape: one map-side posexplode (×d, no shuffle inflation beyond
    * it) into a d-row map-combinable aggregate; the output frame is
    * the embedding width. */
  def dimProfileOf(embeddings: DataFrame): DataFrame = {
    def d(c: Column) = c.cast("double")
    embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"),
        Behavior.micro(col("v").cast("double")).as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("q").cast(Dec)).as("s"),
        sum(expr(s"CAST(q AS $Dec) * q")).as("ss"),
        min("q").as("mn"), max("q").as("mx"))
      .select(col("dim"), col("n"),
        graft.functions.TextF.round6HalfUp(d(col("s")) / d(col("n")) / lit(1e6)).as("mean"),
        graft.functions.TextF.round6HalfUp(
          sqrt((d(col("ss")) - d(col("s")) * d(col("s")) / d(col("n")))
            / d(col("n"))) / lit(1e6)).as("std"),
        graft.functions.TextF.round6HalfUp(d(col("mn")) / lit(1e6)).as("min_v"),
        graft.functions.TextF.round6HalfUp(d(col("mx")) / lit(1e6)).as("max_v"))
      .withColumn("dead", col("std") < 0.01)
      .orderBy("dim")
  }

  /** (q_id, q_label, n_id, n_label, cos): the first `queries` labeled
    * vectors scored against every other one by rounded cosine. The
    * bounded query set broadcasts ([[knnTopkOf]]'s contract), so the
    * corpus side never shuffles. */
  private def labeledScores(embeddings: DataFrame, queries: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"), col("label"))
    val q = broadcast(e.filter(col("vec_id") < queries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label")))
    q.join(e, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"),
        col("vec_id").as("n_id"), col("label").as("n_label"),
        VectorF.roundedCosine(col("q_emb"), col("embedding")).as("cos"))
  }

  /** Hard positive/negative mining for contrastive training: per query
    * vector, the most DISTANT same-label neighbor (hardest positive —
    * the in-class pair the model must still pull together) and the
    * most SIMILAR other-label neighbor (hardest negative — the
    * confusable out-of-class pair it must push apart). The classic
    * triplet-mining pass over a labeled embedding table.
    *
    * Shape: the bounded query set broadcasts ([[knnTopkOf]]'s contract —
    * the corpus side never shuffles); argmin/argmax are lexicographic
    * struct extremes (map-side combinable, deterministic tiebreak on
    * neighbor id: min-struct breaks ties low, max-struct high, and the
    * oracle's row_number mirrors each direction). Queries lacking a
    * same-label or other-label counterpart drop (a NULL "hardest pair"
    * is not a training triplet).
    */
  def hardMiningOf(embeddings: DataFrame, queries: Int = QuerySetSize): DataFrame = {
    require(queries > 0, s"queries must be positive, got $queries")
    labeledScores(embeddings, queries).groupBy("q_id", "q_label")
      .agg(
        min(when(col("n_label") === col("q_label"),
          struct(col("cos"), col("n_id")))).as("p"),
        max(when(col("n_label") =!= col("q_label"),
          struct(col("cos"), col("n_id")))).as("g"))
      .filter(col("p").isNotNull && col("g").isNotNull)
      .select(col("q_id"), col("q_label"),
        col("p.n_id").as("pos_id"), col("p.cos").as("pos_cos"),
        col("g.n_id").as("neg_id"), col("g.cos").as("neg_cos"))
      .orderBy("q_id")
  }

  /** Leave-one-out kNN label classification over the labeled embedding
    * table — the standard embedding-quality probe (if k nearest
    * neighbors can't vote the right label, the space won't rank
    * retrieval candidates either). Per query: top-`k` cosine neighbors
    * (rounded-then-ranked, id tiebreak — [[knnTopkOf]]'s contract),
    * majority label with ties to the SMALLEST label, scored against
    * the query's own label; output is per-label accuracy.
    *
    * Shape: bounded query set broadcasts, corpus never shuffles; the
    * vote argmax is a lexicographic struct MIN on (-votes, label) —
    * map-side combinable, deterministic. Everything after the top-k
    * filter is k rows per query.
    */
  def knnClassifyOf(embeddings: DataFrame, queries: Int = 64,
                    k: Int = 5): DataFrame = {
    require(k > 0 && queries > 0, s"need positive k/queries, got $k/$queries")
    val votes = topK(labeledScores(embeddings, queries),
        "q_id", col("cos").desc, "n_id", k, "rn")
      .groupBy("q_id", "q_label", "n_label")
      .agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy("q_id", "q_label")
      .agg(min(struct((-col("cnt")).as("negc"), col("n_label"))).as("p"))
      .select(col("q_id"), col("q_label"), col("p.n_label").as("pred_label"))
    pred.groupBy(col("q_label").cast("int").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_queries"), col("n_correct"),
        graft.functions.TextF.round4HalfUp(
          col("n_correct").cast("double") / col("n_queries").cast("double"))
          .as("accuracy"))
      .orderBy("label")
  }

  /** Retrieval MRR / hit-rate per label — the ranking-quality twin of
    * [[knnClassifyOf]]'s classification probe: for each query, the
    * rank of the FIRST same-label neighbor under the full cosine
    * ordering (rounded-then-ranked, id tiebreak — [[knnTopkOf]]'s
    * contract); per label, mean reciprocal rank plus hit@1 / hit@10.
    *
    * Determinism: each reciprocal rank is quantized to the 1e-6 grid
    * as an integer BEFORE summing (a double Σ(1/rank) is
    * addition-order-dependent), so the per-label mean is an exact
    * integer ratio divided once. Queries whose label has no other
    * member have no first match and are excluded (a rank-∞ sentinel
    * would poison the mean; the companion [[knnClassifyOf]] counts
    * such labels as misses instead).
    *
    * Shape: bounded query set broadcasts; the corpus never shuffles —
    * only the ≤1 first-match row per query does (the per-query argmin
    * is a lexicographic struct MIN, map-side combinable, no window
    * over the full scored stream).
    */
  def mrrEvalOf(embeddings: DataFrame, queries: Int = 64): DataFrame = {
    require(queries > 0, s"queries must be positive, got $queries")
    // Rank of the first same-label neighbor without ranking everything:
    // rank = 1 + |neighbors strictly better than the best match|, where
    // "better" is the (score DESC, n_id ASC) total order. The best
    // match per query is a struct-MIN over matches only; counting
    // better neighbors is one conditional sum over the same scored
    // stream — both map-side combinable aggregates on q_id.
    val scored = labeledScores(embeddings, queries)
      .localCheckpoint(false) // best-match frame + count frame share it
    val best = scored.filter(col("n_label") === col("q_label"))
      .groupBy("q_id", "q_label")
      .agg(min(struct((-col("cos")).as("negc"), col("n_id"))).as("b"))
      .select(col("q_id"), col("q_label"),
        (-col("b.negc")).as("b_cos"), col("b.n_id").as("b_id"))
    val better = scored.join(best.select("q_id", "b_cos", "b_id"), "q_id")
      .filter(col("cos") > col("b_cos") ||
        (col("cos") === col("b_cos") && col("n_id") < col("b_id")))
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_better"))
    // left join: a best match with nothing better ranks 1
    val ranked = best.join(better, Seq("q_id"), "left")
      .select(col("q_id"), col("q_label").as("lbl"),
        (coalesce(col("n_better"), lit(0L)) + 1L).as("rank"))
    ranked
      .groupBy(col("lbl").cast("int").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(floor(lit(1e6) / col("rank").cast("double") + 0.5).cast("long"))
          .as("qrr"),
        sum(when(col("rank") === 1L, 1L).otherwise(0L)).as("h1"),
        sum(when(col("rank") <= 10L, 1L).otherwise(0L)).as("h10"))
      .select(col("label"), col("n_queries"),
        graft.functions.TextF.round6HalfUp(col("qrr").cast("double")
          / col("n_queries").cast("double") / lit(1e6)).as("mrr"),
        graft.functions.TextF.round4HalfUp(
          col("h1").cast("double") / col("n_queries").cast("double")).as("hit1"),
        graft.functions.TextF.round4HalfUp(
          col("h10").cast("double") / col("n_queries").cast("double")).as("hit10"))
      .orderBy("label")
  }

  /** Maximal-Marginal-Relevance diversified top-`k` (Carbonell &
    * Goldstein '98): greedy re-rank of each query's `pool` best cosine
    * candidates, each step picking argmax of λ·rel(c) − (1−λ)·max_{s∈S}
    * sim(c, s) with λ = 0.7 — the de-duplicating re-rank a RAG
    * retriever runs so five near-identical passages don't fill the
    * context window.
    *
    * Determinism: cosines quantize to 1e-6 integers at the edge, the
    * MMR score is the INTEGER 7·rel₆ − 3·maxsim₆ (λ as a rational, no
    * float accumulation, ties to smallest id), and the reported `mmr`
    * is that integer over 1e7 — one IEEE division. No integer division
    * anywhere, so Spark `div` (truncates) vs DuckDB `//` (floors)
    * never disagree on negative scores. The in-group cosine runs the
    * SAME sequential loop as [[graft.plans.CosineSimilarity]] (float
    * widens to double exactly; sqrt and each +/·/÷ are single
    * correctly-rounded IEEE ops), so in-group and codegen scores are
    * bit-identical — pinned by the oracle hash.
    *
    * Scale: the fact-scale work is exactly [[knnTopkOf]]'s broadcast
    * scan (corpus never shuffles; WindowGroupLimit cuts to `pool` rows
    * per query before the group shuffle). The greedy then runs INSIDE
    * one `flatMapGroups` per query — pool² work on ≤pool rows, no
    * driver loop, no per-step job: a production re-rank with millions
    * of queries parallelizes by query. (A DataFrame k-step loop
    * measured 5-8 s of pure plan/job overhead on the same data; this
    * shape is one shuffle.)
    */
  def mmrRerankOf(embeddings: DataFrame, queries: Int = QuerySetSize,
                  pool: Int = 20, k: Int = 5): DataFrame = {
    require(queries > 0 && pool > 1 && k > 0 && k <= pool,
      s"need queries>0, pool>1, 0<k<=pool; got $queries/$pool/$k")
    import embeddings.sparkSession.implicits._
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val q = broadcast(e.filter(col("vec_id") < queries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val rel6 = Behavior.micro(VectorF.cosineSim(col("q_emb"), col("embedding")))
    val cand = topK(q.join(e, col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          col("embedding").cast("array<double>").as("emb"), rel6.as("rel6")),
        "q_id", col("rel6").desc, "n_id", pool, "rn")
      .select(col("q_id"), col("n_id"), col("emb"), col("rel6"))
      .as[(Long, Long, Seq[Double], Long)]
    val picked = cand.groupByKey(_._1).flatMapGroups { (qId, rows) =>
      // Deterministic candidate order: (rel DESC, id ASC).
      val cs = rows.map { case (_, nId, emb, r6) => (nId, emb.toArray, r6) }
        .toArray.sortBy { case (nId, _, r6) => (-r6, nId) }
      val sim6 = Array.tabulate(cs.length, cs.length) { (i, j) =>
        if (i == j) 0L else MmrKernel.cos6(cs(i)._2, cs(j)._2)
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long, Long)]
      for (rank <- 1 to math.min(k, cs.length)) {
        var bestI = -1; var bestScore = 0L
        for (i <- cs.indices if !selected.contains(i)) {
          val ms = if (selected.isEmpty) 0L else selected.map(sim6(i)).max
          val score = cs(i)._3 * 7L - ms * 3L
          // ties to the smallest n_id — candidate order already sorts
          // by id within equal scores' rel, but scores of DIFFERENT
          // rel can tie, so compare ids explicitly
          if (bestI < 0 || score > bestScore ||
            (score == bestScore && cs(i)._1 < cs(bestI)._1)) {
            bestI = i; bestScore = score
          }
        }
        selected += bestI
        out += ((qId, rank, cs(bestI)._1, cs(bestI)._3, bestScore))
      }
      out.iterator
    }
    picked.toDF("q_id", "rank", "n_id", "rel6", "score")
      .select(col("q_id"), col("rank"), col("n_id"),
        (col("rel6").cast("double") / lit(1e6)).as("rel"),
        (col("score").cast("double") / lit(1e7)).as("mmr"))
      .orderBy("q_id", "rank")
  }

  /** 1e6-scaled DCG position discounts ⌊1e6/log₂(i+1) + ½⌋ for ranks
    * 1..10, precomputed ONCE here and embedded as integer literals in
    * BOTH the Spark plan and the SQL oracle — neither engine evaluates
    * a transcendental at query time, so the banned-libm determinism
    * rule ([[CorpusStats]] scaladoc) holds even though nDCG's
    * definition needs log₂. */
  val NdcgW6: Seq[Long] =
    Seq.tabulate(10)(i => math.round(1e6 / (math.log(i + 2) / math.log(2))))

  /** nDCG@10 per label over the labeled embeddings (binary relevance:
    * neighbor shares the query's label) — the position-weighted
    * ranking eval next to [[mrrEvalOf]]'s first-hit view. DCG sums the
    * integer discounts of relevant ranks (exact int64); IDCG is the
    * prefix sum of the first min(10, #relevant) discounts via a
    * literal lookup array; per-query nDCG quantizes to 1e-6 before the
    * per-label mean (order-independent). Queries with no same-label
    * neighbor are excluded ([[mrrEvalOf]]'s contract).
    *
    * Shape: the [[knnTopkOf]] broadcast scan with WindowGroupLimit's
    * partition-local top-10; the relevant-count aggregate shuffles one
    * row per (query, label-match) group. */
  def ndcgEvalOf(embeddings: DataFrame, queries: Int = 64): DataFrame = {
    require(queries > 0, s"queries must be positive, got $queries")
    val scored = labeledScores(embeddings, queries)
      .localCheckpoint(false) // top-10 frame + relevant-count share it
    val wArr = array(NdcgW6.map(lit): _*)
    val cumArr = array(NdcgW6.scanLeft(0L)(_ + _).tail.map(lit): _*)
    val dcg = topK(scored, "q_id", col("cos").desc, "n_id", 10, "rnk")
      .groupBy("q_id", "q_label")
      .agg(sum(when(col("n_label") === col("q_label"),
        element_at(wArr, col("rnk"))).otherwise(0L)).as("dcg6"))
    val nRel = scored.filter(col("n_label") === col("q_label"))
      .groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    dcg.join(nRel, "q_id") // inner: no relevant neighbor ⇒ excluded
      .select(col("q_id"), col("q_label"),
        Behavior.micro(col("dcg6").cast("double") /
          element_at(cumArr, least(col("n_rel"), lit(10L)).cast("int"))
            .cast("double")).as("ndcg6"))
      .groupBy(col("q_label").cast("int").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        (floor(sum("ndcg6").cast("double") / count(lit(1)).cast("double")
          + 0.5) / lit(1e6)).as("ndcg"))
      .orderBy("label")
  }

  /** Per-label squared-norm profile of the embedding column — the
    * degenerate-vector check an embedding pipeline runs before any
    * cosine work (an all-zero or exploding-norm cluster poisons both
    * ANN and k-means silently). ‖x‖² per row is a SEQUENTIAL fold in
    * index order (both engines fold identically; no sqrt — squared
    * form is libm-free), quantized to a 1e-6 integer so min/max/mean
    * are exact; the mean divides once, 4 dp half-up. Map-side
    * projection + one bounded label aggregate. */
  def embeddingNormStatsOf(embeddings: DataFrame): DataFrame = {
    val qn2 = Behavior.micro(aggregate(col("embedding").cast("array<double>"),
      lit(0.0), (acc, x) => acc + x * x))
    embeddings
      .select(col("label").cast("int").as("label"), qn2.as("qn2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), min("qn2").as("qmin"), max("qn2").as("qmax"),
        sum("qn2").as("qsum"))
      .select(col("label"), col("n"),
        (col("qmin").cast("double") / 1e6).as("min_norm2"),
        (col("qmax").cast("double") / 1e6).as("max_norm2"),
        graft.functions.TextF.round4HalfUp(
          col("qsum").cast("double") / col("n").cast("double") / lit(1e6))
          .as("mean_norm2"))
      .orderBy("label")
  }

  /** Alignment / separation report per label (the Wang-Isola '20
    * "alignment" read made EXACT and linear): mean pairwise cosine
    * WITHIN a label vs the mean cosine against the REST of the
    * corpus — the one-table answer to "do my labels form tight,
    * separated clusters" that [[Cluster.labelCentroidsOf]] approximates
    * through a centroid and [[hardMiningOf]] samples. No pair is
    * ever materialized: for unit vectors, Σ_{a≠b} cos(a,b) =
    * ‖Σv‖² − Σ‖v‖², so per-label component sums S_l and the global
    * S_g give within = (‖S_l‖² − T_l)/(n_l(n_l−1)) and cross =
    * S_l·(S_g − S_l)/(n_l(N − n_l)) — two exact integer identities
    * over ONE aggregation pass.
    *
    * Determinism: vectors unit-normalize then quantize to the 1e-6
    * component grid (floor(x/‖v‖·10⁶ + 0.5), half-up — negatives
    * round toward +∞ identically in both engines); every sum/square
    * rides decimal(38,0) (‖S_l‖² ≤ d·(10⁶·n)² — headroom to ~10¹²
    * vectors per label at d = 64); the ONLY floats are one division
    * chain per published cell, identical text both engines.
    * Zero-norm vectors drop (no direction to compare); n = 1 labels
    * null `within`, a single-label corpus nulls `cross`.
    *
    * Shape: one map-side normalize/quantize pass, one posexplode to
    * (label, dim) sums — the only fact-scale shuffle, keyed by a
    * labels×dims-bounded frame — then label-frame algebra. */
  def embeddingAlignmentOf(embeddings: DataFrame): DataFrame = {
    val q = embeddings
      .select(col("label").cast("int").as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(col("label"), col("v"),
        expr("sqrt(aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x))")
          .as("nrm"))
      .filter(col("nrm") > 0)
      .select(col("label"),
        transform(col("v"), x => Behavior.micro(x / col("nrm"))).as("q"))
      .localCheckpoint(false) // the T fold and the dim sums both read it
    val t = q
      .select(col("label"),
        expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)").as("tq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("tq").cast(Dec)).as("tt"))
    val dimSums = q
      .select(col("label"), posexplode(col("q")).as(Seq("d", "qd")))
      .groupBy("label", "d")
      .agg(sum(col("qd").cast(Dec)).as("s"))
      .localCheckpoint(false) // label norms + global sums both read it
    val sl = dimSums.groupBy("label").agg(sum(expr("s * s")).as("s2"))
    val sg = dimSums.groupBy("d").agg(sum("s").as("gs"))
    val xdot = dimSums.join(sg, "d")
      .groupBy("label")
      .agg(sum(expr("s * (gs - s)")).as("xd"))
    val nTotal = t.agg(sum("n").as("nt")) // 1 row by construction
    t.join(sl, "label").join(xdot, "label")
      .crossJoin(broadcast(nTotal))
      .select(col("label"), col("n"),
        graft.functions.TextF.round6HalfUp(expr(
          s"""CAST(s2 - tt AS DOUBLE)
            |  / CAST(NULLIF(CAST(n AS $Dec) * (n - 1), 0) AS DOUBLE)
            |  / 1e12""".stripMargin)).as("within_cos"),
        graft.functions.TextF.round6HalfUp(expr(
          s"""CAST(xd AS DOUBLE)
            |  / CAST(NULLIF(CAST(n AS $Dec) * (nt - n), 0) AS DOUBLE)
            |  / 1e12""".stripMargin)).as("cross_cos"))
      .orderBy("label")
  }

  /** Label-noise suspects (confident-learning-lite): points whose k
    * nearest neighbors vote AGAINST their own label — the
    * training-data QA pass that catches mislabeled rows before they
    * poison a classifier ([[knnClassifyOf]] asks "is the space good";
    * this asks "is the LABEL good"). A point is suspect when at most
    * `maxAgree` of its k neighbors share its label; output carries the
    * vote breakdown and the majority challenger (smallest label on
    * ties — [[knnClassifyOf]]'s argmax contract).
    *
    * Shape: every labeled point is a query — the scored stream is the
    * leave-one-out self-join on the rounded-cosine order
    * ([[mrrEvalOf]]'s contract, WindowGroupLimit top-k); everything
    * after the k-cut is k rows per point. This pass is O(n²) BY
    * DESIGN (exact audit); past ~10⁶ labeled points, feed it the
    * LSH/IVF candidate pairs ([[annLshOf]]/[[annIvfOf]]) instead of the
    * full cross — the vote logic is unchanged. */
  def labelNoiseOf(embeddings: DataFrame, k: Int = 5, maxAgree: Int = 1,
                   auditLimit: Long = Long.MaxValue): DataFrame = {
    require(k > 0 && maxAgree >= 0 && maxAgree < k,
      s"need 0 <= maxAgree < k, got $maxAgree/$k")
    // spreadInput: e is the O(n²) scored stream's probe side; the
    // 1-partition bench scan would run every cosine on one task.
    val e = graft.Scale.spreadInput(
      embeddings.select(col("vec_id"), col("embedding"), col("label")),
      col("vec_id"))
    val q = e.filter(col("vec_id") < auditLimit)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val votes = topK(q.join(e, col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
          col("label").as("n_label"),
          VectorF.roundedCosine(col("q_emb"), col("embedding")).as("cos")),
        "q_id", col("cos").desc, "n_id", k, "rn")
      .groupBy("q_id", "q_label", "n_label")
      .agg(count(lit(1)).as("cnt"))
      // agree + challenger both read it — unmaterialized, the O(n²)
      // scored subtree would re-plan (and re-execute) per consumer
      // (caught by PlanSpec's BNLJ count)
      .localCheckpoint(false)
    val agree = votes.filter(col("n_label") === col("q_label"))
      .select(col("q_id"), col("cnt").as("n_agree"))
    val challenger = votes.filter(col("n_label") =!= col("q_label"))
      .groupBy("q_id", "q_label")
      .agg(min(struct((-col("cnt")).as("negc"), col("n_label"))).as("c"))
      .select(col("q_id"), col("q_label"),
        col("c.n_label").as("challenger_label"),
        (-col("c.negc")).as("challenger_votes"))
    challenger.join(agree, Seq("q_id"), "left")
      .select(col("q_id"), col("q_label").cast("int").as("label"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"),
        col("challenger_label").cast("int").as("challenger_label"),
        col("challenger_votes"))
      .filter(col("n_agree") <= maxAgree)
      .orderBy("q_id")
  }

  /** Matryoshka prefix-energy profile — the truncation-feasibility
    * audit for dimension-reduced serving (Kusupati et al. '22 train
    * embeddings so prefixes carry most of the signal; this measures
    * whether THIS corpus's vectors do): for each prefix length d, the
    * fraction of total squared norm carried by the first d
    * coordinates, both corpus-pooled (Σ over vectors of prefix
    * energy / Σ of total energy) and as the mean per-vector fraction
    * (the two diverge when a few huge-norm vectors dominate the
    * pool — reporting both exposes that skew). A front-loaded profile
    * (≥0.9 at d=32) licenses serving truncated vectors against
    * [[annIvfOf]]-style indexes at half the memory; a flat profile
    * (≈ d/64, the isotropic baseline) says truncation costs recall
    * proportionally.
    *
    * Determinism: each per-vector energy is a SEQUENTIAL index-order
    * fold of x² (both engines fold lists left-to-right — the
    * [[embeddingNormStatsOf]] policy) quantized to an exact 1e-9
    * integer, so the corpus sums are int64 addition (order-free) and
    * each output ratio divides once, 4 dp floor-form. Map-only until
    * one `prefixes.length`-row aggregate; no shuffle of vector data. */
  def matryoshkaEnergyOf(embeddings: DataFrame,
                         prefixes: Seq[Int] = Seq(8, 16, 32, 48, 64)): DataFrame = {
    require(prefixes.nonEmpty && prefixes.forall(_ > 0),
      s"prefixes must be positive, got $prefixes")
    val qsq = (c: Column) => floor(aggregate(c, lit(0.0),
      (acc, x) => acc + x * x) * lit(1e9) + lit(0.5)).cast("long")
    val vec = col("embedding").cast("array<double>")
    val rows = embeddings
      .select(qsq(vec).as("q_total"),
        explode(map(prefixes.flatMap(d =>
          Seq(lit(d), qsq(slice(vec, 1, d)))): _*)).as(Seq("d", "q_prefix")))
      // slice past the array end truncates: d ≥ dim ⇒ q_prefix = q_total
      .withColumn("frac_q", // per-vector fraction at 1e-6 grain
        when(col("q_total") === 0L, lit(0L)) // zero vector: define 0
          .otherwise(Behavior.micro(col("q_prefix").cast("double") /
            col("q_total").cast("double"))))
    rows.groupBy("d")
      .agg(count(lit(1)).as("n_vectors"),
        sum("q_prefix").as("sp"), sum("q_total").as("st"),
        sum("frac_q").as("sf"))
      .select(col("d"), col("n_vectors"),
        // all-zero corpus ⇒ pooled fraction pinned 0.0, not NaN
        // (the ctrShrunkOf NaN lesson — degenerate input degrades
        // to a defined value)
        when(col("st") === 0L, lit(0.0)).otherwise(
          graft.functions.TextF.round4HalfUp(
            col("sp").cast("double") / col("st").cast("double")))
          .as("pooled_energy_frac"),
        graft.functions.TextF.round4HalfUp(
          col("sf").cast("double") / col("n_vectors").cast("double") / 1e6)
          .as("mean_vector_frac"))
      .orderBy("d")
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al.
    * '09) of a sparse BM25 leg over `documents` and a dense cosine
    * leg over `embeddings`, fused on the corpus convention that
    * `vec_id` embeds `doc_id` (both are the generator's 0..N−1 row
    * key). RRF is scorer-agnostic — it consumes only the RANKS, so
    * incomparable score scales (BM25 odds-sums vs cosine) need no
    * normalization: fused(d) = Σ_legs 1/(K + rank_leg(d)), absent
    * legs contribute 0, K = 60 (the paper's constant — it damps the
    * head so one leg's #1 can't drown the other's consensus).
    *
    * Determinism: ranks are integers with id tie-breaks; each leg's
    * reciprocal is one IEEE division of exact integers and the fused
    * score is one sum of two exactly-rounded doubles — identical in
    * any IEEE-754 engine, then round4 for the report. Scale: both
    * legs are already top-`legK` reports (bounded by construction),
    * so fusion joins two ≤legK-row frames — driver-free, broadcast-
    * sized regardless of corpus size; the legs dominate and keep
    * their own documented shapes.
    */
  def hybridSearchOf(docs: DataFrame, embeddings: DataFrame,
                     query: Seq[String], queryVecId: Long = 0L,
                     legK: Int = 20, k: Int = 10,
                     rrfK: Int = 60): DataFrame = {
    require(k > 0 && legK >= k, s"need legK >= k > 0, got legK=$legK k=$k")
    val sparse = CorpusStats.bm25SearchOf(docs, query, legK)
      .select(col("doc_id").as("id"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .as("sparse_rank"))
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val dense = embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q)) // 1 row by construction
      .select(col("vec_id").as("id"),
        VectorF.roundedCosine(col("embedding"), col("q_emb")).as("score"))
      // top-legK via sort-limit (TakeOrderedAndProject — partition-
      // local heads, no global window over the corpus), THEN rank the
      // bounded ≤legK frame; same order key so ranks are 1..legK.
      .orderBy(col("score").desc, col("id")).limit(legK)
      .select(col("id"),
        row_number().over(Window.orderBy(col("score").desc, col("id")))
          .as("dense_rank"))
    val rrf = (r: Column) =>
      when(r.isNotNull, lit(1.0) / (lit(rrfK).cast("double") + r.cast("double")))
        .otherwise(lit(0.0))
    sparse.join(dense, Seq("id"), "full_outer")
      .select(col("id"), col("sparse_rank"), col("dense_rank"),
        graft.functions.TextF.round4HalfUp(
          rrf(col("sparse_rank")) + rrf(col("dense_rank"))).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  /** Semantic (embedding-cosine) benchmark decontamination — the
    * dense sibling of [[Corpus.decontaminateOf]]'s 8-gram overlap:
    * every corpus vector reports its maximum cosine against a FIXED
    * bench set (the first `benchSize` vectors, the library's query-
    * set convention) and a contaminated flag at `threshold`. N-gram
    * overlap misses paraphrases; embedding similarity is the screen
    * that catches them (the reason modern decontamination runs both).
    *
    * Scale: the bench set is constant-bounded → broadcast; the
    * corpus side is one map-side pass (rows × benchSize comparisons,
    * linear in rows), aggregated per vector with no shuffle of raw
    * vectors — the same bounded-BNLJ family as knnTopkOf. Scores
    * quantize to 1e-6 before the max so the flag is engine-exact.
    */
  def semDecontaminateOf(embeddings: DataFrame, benchSize: Int = 16,
                         threshold: Double = 0.35): DataFrame = {
    require(benchSize > 0, s"benchSize must be positive, got $benchSize")
    val bench = embeddings.filter(col("vec_id") < benchSize)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    embeddings.filter(col("vec_id") >= benchSize)
      .join(broadcast(bench)) // rows × fixed bench set, linear in rows
      .select(col("vec_id"),
        VectorF.roundedCosine(col("embedding"), col("b_emb")).as("s"))
      .groupBy("vec_id")
      .agg(max("s").as("max_bench_sim"))
      .select(col("vec_id"), col("max_bench_sim"),
        (col("max_bench_sim") >= threshold).as("contaminated"))
      .orderBy("vec_id")
  }

  /** Int8 quantization fidelity as retrieval recall — the eval
    * [[embedQuantizeOf]] never runs: per query, overlap@k between the
    * exact float top-k and the top-k computed against the
    * INT8-RECONSTRUCTED corpus (x → round(x·127/maxabs)·maxabs/127,
    * the values an int8 index actually serves) — the number that
    * decides whether 4× memory compression costs retrieval quality
    * (cf. [[annRecallOf]] for the IVF analog). Same determinism
    * contract as every retrieval eval here: 6-dp-rounded cosines
    * before ranking, n_id tiebreak; the reconstruction arithmetic is
    * two IEEE ops per component, engine-identical.
    *
    * Shape: both sides are the [[knnTopkOf]] broadcast-query scan (the
    * corpus never shuffles); the overlap join runs on two
    * (queries × k)-bounded frames. */
  def quantizeRecallOf(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .localCheckpoint(false) // queries + both corpus sides read it
    val recon = emb
      .select(col("vec_id"),
        array_max(transform(col("emb"), x => abs(x))).as("maxabs"), col("emb"))
      .select(col("vec_id"),
        when(col("maxabs") > 0, transform(col("emb"),
          x => round(x * (lit(127.0) / col("maxabs")))
            * (col("maxabs") / lit(127.0))))
          .otherwise(col("emb")).as("remb"))
    val q = emb.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val exact = bruteForce(q, emb.select(col("vec_id").as("n_id"), col("emb")), "emb", k)
      .select(col("q_id"), col("n_id"))
    val int8 = bruteForce(q, recon.select(col("vec_id").as("n_id"), col("remb")), "remb", k)
      .select(col("q_id"), col("n_id"))
    exact.join(int8, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
      .select(col("q_id"), col("n_overlap"),
        expr(s"(n_overlap * 1000000) div $k").as("recall_ppm"))
      .orderBy("q_id")
  }

  /** Deterministic ±1 Johnson-Lindenstrauss sign matrix (dims ×
    * outDims), derived from md5 so the Spark plan and the DuckDB
    * oracle can embed the SAME literals (the oracle string is built
    * from this method — one source of truth, no drift). */
  def rpSigns(dims: Int, outDims: Int): Array[Array[Double]] =
    Array.tabulate(dims, outDims) { (i, j) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$i:$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }

  /** Random-projection (JL) retrieval fidelity — [[matryoshkaEnergyOf]]
    * asks whether PREFIX truncation is safe, this asks the same of the
    * other classic dimension cut: project 64 → `outDims` with a ±1
    * sign matrix (Achlioptas'01 — the database-friendly JL, no
    * gaussians, exact integer-weighted sums) and measure overlap@k
    * against exact top-k — the eval that prices a 4× index-memory cut
    * BEFORE an index rebuilds. Projection is one native mat-vec call
    * per row ([[graft.plans.MatVecSigns]] — no interpreted
    * higher-order function on the fact path, the §6 round-11 lesson);
    * both searches are the [[knnTopkOf]] broadcast-query scan with
    * rounded-then-ranked scores; recall in exact ppm.
    * Queries with ZERO surviving overlap drop out (the
    * [[quantizeRecallOf]] contract). */
  def rpRecallOf(embeddings: DataFrame, outDims: Int = 16,
                 k: Int = TopK): DataFrame = {
    require(outDims > 0 && k > 0, s"outDims/k must be positive")
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .localCheckpoint(false) // queries + corpus + projection read it
    val signs = rpSigns(64, outDims)
    // One native mat-vec call per row ([[graft.plans.MatVecSigns]],
    // r18 optimization round) replaces the unrolled 16×64 ≈ 1024-node
    // element_at·literal column tree — same ascending-i left-fold
    // accumulation, bit-identical output, without the codegen/
    // classloader churn the r17 profile attributed the query's cost
    // to.
    val proj = graft.plans.ColumnBridge.column(graft.plans.MatVecSigns(
      graft.plans.ColumnBridge.expression(col("emb")),
      signs.map(_.toIndexedSeq).toIndexedSeq))
    val pemb = emb.select(col("vec_id"), proj.as("pemb"))
    val exact = bruteForce(
      emb.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb")),
      emb.select(col("vec_id").as("n_id"), col("emb")), "emb", k)
      .select(col("q_id"), col("n_id"))
    val approx = bruteForce(
      pemb.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("q_id"), col("pemb").as("q_emb")),
      pemb.select(col("vec_id").as("n_id"), col("pemb")), "pemb", k)
      .select(col("q_id"), col("n_id"))
    exact.join(approx, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
      .select(col("q_id"), col("n_overlap"),
        expr(s"(n_overlap * 1000000) div $k").as("recall_ppm"))
      .orderBy("q_id")
  }

  /** Margin-based cross-label pair mining (Artetxe & Schwenk '19's
    * ratio margin — the bitext-mining criterion, and the general
    * cross-corpus alignment read: raw cosine crowns HUB vectors that
    * are near everything; dividing by the mean similarity of each
    * side's own neighborhood cancels the hubness): between side A
    * (label `labelA`) and side B (label `labelB`), each A-vector's
    * BEST B-counterpart with margin = cos(x,y) /
    * ((avgTop`k`(x→B) + avgTop`k`(y→A)) / 2), `accepted` at the
    * conventional 1.05 threshold.
    *
    * Determinism: cosines quantize to the 1e-6 integer grid FIRST
    * (floor-form — the [[knnTopkOf]] rounding convention), so the
    * top-k averages are exact integer sums in any order and the
    * margin is arithmetic over integer operands with one fixed-order
    * double combination; the flag compares the same double on both
    * engines. Non-positive neighborhood averages (all-negative
    * cosine corners) null the margin via nullif rather than divide
    * by zero.
    *
    * Shape: the bipartite score frame materializes once and feeds
    * both top-k windows and the best-pair filter. Pair generation
    * here is the exact |A|×|B| broadcast join (the verification
    * query's contract); at corpus scale the candidate set comes from
    * [[annLshOf]]'s sign-bucket + multiprobe join on BOTH sides — same
    * margin arithmetic over bucket-bounded candidates, the
    * documented trade being recall of cross-bucket borderline
    * pairs. */
  def marginMiningOf(emb: DataFrame, labelA: Int = 0, labelB: Int = 1,
                     k: Int = 4, threshold: Double = 1.05): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val a = emb.filter(col("label") === labelA)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.filter(col("label") === labelB)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val scored = a.join(broadcast(b), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        Behavior.micro(VectorF.cosineSim(col("a_emb"), col("b_emb"))).as("c6"))
      .localCheckpoint(false) // three consumers: two top-k sides + best
    val wA = Window.partitionBy("a_id").orderBy(col("c6").desc, col("b_id"))
    val wB = Window.partitionBy("b_id").orderBy(col("c6").desc, col("a_id"))
    val avgA = scored.withColumn("ra", row_number().over(wA))
      .filter(col("ra") <= k)
      .groupBy("a_id").agg(sum("c6").as("sa"), count(lit(1)).as("ka"))
    val avgB = scored.withColumn("rb", row_number().over(wB))
      .filter(col("rb") <= k)
      .groupBy("b_id").agg(sum("c6").as("sb"), count(lit(1)).as("kb"))
    val denom = (col("sa").cast("double") / col("ka").cast("double") +
      col("sb").cast("double") / col("kb").cast("double")) / lit(2.0)
    val margin = col("c6").cast("double") / nullif(denom, lit(0.0))
    scored.withColumn("ra", row_number().over(wA)).filter(col("ra") === 1)
      .join(avgA, Seq("a_id"))
      .join(avgB, Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (col("c6").cast("double") / 1e6).as("cos"),
        graft.functions.TextF.round6HalfUp(margin).as("margin"),
        (margin > lit(threshold)).as("accepted"))
      .orderBy("a_id")
  }

  /** Linear-kernel MMD² between each label's embeddings and the rest
    * of the corpus (Gretton '12 two-sample read, linear kernel — for
    * which MMD² reduces EXACTLY to ‖μ_in − μ_out‖², the squared
    * mean-embedding gap: the distribution-shift score that says
    * which classes occupy their OWN region of embedding space vs
    * blend into the corpus — the one-number read behind "can a
    * linear probe even see this label"; the per-dim argmax names the
    * axis carrying the separation): per label, MMD², the top
    * separating dimension, and its share of the total gap.
    *
    * Exactness: per-(label, dim) integer sums on the 1e-6 grid
    * (floor(x·1e6 + 0.5) — the dim_profile convention), complement
    * sums by per-dim TOTAL minus own (one bounded window, never a
    * self-join); both means on the 1e-12 grid by integer division,
    * squared gaps decimal(38,0), MMD² ONE double division 6 dp;
    * argmax by min-struct on (−gap², dim) — smallest-dim ties. An
    * empty complement (single-label corpus) nulls via try_divide.
    *
    * Shape: ONE map-combinable posexplode aggregate to the |labels|
    * × dim frame (~10 × 64); the total window, gap fold, and argmax
    * all ride that bounded frame. */
  def embeddingMmdOf(embeddings: DataFrame): DataFrame = {
    val dimW = Window.partitionBy("pos")
    val perDim = embeddings
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        Behavior.micro(col("v")).as("q"))
      .groupBy("label", "pos")
      .agg(sum("q").as("s"), count(lit(1)).as("cnt"))
      .withColumn("st", sum("s").over(dimW))
      .withColumn("nt", sum("cnt").over(dimW))
    val gaps = perDim
      .filter(col("nt") > col("cnt")) // complement non-empty
      .select(col("label"), col("pos"), col("cnt"),
        (col("nt") - col("cnt")).as("cnt_out"),
        // own and complement means on the exact 1e-12 grid
        expr(s"(CAST(s AS $Dec) * 1000000) div cnt").as("mq_in"),
        expr(s"(CAST(st - s AS $Dec) * 1000000) div (nt - cnt)")
          .as("mq_out"))
      .select(col("label"), col("pos"), col("cnt"), col("cnt_out"),
        // div narrows to BIGINT: the 1e-12-grid gap squares past 2^63
        // — lift to decimal BEFORE the product
        ((col("mq_in") - col("mq_out")).cast(Dec)
          * (col("mq_in") - col("mq_out")).cast(Dec)).as("gap2"))
    gaps.groupBy("label")
      .agg(max("cnt").as("n_in"), max("cnt_out").as("n_out"),
        sum("gap2").as("tg2"),
        min(struct((-col("gap2")).as("ng"), col("pos"))).as("m"))
      .select(col("label"), col("n_in"), col("n_out"),
        graft.functions.TextF.round6HalfUp(
          expr("CAST(tg2 AS DOUBLE) / 1e24")).as("mmd2"),
        col("m.pos").as("top_dim"),
        when(col("tg2") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST(((-m.ng) * 1000000) div tg2 AS BIGINT)"))
          .as("top_dim_share_ppm"))
      .orderBy("label")
  }
}
