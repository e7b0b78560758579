package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorF
import Behavior.Dec

/** Embedding clustering — the semantic-grouping pass a training-data
  * pipeline runs for topic balancing, semantic dedup cells, and
  * curriculum bucketing.
  *
  * Spherical k-means, Lloyd iterations fully declarative:
  * - assignment: every vector scores against the k centroids (a
  *   broadcast of k rows — BOUNDED by the k parameter, unlike a
  *   per-key aggregate, so the broadcast survives any corpus size) and
  *   keeps its argmax-cosine cell via [[Similarity.topK]] with k = 1
  *   (WindowGroupLimit — no global sort);
  * - update: element-wise centroid means via posexplode →
  *   (cluster, dim) avg — a map-side-combinable aggregate that
  *   shuffles k·dim rows, independent of corpus size.
  *
  * Engine-reproducible by construction: cosine scores and centroid
  * components round to 6 places before any comparison, ties break on
  * the lowest centroid id, and seeds are the first k vectors (not a
  * random init).
  *
  * One Lloyd loop ([[lloyd]]) returns the final centroids; every
  * k-means query applies the assignment once on top of it.
  */
object Cluster {

  val K = 8
  val Iterations = 2

  /** (vec_id, emb): the embedding column widened to double — the
    * frame every k-means step reads. */
  private def vectors(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** One assignment pass: nearest centroid by rounded cosine, ties to
    * the lowest centroid id. `cents` must be (c_id, c_emb). */
  private def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    Similarity.topK(vecs.join(broadcast(cents)) // k rows — bounded by construction
        .select(col("vec_id"), col("emb"), col("c_id"),
          VectorF.roundedCosine(col("emb"), col("c_emb")).as("cs")),
        "vec_id", col("cs").desc, "c_id", 1, "rn")
      .select(col("vec_id"), col("emb"), col("c_id").as("cluster"), col("cs"))

  /** Element-wise quantized-mean centroid per `keyCol` group — the ONE
    * implementation of the cross-engine centroid contract (shared by
    * [[recenter]] and [[labelCentroidsOf]]; both DuckDB oracles mirror
    * it step for step, so a quantization tweak must happen here, not
    * in a per-operator copy). Components are quantized to 1e-6 and
    * summed as INTEGERS, so the mean is independent of
    * partition/summation order — a float `avg()` accumulates in
    * shuffle order and can round the 6th decimal differently between
    * engines (or between runs at different parallelism), flipping a
    * boundary comparison. One final IEEE division pair (identical on
    * both engines) recovers the mean. Returns (keyCol, c_emb). */
  private def quantizedCentroids(members: DataFrame, keyCol: String): DataFrame =
    members
      .select(col(keyCol), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(keyCol, "pos")
      .agg(sum(round(col("v") * 1e6).cast("long")).as("isum"),
        count(lit(1)).as("cnt"))
      .select(col(keyCol), col("pos"),
        round(col("isum").cast("double") / 1e6 / col("cnt").cast("double"), 6).as("v"))
      .groupBy(keyCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        s => s.getField("v")).as("c_emb"))

  /** Centroid update for one Lloyd iteration: quantized means keyed by
    * the current cluster assignment. */
  private def recenter(assigned: DataFrame): DataFrame =
    quantizedCentroids(assigned, "cluster")
      .select(col("cluster").as("c_id"), col("c_emb"))

  /** The Lloyd loop: seeds are the vectors `seeds` selects, then
    * `iters` − 1 rounds of assign + recenter. Returns the centroids
    * (c_id, c_emb) that the `iters`-th assignment scores against. */
  private def lloyd(vecs: DataFrame, seeds: Column, iters: Int): DataFrame =
    (1 until iters).foldLeft(vecs.filter(seeds)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))) { (c, _) =>
      recenter(assign(vecs, c))
    }

  /** The final Lloyd-iteration assignment frame (vec_id, emb, cluster,
    * cs) — shared by the clustering report and [[semDedupOf]], so the
    * two can never run on diverging assignments. */
  private[operators] def assignedOf(embeddings: DataFrame, k: Int,
                                    iters: Int): DataFrame = {
    require(k > 0 && iters > 0, s"need k > 0 and iters > 0, got k=$k iters=$iters")
    val vecs = vectors(embeddings)
    assign(vecs, lloyd(vecs, col("vec_id") < k, iters))
  }

  /** `iters` Lloyd iterations of spherical k-means seeded on the first
    * k vectors; returns (vec_id, cluster, sim). */
  def kmeansEmbedOf(embeddings: DataFrame, k: Int = K,
                    iters: Int = Iterations): DataFrame =
    assignedOf(embeddings, k, iters)
      .select(col("vec_id"), col("cluster"), col("cs").as("sim"))
      .orderBy("vec_id")

  /** Per-label cluster-quality report: each label's centroid
    * (element-wise quantized mean — same order-independent machinery
    * as [[recenter]]) and its members' cosine cohesion (count, mean,
    * min). The evaluation pass a pipeline runs over labeled or
    * clustered embeddings to decide whether clusters are tight enough
    * for semantic dedup cells. The centroid frame is one row per
    * label; the join back over members is AQE-decided, no forced
    * broadcast (labels are unbounded in general).
    */
  def labelCentroidsOf(embeddings: DataFrame): DataFrame = {
    val vecs = embeddings.select(col("label"),
      col("embedding").cast("array<double>").as("emb"))
    val cents = quantizedCentroids(vecs, "label")
    vecs.join(cents, "label")
      .select(col("label"),
        VectorF.roundedCosine(col("emb"), col("c_emb")).as("cs"))
      // zero-norm member or centroid → cosine NULL; keep the stats over
      // SCORED members only, or `n` would divide a sum the NULL rows
      // never joined (the oracle filters the same rows via isnan)
      .filter(col("cs").isNotNull)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(Behavior.micro(col("cs"))).as("qsum"),
        min("cs").as("min_cos"))
      .select(col("label"), col("n"),
        graft.functions.TextF.round4HalfUp(
          col("qsum").cast("double") / 1e6 / col("n").cast("double")).as("avg_cos"),
        col("min_cos"))
      .orderBy("label")
  }

  /** k-center greedy coreset selection (Gonzalez '85 farthest-point
    * traversal; the Sener-Savarese '18 active-learning coreset): pick
    * `k` representatives by repeatedly taking the vector FARTHEST
    * (max cosine distance) from the already-selected set — the
    * diversity-first data-selection pass (dedup removes near-twins;
    * this picks a budget-constrained spread that COVERS the corpus,
    * with the classic 2-approximation of the optimal k-center
    * radius). Each selection reports its distance to the prior set —
    * the monotone non-increasing max-min covering-radius curve, the
    * "how well do k exemplars cover the corpus" read that sizes k.
    *
    * Distances ride the 1e-6 integer grid (d6 = 10⁶ − cos6,
    * floor-form) so the argmax is exact with smallest-id ties; the
    * traversal seeds at the smallest vec_id.
    *
    * Shape: O(n·k), NEVER O(n²) — each round broadcasts ONE new
    * center, updates the running min-distance column map-side, and
    * takes a global top-1 (TakeOrderedAndProject, no full sort); the
    * state localCheckpoints per round so the plan stays flat (the
    * eager-iteration pattern of the BPE merge trainer). */
  def kCenterSelectOf(embeddings: DataFrame, k: Int = 8): DataFrame = {
    require(k > 1 && k <= 64, s"k in (1, 64], got $k")
    val vecs = vectors(embeddings)
    def d6(a: Column, b: Column): Column =
      lit(1000000L) - Behavior.micro(VectorF.cosineSim(a, b))
    val seedRow = vecs.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      .localCheckpoint(false) // 1 row; two consumers (output + distances)
    var state: DataFrame = vecs.crossJoin(broadcast(seedRow))
      .filter(col("vec_id") =!= col("c_id"))
      .select(col("vec_id"), col("emb"), d6(col("emb"), col("c_emb")).as("best"))
      .localCheckpoint(false)
    var out: DataFrame = seedRow.select(lit(1).as("sel_order"),
      col("c_id").as("vec_id"), lit(null).cast("double").as("radius"))
    for (i <- 2 to k) {
      val next = state.orderBy(col("best").desc, col("vec_id")).limit(1)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
          col("best").as("r6"))
        .localCheckpoint(false) // 1 row; two consumers (output + update)
      out = out.unionAll(next.select(lit(i).as("sel_order"),
        col("c_id").as("vec_id"),
        (col("r6").cast("double") / 1e6).as("radius")))
      if (i < k)
        state = state.crossJoin(broadcast(next.select(col("c_id"), col("c_emb"))))
          .filter(col("vec_id") =!= col("c_id"))
          .select(col("vec_id"), col("emb"),
            least(col("best"), d6(col("emb"), col("c_emb"))).as("best"))
          .localCheckpoint(false)
    }
    out.orderBy("sel_order")
  }

  /** SemDeDup (Abbas'23): semantic dedup scoped to k-means cells —
    * pairwise cosine runs only WITHIN a cluster, so candidate pairs are
    * Σ|cell|² instead of n² (the documented recall trade: a near-dup
    * pair split across cells is missed, which is why the cell count
    * tracks corpus size at scale). A vector is dropped when some
    * SMALLER-id member of its cell matches at ≥ `tau` (min-id survivor
    * — the same deterministic rule as the MinHash cluster family);
    * `dup_of` reports the smallest such neighbor, NULL for keepers.
    *
    * The assignment frame comes from [[assignedOf]] (one source of
    * truth with the clustering report) and materializes once for both
    * self-join sides (keyed differently — no cross-branch CSE). The
    * b-side prunes to `b_id < vec_id` BEFORE the join, halving the
    * pair explosion.
    */
  def semDedupOf(embeddings: DataFrame, tau: Double = 0.45, k: Int = K,
                 iters: Int = Iterations): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau in (0,1], got $tau")
    val a = assignedOf(embeddings, k, iters)
      .select(col("vec_id"), col("emb"), col("cluster"))
      .localCheckpoint(false)
    val b = a.select(col("cluster"), col("vec_id").as("b_id"),
      col("emb").as("b_emb"))
    val dups = a.join(b, a("cluster") === b("cluster") &&
        col("b_id") < col("vec_id"))
      .filter(VectorF.roundedCosine(col("emb"), col("b_emb")) >= tau)
      .groupBy("vec_id").agg(min("b_id").as("dup_of"))
    a.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** Embedding outliers vs the OWN-label centroid: members whose
    * cosine-to-centroid falls more than `k` MADs below the label's
    * median — the cheap linear screen for mislabeled or degenerate
    * vectors ([[graft.operators.Similarity.labelNoiseOf]]'s kNN audit is
    * the thorough-but-quadratic sibling; this one is two bounded
    * aggregates and touches every vector exactly twice).
    *
    * Determinism: centroids are the quantized element-wise means
    * ([[labelCentroidsOf]]'s frame, one source of truth); cosines
    * quantize to 1e-6 ints; median and MAD are exact order statistics
    * on that integer domain (interpolated midpoints end in .5 — exact
    * doubles), no libm anywhere — the Robust family's playbook. A
    * label whose MAD is zero (all members equidistant) flags nothing:
    * strictly-below-median is not deviance when there IS no spread.
    */
  def centroidOutliersOf(embeddings: DataFrame, k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val vecs = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))
    val scored = vecs.join(quantizedCentroids(vecs, "label"), "label")
      .select(col("vec_id"), col("label"),
        Behavior.micro(VectorF.cosineSim(col("emb"), col("c_emb"))).as("cq"))
      .filter(col("cq").isNotNull)
    val med = scored.groupBy("label")
      .agg(expr("percentile(cq, 0.5D)").as("med"))
    val mad = scored.join(med, "label")
      .groupBy("label", "med")
      .agg(expr("percentile(abs(cq - med), 0.5D)").as("mad"))
    scored.join(mad, "label")
      .filter(col("mad") > 0.0 &&
        col("cq").cast("double") < col("med") - lit(k.toDouble) * col("mad"))
      .select(col("vec_id"), col("label"),
        (col("cq").cast("double") / 1e6).as("cos"),
        (col("med") / 1e6).as("label_median"),
        (col("mad") / 1e6).as("label_mad"))
      .orderBy("vec_id")
  }

  /** Simplified (centroid-based / "medoid-free") silhouette per
    * cluster over [[kmeansEmbedOf]]'s final assignment — the standard
    * cluster-validity readout (Rousseeuw '87, centroid form): with
    * cosine distances a = 1 − cos(own centroid) and b = 1 − cos
    * (nearest OTHER centroid), s = (b − a)/max(a, b) ∈ [−1, 1]; s near
    * 1 reads well-separated, s ≤ 0 reads "this vector sits closer to
    * another cell" — the number that decides whether k was right
    * before [[semDedupOf]] trusts the cells. The full-pairwise
    * silhouette is Θ(n²); the centroid form is the linear-cost
    * standard for large n (each vector scores against k centroids —
    * the SAME k-row broadcast as the assignment pass).
    *
    * Determinism: cosines round to 6 dp (the assignment contract), so
    * b is the rank-2 score of the SAME (cs DESC, c_id) window that
    * ranks the assignment — max over other centroids = the runner-up,
    * no second scan. One IEEE division per vector, s quantized to 1e-6
    * ints before the per-cluster mean (order-blind integer sums), 4 dp
    * half-up. A vector scoring 1.0 on BOTH centroids (max(a,b) = 0)
    * contributes s = 0, the boundary convention. */
  def silhouetteOf(embeddings: DataFrame, k: Int = K,
                   iters: Int = Iterations): DataFrame = {
    require(k >= 2 && iters > 0, s"need k >= 2 and iters > 0, got k=$k iters=$iters")
    val vecs = vectors(embeddings)
    val cents = lloyd(vecs, col("vec_id") < k, iters)
    val byScore = Window.partitionBy("vec_id")
      .orderBy(col("cs").desc, col("c_id"))
    val ranked = vecs.join(broadcast(cents)) // k rows — bounded
      .select(col("vec_id"), col("c_id"),
        VectorF.roundedCosine(col("emb"), col("c_emb")).as("cs"))
      .filter(col("cs").isNotNull) // zero-norm vectors never scored
      .withColumn("rn", row_number().over(byScore))
      .filter(col("rn") <= 2)
    val perVec = ranked.groupBy("vec_id")
      .agg(max(when(col("rn") === 1, col("c_id"))).as("cluster"),
        max(when(col("rn") === 1, col("cs"))).as("ac"),
        max(when(col("rn") === 2, col("cs"))).as("bc"))
      .select(col("vec_id"), col("cluster"),
        (lit(1.0) - col("ac")).as("a"), (lit(1.0) - col("bc")).as("b"))
      .select(col("cluster"),
        when(greatest(col("a"), col("b")) === 0.0, lit(0L))
          .otherwise(Behavior.micro((col("b") - col("a"))
            / greatest(col("a"), col("b"))))
          .as("sq"))
    perVec.groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("sq").as("ssum"), min("sq").as("smin"))
      .select(col("cluster"), col("n"),
        graft.functions.TextF.round4HalfUp(
          col("ssum").cast("double") / 1e6 / col("n").cast("double"))
          .as("mean_silhouette"),
        (col("smin").cast("double") / 1e6).as("min_silhouette"))
      .orderBy("cluster")
  }

  /** Pairwise centroid-separation matrix over [[kmeansEmbedOf]]'s
    * final centroids: cosine between every unordered centroid pair —
    * [[silhouetteOf]] scores each POINT against the geometry; this
    * reports the geometry itself (two centroids at cos 0.98 are one
    * topic split in half — merge the cells before [[semDedupOf]]
    * trusts them; k was too big). k(k−1)/2 rows by construction.
    *
    * Determinism: the same quantized-centroid contract as the
    * assignment pass; pair cosines round to 6 dp. Shape: the centroid
    * frame is k rows — the "self-join" is a bounded broadcast cross,
    * nothing fact-sized moves. */
  def centroidSeparationOf(embeddings: DataFrame, k: Int = K,
                           iters: Int = Iterations): DataFrame = {
    require(k >= 2 && iters > 0, s"need k >= 2 and iters > 0, got k=$k iters=$iters")
    val vecs = vectors(embeddings)
    val cents = lloyd(vecs, col("vec_id") < k, iters)
      .localCheckpoint(false) // both sides of the bounded pair cross
    cents.select(col("c_id").as("c_a"), col("c_emb").as("ea"))
      .join(broadcast(cents.select(col("c_id").as("c_b"), col("c_emb").as("eb"))))
      .filter(col("c_a") < col("c_b"))
      .select(col("c_a"), col("c_b"),
        VectorF.roundedCosine(col("ea"), col("eb")).as("cosine"))
      .orderBy("c_a", "c_b")
  }

  /** Davies–Bouldin validity per cluster over [[kmeansEmbedOf]]'s
    * final geometry — the scatter-over-separation read that completes
    * the cluster-evaluation trio ([[silhouetteOf]] scores POINTS,
    * [[centroidSeparationOf]] reports raw GEOMETRY; DB '79 combines
    * them: for each cluster the worst (Sᵢ+Sⱼ)/Mᵢⱼ over other clusters
    * j, where S is mean within-cluster centroid distance and M the
    * centroid-pair distance — a term near/above 1 reads "cluster i
    * overlaps its neighbor j; merge or re-k before [[semDedupOf]]
    * trusts the cells"). Cosine distances throughout (1 − the 6-dp
    * assignment-contract cosine). Sᵢ quantizes member distances to
    * 1e-6 ints before the mean (order-blind integer sums, the
    * silhouette move); the per-pair ratio is a fixed double sequence
    * on the bounded k×k frame; the worst-j pick is a (ratio DESC,
    * j) row_number so ties break deterministically on both engines.
    * Coincident centroids (M = 0) null the pair via nullif rather
    * than dividing by zero; 6 dp half-up.
    *
    * Shape: the SAME k-row centroid broadcast + rank-1 scoring pass
    * as the assignment (one fact-wide scan, map-combinable member
    * stats); everything after — the k×k pair cross, the joins, the
    * worst-j window — rides k-bounded frames. */
  def daviesBouldinOf(embeddings: DataFrame, k: Int = K,
                      iters: Int = Iterations): DataFrame = {
    require(k >= 2 && iters > 0, s"need k >= 2 and iters > 0, got k=$k iters=$iters")
    val vecs = vectors(embeddings)
    val cents = lloyd(vecs, col("vec_id") < k, iters)
      .localCheckpoint(false) // scored against AND pair-crossed
    val own = Similarity.topK(vecs.join(broadcast(cents)) // k rows — bounded
        .select(col("vec_id"), col("c_id"),
          VectorF.roundedCosine(col("emb"), col("c_emb")).as("cs"))
        .filter(col("cs").isNotNull),
      "vec_id", col("cs").desc, "c_id", 1, "rn")
    val si = own.groupBy(col("c_id").as("cluster"))
      .agg(count(lit(1)).as("n"),
        sum(Behavior.micro(lit(1.0) - col("cs"))).as("ssum"))
      .select(col("cluster"), col("n"),
        (col("ssum").cast("double") / 1e6 / col("n").cast("double")).as("s"))
    val pairs = cents.select(col("c_id").as("ci"), col("c_emb").as("ei"))
      .join(broadcast(cents.select(col("c_id").as("cj"), col("c_emb").as("ej"))))
      .filter(col("ci") =!= col("cj"))
      .select(col("ci"), col("cj"),
        (lit(1.0) - VectorF.roundedCosine(col("ei"), col("ej"))).as("mij"))
    val terms = pairs
      .join(broadcast(si.select(col("cluster").as("ci"),
        col("n").as("n_i"), col("s").as("s_i"))), Seq("ci"))
      .join(broadcast(si.select(col("cluster").as("cj"),
        col("s").as("s_j"))), Seq("cj"))
      .select(col("ci"), col("cj"), col("n_i"), col("s_i"),
        ((col("s_i") + col("s_j")) / nullif(col("mij"), lit(0.0))).as("ratio"))
    Similarity.topK(terms, "ci", col("ratio").desc_nulls_last, "cj", 1, "rn")
      .select(col("ci").as("cluster"), col("n_i").as("n"),
        graft.functions.TextF.round4HalfUp(col("s_i")).as("scatter"),
        col("cj").as("worst_other"),
        graft.functions.TextF.round6HalfUp(col("ratio")).as("db_term"))
      .orderBy("cluster")
  }

  /** Topic labels for the embedding clusters: the top keyness terms of
    * each kmeans cell's documents vs the rest of the corpus — the
    * human-readable "what IS cluster 3" read that turns row 62's
    * geometry into an auditable topic model (and the sanity check
    * before row 127 deletes inside cells). vec_id ↔ doc_id is the
    * library's embedding-of-document contract. Keyness is
    * [[CorpusStats.termKeynessOf]]'s add-one smoothed
    * relative-frequency ratio — log-free, IEEE-deterministic — scored
    * per (cluster, token) against rest-of-corpus, top `topN` per
    * cluster by (keyness DESC, token).
    *
    * Shape: assignment reuses [[assignedOf]] (one contract, no
    * drift); the token explode joins the bounded assignment on
    * doc_id; all scoring runs on the (cluster, token) aggregate frame
    * with k-row/1-row broadcasts; the ranker is a per-cluster
    * WindowGroupLimit. */
  def clusterTopicsOf(embeddings: DataFrame, docs: DataFrame,
                      k: Int = K, iters: Int = Iterations,
                      minCount: Long = 3, topN: Int = 3): DataFrame = {
    require(topN > 0 && minCount >= 0, s"need topN>0, minCount>=0; got $topN/$minCount")
    val assigned = assignedOf(embeddings, k, iters)
      .select(col("vec_id"), col("cluster"))
    val tf = docs
      .select(col("doc_id"), explode(graft.functions.TextF.tokens(col("text")))
        .as("token"))
      .join(assigned, col("doc_id") === col("vec_id"))
      .groupBy("cluster", "token")
      .agg(count(lit(1)).as("f"))
      .localCheckpoint(false) // totals + vocab + report all read it
    val clusterTotals = tf.groupBy("cluster").agg(sum("f").as("n_c"))
    val totals = tf.agg(sum("f").as("n"), countDistinct("token").as("v"))
    val perToken = tf.groupBy("token").agg(sum("f").as("f_all"))
    val keyness = graft.functions.TextF.round4HalfUp(
      ((col("f") + 1L).cast("double")
        * ((col("n") - col("n_c")) + col("v")).cast("double")) /
        (((col("f_all") - col("f")) + 1L).cast("double")
          * (col("n_c") + col("v")).cast("double")))
    val scored = tf.filter(col("f") >= minCount)
      .join(broadcast(clusterTotals), "cluster") // k rows
      .join(perToken, "token")                   // token-keyed equijoin
      .crossJoin(broadcast(totals))              // 1 row
      .select(col("cluster"), col("token"), col("f"), keyness.as("keyness"))
    Similarity.topK(scored, "cluster", col("keyness").desc, "token", topN)
      .orderBy("cluster", "rank")
  }

  /** Embedding drift monitor per label: cosine between the label's
    * centroid over the OLD vintage and over the NEW one — the
    * model-ops gate before an embedding refresh ships (a label whose
    * centroid swings is re-indexed / re-evaluated; row 218 gates
    * SCHEMA drift, this gates REPRESENTATION drift). Vintages split
    * deterministically on vec_id parity (the corpus's stand-in for
    * ingest batches — swap the predicate for a real vintage column in
    * production). Centroids are the [[labelCentroidsOf]] quantized
    * element-wise means (integer 1e-6 sums per dimension — no float
    * accumulation order); ONE codegen'd cosine per label, 6 dp.
    * Labels missing a vintage emit nothing (no centroid to compare).
    *
    * Shape: one (label, vintage, dim) map-combinable aggregate on the
    * posexploded frame; everything after rides the bounded
    * labels × 2 × 64 frame. */
  def embeddingDriftOf(embeddings: DataFrame): DataFrame = {
    val vecs = embeddings.select(col("label"),
      (col("vec_id") % 2 === 0).as("old_half"),
      col("embedding").cast("array<double>").as("emb"))
    val cents = vecs
      .select(col("label"), col("old_half"),
        posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy("label", "old_half", "pos")
      .agg(sum(round(col("v") * 1e6).cast("long")).as("isum"),
        count(lit(1)).as("cnt"))
      .select(col("label"), col("old_half"), col("pos"), col("cnt"),
        round(col("isum").cast("double") / 1e6 / col("cnt").cast("double"), 6)
          .as("v"))
      .groupBy("label", "old_half")
      .agg(max("cnt").as("n"), // per-dim member count is constant
        transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as("c"))
    val o = cents.filter(col("old_half"))
      .select(col("label"), col("n").as("n_old"), col("c").as("c_old"))
    val nw = cents.filter(!col("old_half"))
      .select(col("label"), col("n").as("n_new"), col("c").as("c_new"))
    o.join(nw, Seq("label"))
      .select(col("label"), col("n_old"), col("n_new"),
        VectorF.roundedCosine(col("c_old"), col("c_new")).as("drift_cos"))
      .orderBy("label")
  }

  /** Embedding isotropy audit — the "has the space collapsed" gate
    * (Ethayarajh '19; Mu & Viswanath '18's all-but-the-top
    * motivation) run BEFORE any cosine-based operator here is
    * trusted: in a healthy centered space the mean vector is small
    * and points spread around it (cosine-to-centroid ≈ 0 on average,
    * anisotropy = ‖μ‖/mean‖x‖ ≈ 0); a collapsed space piles every
    * vector onto one dominant direction (avg cos → 1, anisotropy →
    * 1) and cosine similarity stops discriminating — ANN recall,
    * SemDeDup cells, and kNN labels all degrade together.
    *
    * Determinism: μ is the 1e-6-quantized element-wise global
    * centroid (the [[labelCentroidsOf]] contract with one constant
    * key); cosines are the rounded-6dp native-expression contract;
    * squared norms quantize PER ELEMENT (⌊v²·10⁹+½⌋) so the
    * accumulating sums are order-blind integers and the norm is ONE
    * IEEE √ of an exact ratio; means ride quantized integer sums.
    *
    * Shape: one posexplode centroid aggregate + one map-only scoring
    * scan against the 1-row broadcast μ — linear, no pair mass. */
  def isotropyAuditOf(embeddings: DataFrame): DataFrame = {
    val vecs = vectors(embeddings)
    val mu = quantizedCentroids(vecs.withColumn("g", lit(0)), "g")
      .select(col("c_emb")) // 1 row
    val sq = aggregate(col("emb"), lit(0L),
      (acc, v) => acc + floor(v * v * 1e9 + 0.5).cast("long"))
    val muSq = aggregate(col("c_emb"), lit(0L),
      (acc, v) => acc + floor(v * v * 1e9 + 0.5).cast("long"))
    def d(c: Column) = c.cast("double")
    val scored = vecs.crossJoin(broadcast(mu)) // 1 row by construction
      .select(
        VectorF.roundedCosine(col("emb"), col("c_emb")).as("cs"),
        Behavior.micro(sqrt(d(sq) / 1e9)).as("normq"),
        muSq.as("mu_sq"))
    scored.agg(
        count(lit(1)).as("n"),
        count(col("cs")).as("n_scored"),
        sum(Behavior.micro(col("cs"))).as("csum"),
        min("cs").as("min_cos"),
        sum(when(col("cs") < 0.0, 1L).otherwise(0L)).as("nneg"),
        sum("normq").as("nsum"),
        max("mu_sq").as("mu_sq")) // constant column
      .select(col("n"), col("n_scored"),
        graft.functions.TextF.round4HalfUp(
          d(col("csum")) / 1e6 / d(col("n_scored"))).as("avg_cos"),
        col("min_cos"),
        expr("(nneg * 1000000) div n_scored").as("neg_ppm"),
        graft.functions.TextF.round6HalfUp(
          d(col("nsum")) / 1e6 / d(col("n"))).as("mean_norm"),
        graft.functions.TextF.round6HalfUp(
          sqrt(d(col("mu_sq")) / 1e9)).as("norm_of_mean"),
        graft.functions.TextF.round6HalfUp(
          sqrt(d(col("mu_sq")) / 1e9)
            / nullif(d(col("nsum")) / 1e6 / d(col("n")), lit(0.0)))
          .as("anisotropy"))
  }

  /** The final k-means assignment (vec_id, emb, cluster), materialized:
    * [[knnEdges]] joins it with itself and the hubness audit also reads
    * its membership, so the Lloyd chain runs once. */
  private def cells(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    assignedOf(embeddings, k, iters)
      .select(col("vec_id"), col("emb"), col("cluster"))
      .localCheckpoint(false)

  /** The per-point `nn`-NN edge frame within [[cells]]' k-means cells
    * (cluster, vec_id → b_id) under the rounded-cosine total order —
    * shared by the hubness audit and the mutual-kNN rate so the two
    * always read the SAME graph. Pairwise only within cells (the
    * [[semDedupOf]] bound). */
  private def knnEdges(a: DataFrame, nn: Int): DataFrame = {
    require(nn > 0, s"nn must be positive, got $nn")
    val b = a.select(col("cluster").as("b_cluster"),
      col("vec_id").as("b_id"), col("emb").as("b_emb"))
    Similarity.topK(a.join(b, col("cluster") === col("b_cluster") &&
          col("b_id") =!= col("vec_id"))
        .select(col("cluster"), col("vec_id"), col("b_id"),
          VectorF.roundedCosine(col("emb"), col("b_emb")).as("cs"))
        .filter(col("cs").isNotNull),
      "vec_id", col("cs").desc, "b_id", nn, "rn")
      .select(col("cluster"), col("vec_id"), col("b_id"))
  }

  /** Hubness audit over the k-means cells (Radovanović '10): in high
    * dimensions a few points ("hubs") appear in a disproportionate
    * share of other points' k-NN lists while "antihubs" appear in
    * none — skewed hubness silently degrades every kNN consumer here
    * (label votes, SemDeDup representatives, retrieval evals). Per
    * cell: each member's 3-NN among cellmates under the rounded-
    * cosine total order (cs DESC, id — the shared contract), then
    * the IN-degree distribution: max, antihub share (in-degree 0),
    * hub share (in-degree ≥ 2k = 6).
    *
    * Shape: pairwise only WITHIN cells (Σ‖cell‖², never n² — the
    * [[semDedupOf]] bound and its documented scale posture: cells
    * grow with k ∝ n); the top-k pick is a per-POINT window
    * (parallelism = points), in-degree one bounded-key aggregate. */
  def hubnessAuditOf(embeddings: DataFrame, k: Int = K,
                     iters: Int = Iterations, nn: Int = 3): DataFrame = {
    val a = cells(embeddings, k, iters)
    val indeg = knnEdges(a, nn)
      .groupBy(col("cluster"), col("b_id").as("vec_id"))
      .agg(count(lit(1)).as("indeg"))
    a.select(col("cluster"), col("vec_id"))
      .join(indeg, Seq("cluster", "vec_id"), "left")
      .select(col("cluster"), coalesce(col("indeg"), lit(0L)).as("indeg"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        max("indeg").as("max_indegree"),
        sum(when(col("indeg") === 0L, 1L).otherwise(0L)).as("n_antihubs"),
        sum(when(col("indeg") >= 2L * nn, 1L).otherwise(0L)).as("n_hubs"))
      .select(col("cluster"), col("n"), col("max_indegree"),
        expr("(n_antihubs * 1000000) div n").as("antihub_ppm"),
        expr("(n_hubs * 1000000) div n").as("hub_ppm"))
      .orderBy("cluster")
  }

  /** Mutual-kNN (reciprocity) rate per cell over the SAME edge frame
    * as [[hubnessAuditOf]] — the manifold-health twin: in a clean
    * embedding neighborhoods are symmetric (you are your neighbor's
    * neighbor — reciprocity near 1); hub-dominated or noisy spaces
    * read low reciprocity, and mutual-NN filtering is the standard
    * rescue (reciprocal-rank fusion's geometric cousin). Reported as
    * exact ppm: 2·mutual_pairs / edges.
    *
    * Shape: the shared within-cell kNN edges, one self-equijoin on
    * the reversed edge key, bounded per-cluster fold. */
  def mutualKnnRateOf(embeddings: DataFrame, k: Int = K,
                      iters: Int = Iterations, nn: Int = 3): DataFrame = {
    val e = knnEdges(cells(embeddings, k, iters), nn)
      .select(col("cluster"), col("vec_id").as("u"), col("b_id").as("v"))
      .localCheckpoint(false) // both sides of the reciprocity join
    val rev = e.select(col("cluster"), col("v").as("u"), col("u").as("v"))
    val mutual = e.join(rev, Seq("cluster", "u", "v"))
      .filter(col("u") < col("v"))
      .groupBy("cluster").agg(count(lit(1)).as("n_mutual"))
    e.groupBy("cluster").agg(count(lit(1)).as("n_edges"))
      .join(mutual, Seq("cluster"), "left")
      .select(col("cluster"), col("n_edges"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual_pairs"),
        expr("""(coalesce(n_mutual, 0L) * 2000000) div n_edges""")
          .as("reciprocity_ppm"))
      .orderBy("cluster")
  }

  /** Clustering stability via the Adjusted Rand Index between two
    * k-means runs seeded on DISJOINT seed sets (vectors 0..k−1 vs
    * k..2k−1) — the "is this partition real structure or seed
    * noise" gate the validity trio (silhouette / separation /
    * Davies-Bouldin) cannot answer, because all three score ONE run
    * against itself. ARI near 1 ⇒ the cells [[semDedupOf]] trusts
    * are reproducible; near 0 ⇒ they are artifacts of where Lloyd
    * started (Hubert-Arabie '85 chance-corrected form).
    *
    * Determinism: both assignments are the standard 6-dp-cosine
    * chain; the contingency table is bounded (≤ k² cells) and every
    * pair count C(x,2) = x(x−1) div 2 is EXACT integer; the
    * chance-correction algebra clears denominators —
    * ARI = (2·T·Σij − 2·Σa·Σb) / (T·(Σa+Σb) − 2·Σa·Σb) — so ONE
    * double division renders it, 6 dp; identical-partition
    * degeneracy (both sides one cluster) nulls via nullif.
    *
    * Shape: two k-row-broadcast assignment scans over one
    * checkpointed vector frame, one vec-keyed equijoin, then
    * everything on the bounded k×k contingency frame. */
  def clusterStabilityAriOf(embeddings: DataFrame, k: Int = K,
                            iters: Int = Iterations): DataFrame = {
    require(k > 0 && iters > 0, s"need k > 0 and iters > 0, got k=$k iters=$iters")
    val vecs = vectors(embeddings)
      .localCheckpoint(false) // two assignment chains share it
    val a = assign(vecs, lloyd(vecs, col("vec_id") < k, iters))
      .select(col("vec_id"), col("cluster").as("ca"))
    val b = assign(vecs, lloyd(vecs, col("vec_id") >= k && col("vec_id") < 2L * k, iters))
      .select(col("vec_id"), col("cluster").as("cb"))
    val cont = a.join(b, Seq("vec_id"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("nij")) // ≤ k² cells
      .localCheckpoint(false) // marginals + cells share it
    val sij = cont.agg(sum(expr("((nij * (nij - 1)) div 2)").cast(Dec))
      .as("sij"), sum(col("nij").cast(Dec)).as("n"),
      countDistinct("ca").as("ka"), countDistinct("cb").as("kb"))
    val sa = cont.groupBy("ca").agg(sum("nij").as("ai"))
      .agg(sum(expr("((ai * (ai - 1)) div 2)").cast(Dec)).as("sa"))
    val sb = cont.groupBy("cb").agg(sum("nij").as("bi"))
      .agg(sum(expr("((bi * (bi - 1)) div 2)").cast(Dec)).as("sb"))
    def d(c: Column) = c.cast("double")
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb)) // 1-row frames
      .withColumn("t", expr(s"CAST((n * (n - 1)) div 2 AS $Dec)"))
      .select(col("n").cast("long").as("n_vectors"),
        col("ka"), col("kb"),
        // Rand index = 1 − (Σa + Σb − 2Σij)/T
        graft.functions.TextF.round6HalfUp(
          lit(1.0) - d(col("sa") + col("sb") - lit(2).cast(Dec) * col("sij"))
            / nullif(d(col("t")), lit(0.0))).as("rand_index"),
        graft.functions.TextF.round6HalfUp(
          d(lit(2).cast(Dec) * col("t") * col("sij")
            - lit(2).cast(Dec) * col("sa") * col("sb"))
            / nullif(d(col("t") * (col("sa") + col("sb"))
              - lit(2).cast(Dec) * col("sa") * col("sb")), lit(0.0)))
          .as("ari"))
  }

  /** Label purity + Gini impurity per k-means cell — the SUPERVISED
    * cluster-quality read ([[knnClassifyOf]] scores points, the
    * validity trio scores geometry; this asks whether the cells line
    * up with the labels at the CELL level — the read that justifies
    * per-cluster label propagation or flags a k mismatch): purity =
    * majority-label share, Gini = 1 − Σp² with denominators cleared
    * to exact integers ((n² − Σc²)·10⁶ div n²), majority ties to the
    * smaller label.
    *
    * Shape: the standard assignment chain, one (cluster, label)
    * bounded aggregate, a k-bounded ranker. */
  def clusterPurityOf(embeddings: DataFrame, k: Int = K,
                      iters: Int = Iterations): DataFrame = {
    val cells = assignedOf(embeddings, k, iters)
      .select(col("vec_id"), col("cluster"))
      .join(embeddings.select(col("vec_id"),
        col("label").cast("long").as("label")), Seq("vec_id"))
      .groupBy("cluster", "label").agg(count(lit(1)).as("c"))
    val major = Similarity.topK(cells, "cluster", col("c").desc, "label", 1, "rn")
      .select(col("cluster"), col("label").as("majority_label"),
        col("c").as("n_majority"))
    cells.groupBy("cluster")
      .agg(sum("c").as("n"),
        sum((col("c") * col("c")).cast(Dec)).as("sq"),
        countDistinct("label").as("n_labels"))
      .join(major, Seq("cluster"))
      .select(col("cluster"), col("n"), col("n_labels"),
        col("majority_label"),
        expr("(n_majority * 1000000) div n").as("purity_ppm"),
        expr(s"""CAST(((CAST(n AS $Dec) * n - sq) * 1000000)
                div (CAST(n AS $Dec) * n) AS BIGINT)""")
          .as("gini_ppm"))
      .orderBy("cluster")
  }
}
