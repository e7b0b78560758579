package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a similarity edge list — the transitive
  * closure a real dedup pipeline runs AFTER pair generation: near-dup
  * is not transitive, so "A~B, B~C" must still put A, B, C in one
  * cluster to keep exactly one representative.
  *
  * Iterative min-label propagation (the standard distributed CC, as in
  * GraphX/Pregel): every node starts labeled with itself; each round
  * every node takes the min of its label and its neighbors' labels;
  * fixpoint = every node holds its component's minimum id. Each round
  * is ONE shuffled join + aggregate on the edge list — no collect, no
  * driver-side graph — and `localCheckpoint` truncates the growing
  * lineage so round N doesn't replay rounds 1..N-1 (durability
  * trade-off and the cluster-scale `checkpoint()` switchover:
  * [[graft.Sessions]]' checkpoint policy). Rounds are bounded by
  * the graph diameter, which for near-dup clusters is tiny; `maxIter`
  * is a runaway guard, and convergence is detected distributedly (a
  * 1-row count of changed labels per round — the [[Fixpoint]] loop).
  */
object Components {

  /** @param edges (a, b) undirected pairs; ids must be non-null
    * @param nodes (id) — every node that must appear in the output,
    *              edges or not
    * @return (id, component) where component = min id reachable
    * @throws IllegalStateException if the label propagation has not
    *         reached its fixpoint within `maxIter` rounds (graph
    *         diameter exceeds the bound) — a silently-split component
    *         would let duplicates survive dedup, so partial results
    *         never escape; raise `maxIter` for long-chain graphs */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    // Lazy checkpoint ([[graft.Sessions]]' policy): round 1's fused
    // materialize-and-count job computes it on first use.
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint(false)
    val run = Fixpoint.iterate(
        nodes.select(col("id"), col("id").as("component")), maxIter) { (labels, _) =>
      val neighborMin = sym
        .join(labels.select(col("id").as("b"), col("component").as("nlbl")), "b")
        .groupBy(col("a").as("id")).agg(min("nlbl").as("nmin"))
      labels.select("id", "component").join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"),
          (col("nmin") < col("component")).as("changed"))
    }
    if (!run.converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — graph " +
          "diameter exceeds the bound; raise maxIter")
    // The final labels read from the last checkpoint only (truncated
    // lineage), so the edge list's blocks can go too.
    Fixpoint.freeCheckpoint(sym)
    run.state.select("id", "component")
  }

  /** Near-dup clusters with TRANSITIVE closure: components over the
    * exact-Jaccard pair list (threshold t), singletons included.
    * Oracle-checked against a DuckDB brute-force pair list + recursive
    * closure. */
  def dedupComponentsOf(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.jaccardPairsOf(docs, threshold)
      .select(col("a_id").as("a"), col("b_id").as("b"))
    val nodes = docs.select(col("doc_id").as("id"))
    connectedComponents(pairs, nodes)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  /** Representative selection: from each near-dup component keep the
    * member with the HIGHEST quality score (ties → lowest doc_id) —
    * the real-world final step of transitive dedup, where "keep the
    * minimum id" (what the raw component label encodes) would throw
    * away the best copy of a cluster. Expressed as a lexicographic
    * struct max over (quality, -doc_id), so the aggregate combines
    * map-side — one candidate per component per partition reaches the
    * shuffle (cf. Warehouse.latestPerKeyOf, the same shape).
    *
    * @param components (doc_id, component) — e.g. [[dedupComponentsOf]]
    * @param quality    (doc_id, quality)   — any score; ties break low-id
    */
  def pickRepresentativesOf(components: DataFrame, quality: DataFrame): DataFrame =
    // LEFT join: quality is typically computed on a filtered subset,
    // and an inner join would undercount members — or drop a whole
    // component (emitting ZERO copies of that cluster) when none of
    // its members were scored. Unscored members sort below every
    // scored one (has_q=false < true), so they are kept only when
    // nothing scored exists, and then report a NULL quality.
    components.join(quality, Seq("doc_id"), "left")
      .groupBy("component")
      .agg(
        max(struct(col("quality").isNotNull.as("has_q"),
          coalesce(col("quality"), lit(0.0)).as("q"),
          (-col("doc_id")).as("neg_id"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("component"),
        (-col("m.neg_id")).as("keep_id"),
        when(col("m.has_q"), col("m.q")).as("keep_quality"),
        col("n_members"))
      .orderBy("component")

  /** The PRODUCTION closure path ([[Dedup.dedupCascadeOf]]'s ordering,
    * surfaced as the per-doc assignment): collapse byte-identical
    * docs first (exact sha256 keep-first), run banded pair-gen +
    * min-label closure on the SURVIVORS only, then propagate each
    * removed twin to its keeper's component. Output is IDENTICAL to
    * [[dedupComponentsOf]] on the full corpus — byte-identical docs
    * have identical shingle sets (same neighbors, Jaccard 1 to their
    * keeper) and each keeper is its exact-group's min id, so the
    * full-closure min label equals the survivor-closure label — but
    * the pair mass drops from Θ(Σ full-cluster²) to
    * Θ(Σ distinct-text-cluster²): the exact twins that made the raw
    * closure's pair join quadratic at the ×1000 rehearsal never reach
    * the banded join. This is the path a 100 TB run registers;
    * the raw [[dedupComponentsOf]] stays as the verification twin.
    *
    * Shape: one content-hash aggregate (map-combinable) + one doc_id
    * equi-join picks survivors; the closure runs on the collapsed
    * corpus; one (h)-equi-join + one (keep_id)-equi-join fan the
    * labels back out. Nothing new is all-pairs. */
  def dedupComponentsCascadeOf(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .localCheckpoint(false) // keeper set + member fan-out share it
    val keep = hashed.groupBy("h").agg(min("doc_id").as("keep_id"))
    val survivors = docs.join(
      keep.select(col("keep_id").as("doc_id")), Seq("doc_id"))
    val comp = dedupComponentsOf(survivors, threshold)
      .select(col("doc_id").as("keep_id"), col("component"))
    hashed.join(keep, Seq("h"))
      .join(comp, Seq("keep_id"))
      .select(col("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  /** Dedup selection-bias audit — does keep-first near-dup dedup
    * systematically change corpus quality? Per source: kept (component
    * representative = the closure's min-id label) vs removed doc
    * counts, each side's mean quality score, and the removed token
    * mass — the governance read that catches a dedup pass quietly
    * deleting the better copies (keep-first is id-blind; if crawl
    * order correlates with quality, the bias shows HERE before
    * training does). Quality on its exact 1e-4 grid (one int64 sum
    * per side, ONE double division each, 4 dp half-up — NULL when a
    * side is empty); token mass in whitespace tokens, ppm by integer
    * division.
    *
    * Shape: the closure is [[dedupComponentsOf]]; the audit adds one
    * doc-keyed equi-join (quality/token projection ⋈ labels) and a
    * bounded source aggregate. */
  def dedupQualityBiasOf(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextF
    val comp = dedupComponentsOf(docs, threshold)
      .select(col("doc_id"), col("component"))
    docs.select(col("doc_id"), col("source"),
        TextF.grid4(TextF.qualityScore(col("text"), TextAnalysis.Stopwords))
          .as("qk"),
        TextF.tokenCount(col("text")).cast("long").as("tok"))
      .join(comp, "doc_id")
      .withColumn("kept", col("doc_id") === col("component"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("qk")).otherwise(0L)).as("qk_kept"),
        sum(when(!col("kept"), col("qk")).otherwise(0L)).as("qk_removed"),
        sum(col("tok")).as("tokens_total"),
        sum(when(!col("kept"), col("tok")).otherwise(0L)).as("tokens_removed"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_removed"),
        TextF.round4HalfUp(expr(
          "try_divide(CAST(qk_kept AS DOUBLE), CAST(n_kept AS DOUBLE)) / 1e4"))
          .as("mean_q_kept"),
        TextF.round4HalfUp(expr(
          "try_divide(CAST(qk_removed AS DOUBLE), CAST(n_docs - n_kept AS DOUBLE)) / 1e4"))
          .as("mean_q_removed"),
        col("tokens_removed"),
        expr("(tokens_removed * 1000000) div tokens_total")
          .as("removed_token_ppm"))
      .orderBy("source")
  }

  /** Duplicate-cluster size distribution over [[dedupComponentsOf]]'s
    * closure: how many components exist at each size, and how many
    * documents (and removable duplicates) they carry — the power-law
    * read that prices a dedup run BEFORE it runs: pair mass is
    * Θ(Σ size²) (§6's rehearsal bound), so a corpus whose mass sits in
    * a few huge clusters needs the cascade's exact-first collapse
    * while a flat distribution can go straight to banding. Removable
    * = (size − 1) per component: what dedup would delete.
    *
    * Shape: two bounded aggregates (component → size → histogram) on
    * top of the closure — nothing new shuffles at fact scale beyond
    * [[dedupComponentsOf]] itself. */
  def componentSizeDistOf(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    dedupComponentsOf(docs, threshold)
      .groupBy("component").agg(count(lit(1)).as("size"))
      .groupBy("size")
      .agg(count(lit(1)).as("n_components"))
      .select(col("size"), col("n_components"),
        (col("size") * col("n_components")).as("n_docs"),
        ((col("size") - 1L) * col("n_components")).as("n_removable"))
      .orderBy("size")

  /** Cross-SOURCE duplication share over the near-dup closure — the
    * provenance/licensing read the dedup family's audits don't
    * answer: of the duplicate clusters, how many span two or more
    * sources (content that leaked between providers — a licensing
    * and train/test-contamination flag) vs duplicate WITHIN one
    * source (ordinary re-publication)? Reports component counts,
    * cross-source counts, the docs they cover, and the exact-ppm
    * cross share among dup components.
    *
    * Shape: the row-64 closure, one doc-keyed equijoin to the source
    * dim, a component-keyed aggregate, one bounded fold. */
  def crossSourceDupShareOf(docs: DataFrame,
                            threshold: Double = 0.5): DataFrame = {
    val per = dedupComponentsOf(docs, threshold)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"))
    per.agg(
        count(lit(1)).as("n_components"),
        sum(when(col("n_docs") > 1L, 1L).otherwise(0L))
          .as("n_dup_components"),
        sum(when(col("n_sources") > 1L, 1L).otherwise(0L))
          .as("n_cross_source"),
        sum(when(col("n_sources") > 1L, col("n_docs")).otherwise(0L))
          .as("docs_in_cross"))
      .select(col("n_components"), col("n_dup_components"),
        col("n_cross_source"), col("docs_in_cross"),
        expr("""CASE WHEN n_dup_components > 0
                THEN (n_cross_source * 1000000) div n_dup_components
                ELSE NULL END""").as("cross_share_ppm"))
  }
}
