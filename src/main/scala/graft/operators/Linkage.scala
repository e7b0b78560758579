package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity-resolution (record-linkage) operators: fuzzy string matching
  * with blocking — the dedup pass a warehouse runs over DIMENSION
  * values (product names, merchants, addresses) where near-misses are
  * typos rather than near-duplicate documents (that family lives in
  * [[Dedup]]).
  *
  * Scale design (100 TB): the quadratic edit-distance work NEVER runs
  * on the fact table. Facts collapse to a distinct value dictionary
  * first (map-side combinable aggregate — dictionary size is bounded
  * by the vocabulary, not the row count), the dictionary self-joins
  * only within blocks, and a length band inside the block prunes pairs
  * that could never pass (|len(a) − len(b)| > maxDist ⇒ edit distance
  * > maxDist). Both engines implement classic Levenshtein identically
  * (exact integer), so the oracle is hash-exact.
  */
object Linkage {

  /** Fuzzy name matching over the part-name dictionary: pairs of
    * DISTINCT names within a block (the last token — the product noun;
    * a typo in the qualifier never changes the block) at Levenshtein
    * distance ≤ `maxDist`, each carrying its part count so a resolver
    * can pick the canonical (more frequent) spelling. `name_a <
    * name_b` lexicographically — each unordered pair appears once.
    */
  def fuzzyMatchOf(parts: DataFrame, maxDist: Int = 2): DataFrame = {
    require(maxDist > 0, s"maxDist must be positive, got $maxDist")
    val dict = parts
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
      .select(col("name"), col("n_parts"),
        element_at(split(col("name"), " "), -1).as("block"))
      // dictionary-sized (vocabulary-bounded); both self-join sides
      .localCheckpoint(false)
    val a = dict.select(col("block"), col("name").as("name_a"),
      col("n_parts").as("n_a"))
    val b = dict.select(col("block"), col("name").as("name_b"),
      col("n_parts").as("n_b"))
    a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .filter(levenshtein(col("name_a"), col("name_b")) <= maxDist)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("n_a"), col("n_b"))
      .orderBy("name_a", "name_b")
  }

  /** Entity RESOLUTION on top of [[fuzzyMatchOf]]: the pair list says
    * "these two names look alike"; resolution needs the transitive
    * closure ("typo-A ~ typo-B ~ canonical" is one entity even when
    * A and C never pair directly). Components over the match edges
    * ([[Components.connectedComponents]] — min-label propagation works
    * unchanged on string ids), every name included as its own
    * singleton, cluster label = lexicographically-smallest member
    * (the deterministic canonical-name pick), cluster_size for the
    * review queue. Edge list is vocabulary-bounded like the match
    * itself; the closure is Θ(edges·diameter) with typo-cluster
    * diameters of 1-2. */
  def entityClustersOf(parts: DataFrame, maxDist: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dict = parts.groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
    val edges = fuzzyMatchOf(parts, maxDist)
      .select(col("name_a").as("a"), col("name_b").as("b"))
    val labels = Components.connectedComponents(
      edges, dict.select(col("name").as("id")))
    dict.join(labels, dict("name") === labels("id"))
      .select(col("name"), col("component").as("cluster"), col("n_parts"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .select(col("name"), col("cluster"), col("cluster_size"), col("n_parts"))
      .orderBy("name")
  }
}
