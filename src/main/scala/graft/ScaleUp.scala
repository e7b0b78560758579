package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: replicates a testdata directory N×
  * with consistently SHIFTED keys, so the suite can be benchmarked one
  * decade above the largest driver-provided scale factor
  * (`sf0.1 ×10 → "sf1"`) without synthesizing new content.
  *
  * Every entity key is offset per replica by a stride owned by its
  * defining table (custkey stride = max(c_custkey)+1, etc.), and
  * foreign keys shift by the SAME stride as their target, so
  * referential integrity and join fan-outs survive: replica r of an
  * order still points at replica r of its customer. Dimension tables
  * (region, nation) copy once — scale grows facts, not geography.
  * Event timestamps are left alone: 10× data in the same window means
  * 10× users and 10× daily volume, which is how production traffic
  * grows; items inside `props` are shared, so graph queries see the
  * same node set with 10× edges.
  *
  * Replicated documents/embeddings are exact copies under shifted
  * ids — every doc gains N−1 identical twins. For dedup operators
  * that is the worst-case duplicate distribution (maximum cluster
  * mass), which is exactly what a dedup scale rehearsal should
  * stress; SURVEY §6 reads the resulting sf0.1→sf1 ratios.
  *
  * The optional `perturb` mode is the OTHER corner: novel-content
  * growth. Every third token of each replica's text is tagged with
  * the replica id, so every cross-replica 8-gram shingle differs and
  * replicas are near-dups of NOTHING (within-replica structure is
  * preserved — all copies of a corpus transform identically);
  * embeddings get deterministic per-(vec_id, dim) jitter that
  * scatters cross-replica cosines. Duplicate-cluster mass stays at
  * the seed corpus's level while rows grow N× — production growth,
  * where new data is mostly new. A dedup rehearsal needs BOTH
  * corners: twins bound the pair-mass law, perturb measures the
  * per-row engine scaling.
  *
  * Usage: `runMain graft.ScaleUp <inDir> <outDir> <replicas> [perturb]
  * [only=t1,t2]`. `only=` restricts output to the named fact tables
  * (dimensions still copy) — a ×1000 twins corpus for a dedup
  * rehearsal needs documents, not 600M lineitem rows. Output is
  * written as parquet DIRECTORIES named `<table>.parquet`, which
  * `Tables`/Bench read exactly like the driver's single files.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val onlyArg = args.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").map(_.trim).toSet)
    val (inDir, outDir, nStr, perturb) =
      args.filterNot(_.startsWith("only=")) match {
        case Array(i, o, n) => (i, o, n, false)
        case Array(i, o, n, "perturb") => (i, o, n, true)
        case _ => sys.error(
          s"usage: ScaleUp <inDir> <outDir> <replicas> [perturb] [only=t1,t2]")
      }
    val n = nStr.toInt
    require(n >= 1, s"replicas must be >= 1, got $n")
    val spark = Runner.session()

    def read(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")
    def stride(t: String, key: String): Long =
      read(t).agg(max(col(key))).head().getLong(0) + 1L

    // key column → (owning stride); FKs share their target's stride.
    val strides = Map(
      "c_custkey" -> stride("customer", "c_custkey"),
      "o_orderkey" -> stride("orders", "o_orderkey"),
      "p_partkey" -> stride("part", "p_partkey"),
      "s_suppkey" -> stride("supplier", "s_suppkey"),
      "event_id" -> stride("events", "event_id"),
      "user_id" -> stride("events", "user_id"),
      "doc_id" -> stride("documents", "doc_id"),
      "vec_id" -> stride("embeddings", "vec_id"))
    // table → (column, stride-owner) pairs
    val keyCols = Map(
      "customer" -> Seq("c_custkey" -> "c_custkey"),
      "orders" -> Seq("o_orderkey" -> "o_orderkey", "o_custkey" -> "c_custkey"),
      "lineitem" -> Seq("l_orderkey" -> "o_orderkey", "l_partkey" -> "p_partkey",
        "l_suppkey" -> "s_suppkey"),
      "part" -> Seq("p_partkey" -> "p_partkey"),
      "supplier" -> Seq("s_suppkey" -> "s_suppkey"),
      "events" -> Seq("event_id" -> "event_id", "user_id" -> "user_id"),
      "documents" -> Seq("doc_id" -> "doc_id"),
      "embeddings" -> Seq("vec_id" -> "vec_id"))

    Seq("region", "nation").foreach { t =>
      read(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t: copied (dimension)")
    }
    keyCols.filter { case (t, _) => onlyArg.forall(_.contains(t)) }
      .foreach { case (t, keys) =>
      val pairs = keys.map { case (k, owner) => k -> strides(owner) }
      val reps = spark.range(n).select(col("id").as("rep"))
      val shifted = pairs.foldLeft(read(t).crossJoin(broadcast(reps))) {
        case (df, (k, s)) => df.withColumn(k, col(k) + col("rep") * s)
      }
      val out = (t, perturb) match {
        case ("documents", true) => shifted
          .withColumn("text", expr(
            """array_join(transform(split(text, ' '),
              |  (tk, i) -> IF(i % 3 = 0 AND rep > 0 AND tk != '',
              |    concat(tk, '_r', rep), tk)), ' ')""".stripMargin))
          .withColumn("n_chars", length(col("text")).cast("int"))
        case ("embeddings", true) => shifted
          .withColumn("embedding", expr(
            """transform(embedding, (x, i) -> CAST(x +
              |  IF(rep > 0, (hash(vec_id, i) % 1000) / 2000.0, 0.0)
              |  AS FLOAT))""".stripMargin))
        case _ => shifted
      }
      out.drop("rep").write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t: x$n" + (if (perturb) " (perturbed)" else ""))
    }
    spark.stop()
  }
}

/** Skew-corner generator for the gram-keyed rehearsals (r17): plants
  * ONE shared 16-token run at the end of a fraction of documents
  * (default 30%, deterministically by doc_id hash), so the planted
  * run contributes 9 single-gram-dominant 8-grams and one viral
  * 16-gram — the distribution where the r16 per-gram window MIN/COUNT
  * in ngram_novelty / boilerplate_stats / substr_dup_spans funnelled
  * ~a third of the corpus through one task, and the r17 map-side-
  * combinable aggregate + AQE-splittable join-back keeps full
  * parallelism. Usage: `runMain graft.SkewGram <inDir> <outDir>
  * [plantPct]`. */
object SkewGram {
  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val pct = args.lift(2).map(_.toInt).getOrElse(30)
    require(pct > 0 && pct <= 100, s"plantPct in (0,100], got $pct")
    val spark = Runner.session()
    val planted = (1 to 16).map(i => s"plantedboiler$i").mkString(" ")
    spark.read.parquet(s"$inDir/documents.parquet")
      .withColumn("text",
        when(pmod(xxhash64(col("doc_id")), lit(100)) < pct,
          concat(col("text"), lit(" " + planted)))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("int"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"[skewgram] documents: $pct% share one 16-token run -> $outDir")
    spark.stop()
  }
}

/** Skew-corner generator for the stratified-sampling rehearsal:
  * rewrites a documents table so ONE language dominates (default 90%
  * of docs become 'en', deterministically by doc_id hash) — the
  * distribution where a plain per-stratum window funnels ~the whole
  * corpus through one task and the grouped two-phase rank
  * ([[Scale.groupedTwoPhaseRank]]) keeps full parallelism. Usage:
  * `runMain graft.SkewLang <inDir> <outDir> [dominantPct]`. */
object SkewLang {
  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val pct = args.lift(2).map(_.toInt).getOrElse(90)
    require(pct > 0 && pct <= 100, s"dominantPct in (0,100], got $pct")
    val spark = Runner.session()
    spark.read.parquet(s"$inDir/documents.parquet")
      .withColumn("lang",
        when(pmod(xxhash64(col("doc_id")), lit(100)) < pct, lit("en"))
          .otherwise(col("lang")))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"[skewlang] documents: $pct% dominant 'en' -> $outDir")
    spark.stop()
  }
}
