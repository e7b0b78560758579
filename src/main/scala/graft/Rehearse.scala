package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{Cluster, Dedup}
import graft.sources.Tables

/** Scale-rehearsal probes that Bench can't express: PARAMETERIZED
  * variants of registered queries (the sampled recall audit at the
  * s-value a given corpus size calls for — SURVEY row 156's power
  * knob). Same timing convention as Bench (full materialization via
  * toRdd.count, min over SPARK_GRAFT_REPEAT runs, one JSON line).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=… runMain graft.Rehearse <probe>[,<probe>…]`
  */
object Rehearse {
  def probes: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "lsh_recall_s8" -> ((s, d) => Dedup.lshRecallOf(Tables.documents(s, d), 0.5, sampleOneIn = 8)),
    "lsh_recall_s16" -> ((s, d) => Dedup.lshRecallOf(Tables.documents(s, d), 0.5, sampleOneIn = 16)),
    "lsh_recall_s32" -> ((s, d) => Dedup.lshRecallOf(Tables.documents(s, d), 0.5, sampleOneIn = 32)),
    // The hubness audit at the k ∝ n posture (SURVEY row 341): frozen
    // k=8 over a ×100 vector corpus is the deliberate Σ‖cell‖²
    // quadratic corner; a deployment sizes cells to the corpus.
    "hubness_k256" -> ((s, d) =>
      Cluster.hubnessAuditOf(Tables.embeddings(s, d), k = 256, iters = 2)),
    // The mutual-kNN twin at the same k ∝ n posture (SURVEY row 354).
    "mutual_knn_k256" -> ((s, d) =>
      Cluster.mutualKnnRateOf(Tables.embeddings(s, d), k = 256, iters = 2)))

  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(probes.keys.toSeq)
    val unknown = names.filterNot(probes.keySet)
    if (unknown.nonEmpty) sys.error(
      s"unknown probe(s) ${unknown.mkString(", ")}; available: ${probes.keys.toSeq.sorted.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt.max(1)
    val spark = Runner.session()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = Runner.foreachQuery(spark, names.map(n => n -> probes(n))) { (name, probe) =>
      timings(name) = Runner.minSeconds(spark, repeat,
        () => probe(spark, sfDir).queryExecution.toRdd.count()) {
        (i, _, s) => System.err.println(f"REHEARSE $name run$i $s%.3f")
      }
    }
    errors.foreach { case (name, e) => System.err.println(s"REHEARSE $name failed: $e") }
    println(timings.map { case (name, best) => "\"" + name + "\":" + f"$best%.3f" }
      .mkString("""{"rehearse":{""", ",", s"""},"sf":"$sfDir"}"""))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
