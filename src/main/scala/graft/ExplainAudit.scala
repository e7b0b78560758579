package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump `explain("formatted")` for every registered query so
  * plan regressions (lost pushdown, surprise shuffles, broken
  * broadcasts, codegen gaps) are reviewable as text.
  * Usage: runMain graft.ExplainAudit [sfDir] [outDir]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("target/plans")
    val spark = Runner.session()
    val wrote = dump(spark, Runner.select(SparkEntry.queries), sfDir, outDir)
    println(s"wrote $wrote plans to $outDir")
    spark.stop()
  }

  /** Writes `<outDir>/<name>.txt` for each query. A query whose plan
    * fails is reported on stderr and skipped, not fatal to the dump.
    * Returns the number of plans written. */
  def dump(spark: SparkSession, queries: Seq[(String, (SparkSession, String) => DataFrame)],
           sfDir: String, outDir: String): Int = {
    Files.createDirectories(Paths.get(outDir))
    val errors = Runner.foreachQuery(spark, queries) { (name, fn) =>
      Files.writeString(Paths.get(s"$outDir/$name.txt"),
        fn(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
    errors.foreach { case (name, e) => System.err.println(s"[explain] $name failed: $e") }
    queries.size - errors.size
  }
}
