package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The shared run mechanics of the registry-driving mains, over a
  * registry of three tiny queries: `one` persists a block and
  * succeeds, `boom` persists a block and throws, `two` succeeds; and
  * the generated-code reuse of the session `Sessions` builds. */
class RunnerSpec extends AnyFunSuite with SparkFixture {

  private def persistBlock(s: SparkSession): Unit =
    s.sparkContext.parallelize(1 to 3).persist().count()

  private val registry: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "one" -> ((s, _) => { persistBlock(s); s.range(1).toDF() }),
    "boom" -> ((s, _) => { persistBlock(s); sys.error("boom") }),
    "two" -> ((s, _) => s.range(2).toDF()))

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  test("SPARK_GRAFT_ONLY: unset or blank selects all, names filter in registry order, unknown names warn") {
    val warnings = mutable.Buffer[String]()
    def names(only: Option[String]) =
      Runner.select(registry, only, warnings += _).map(_._1)
    assert(names(None) == Seq("one", "boom", "two"))
    assert(names(Some("")) == Seq("one", "boom", "two"))
    assert(names(Some(" , ")) == Seq("one", "boom", "two"))
    assert(names(Some("two, one")) == Seq("one", "two"))
    assert(warnings.isEmpty)
    assert(names(Some("two,typo")) == Seq("two"))
    assert(warnings == Seq("WARNING: SPARK_GRAFT_ONLY names not registered: typo"))
  }

  test("a throwing query is recorded as an error and the loop goes on to the next query") {
    val ran = mutable.Buffer[String]()
    val errors = Runner.foreachQuery(spark, registry) { (name, fn) =>
      fn(spark, "unused").collect()
      ran += name
    }
    assert(ran == Seq("one", "two"))
    assert(errors.keys.toSeq == Seq("boom"))
    assert(errors("boom").getMessage == "boom")
  }

  test("persisted RDDs are dropped after every query, whether the last one succeeded or failed") {
    val one +: boom +: _ = registry
    for (order <- Seq(Seq(one, boom), Seq(boom, one))) {
      val seenAtStart = mutable.Buffer[Int]()
      Runner.foreachQuery(spark, order) { (_, fn) =>
        seenAtStart += persisted
        fn(spark, "unused").collect()
      }
      assert(seenAtStart.tail.forall(_ == 0), s"blocks carried into the next query: $seenAtStart")
      assert(persisted == 0, s"order ${order.map(_._1)} left $persisted persisted RDDs")
    }
  }

  test("minSeconds takes the minimum of n runs and drops persisted RDDs after each") {
    val seen = mutable.Buffer[(Int, Int)]()
    var runs = 0
    val best = Runner.minSeconds(spark, 3, () => { runs += 1; persistBlock(spark); persisted }) {
      (i, before, s) => assert(s >= 0.0); seen += i -> before
    }
    assert(runs == 3 && seen.map(_._1) == Seq(1, 2, 3))
    assert(seen.map(_._2).tail.forall(_ == 1), s"runs saw leftover blocks: $seen")
    assert(persisted == 0)
    assert(best >= 0.0)
  }

  test("a second rotation of a query panel compiles no generated code") {
    // One query per large operator family. The eight compile more
    // classes than Spark's default codegen cache of 100 holds (177 in
    // a fresh JVM with stage ids in class names), so at that default
    // every rotation evicted what the next one needed and recompiled
    // about 170 of them.
    val panel = Seq("event_transitions", "benford_audit", "weekday_envelope",
      "hellinger_matrix", "theilsen_trend", "weighted_sample", "ann_hamming",
      "reciprocity")
    def compiledByRotation(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      panel.foreach(name => SparkEntry.queries(name)(spark, Sf).queryExecution.toRdd.count())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiledByRotation()
    val warm = compiledByRotation()
    assert(warm == 0, s"the warm rotation recompiled $warm classes")
  }

  test("ExplainAudit writes plans for the healthy queries and reports the number it wrote") {
    val out = Files.createTempDirectory("graft-plans")
    assert(ExplainAudit.dump(spark, registry, "unused", out.toString) == 2)
    assert(Files.exists(out.resolve("one.txt")) && Files.exists(out.resolve("two.txt")))
    assert(!Files.exists(out.resolve("boom.txt")))
    assert(Files.readString(out.resolve("two.txt")).contains("Range"))
  }
}
