package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew
import graft.sources.Bucketed

class ScaleInfraSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("bucketed join of same-bucket-count tables plans with ZERO exchanges") {
    val wh = Files.createTempDirectory("graft-bucketed").toFile.getAbsolutePath
    val facts = (1L to 1000L).map(i => (i % 50, i, i * 2.0)).toDF("key", "id", "v")
    val dims = (0L until 50L).map(i => (i, s"dim_$i")).toDF("key", "name")
    Bucketed.writeBucketed(facts, "b_facts", "key", 8, Some(s"$wh/b_facts"))
    Bucketed.writeBucketed(dims, "b_dims", "key", 8, Some(s"$wh/b_dims"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketed.bucketedJoin(spark, "b_facts", "b_dims", "key")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle; plan was:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("saltedJoin returns exactly the plain join's rows on a skewed key distribution") {
    // 90% of rows share one hot key
    val left = ((1 to 900).map(_ => 7L) ++ (1 to 100).map(_.toLong))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("key", "lval")
    val right = (1L to 100L).map(i => (i, s"r$i")).toDF("key", "rval") // no key 7 dup
      .union(Seq((7L, "hot")).toDF("key", "rval"))
    val plain = left.join(right, "key").select("key", "lval", "rval")
      .collect().map(_.toString).sorted
    val salted = Skew.saltedJoin(left, right, "key", salts = 8)
      .select("key", "lval", "rval").collect().map(_.toString).sorted
    assert(salted.toSeq == plain.toSeq)
  }

  test("keySkewOf measures the hot key and emits nothing on empty input") {
    import spark.implicits._
    // 10 rows of key 7, one row each of keys 1..5 → max=10, mean=2.5
    val df = (Seq.fill(10)(7L) ++ (1L to 5L)).toDF("k")
    val Array(row) = graft.operators.Skew.keySkewOf(df, "k").collect()
    assert(row.getLong(1) == 6L && row.getLong(2) == 15L && row.getLong(3) == 10L)
    assert(row.getString(4) == "7")
    assert(row.getDouble(6) == 4.0, s"skew factor 10/(15/6): $row")
    // empty input → zero rows, matching the oracle's shape
    assert(graft.operators.Skew.keySkewOf(
      Seq.empty[Long].toDF("k"), "k").collect().isEmpty)
  }

  test("saltedSumCount equals the direct aggregation") {
    val df = ((1 to 500).map(_ => ("hot", 1.5)) ++ Seq(("cold", 2.0), ("cold", 3.0)))
      .toDF("key", "v")
    val got = Skew.saltedSumCount(df, "key", "v", salts = 8)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got("hot") == ((750.0, 500L)))
    assert(got("cold") == ((5.0, 2L)))
  }

  // md5-scrambled values: adversarial for range bucketing (no natural
  // order), heavy ties (mod 17) to exercise the ties-share-a-bucket
  // invariant, plus a desc leading key via negation.
  private def scrambled(n: Int) = (1 to n)
    .map(i => (i.toLong, (i * 2654435761L % 17) / 2.0,
      f"u${i * 7919 % n}%05d"))
    .toDF("id", "v", "u")

  test("twoPhaseRank equals the single-partition window rank, ties and all") {
    import org.apache.spark.sql.expressions.Window
    val df = scrambled(3000)
    val expect = df.withColumn("r",
      row_number().over(Window.orderBy(col("v").desc, col("u"), col("id"))))
      .select("id", "r").as[(Long, Int)].collect().toMap
    val (ranked, total) = Scale.twoPhaseRank(df,
      Seq(col("v").desc, col("u"), col("id")), buckets = 16)
    val got = ranked.select(col("id"), col("__rank")).as[(Long, Long)]
      .collect().toMap
    assert(total == 3000L)
    assert(got.size == 3000 && got.forall { case (id, r) => expect(id) == r })
  }

  test("ntileFromRank reproduces Spark's ntile bit-for-bit across remainders") {
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 3, 4, 5, 17, 40, 1000); tiles <- Seq(4, 10)) {
      val df = (1L to n.toLong).toDF("rk")
      val viaWindow = df
        .withColumn("t", ntile(tiles).over(Window.orderBy("rk")))
        .select("rk", "t").as[(Long, Int)].collect().toMap
      val viaFormula = df
        .withColumn("t", Scale.ntileFromRank("rk", tiles, n.toLong))
        .select("rk", "t").as[(Long, Int)].collect().toMap
      assert(viaFormula == viaWindow, s"n=$n tiles=$tiles")
    }
  }

  test("twoPhaseRunningSum equals the single-partition running sum") {
    import org.apache.spark.sql.expressions.Window
    val df = scrambled(2000).withColumn("delta",
      when(col("id") % 2 === 0, 1L).otherwise(-1L))
    val w = Window.orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = df.withColumn("rs", sum("delta").over(w))
      .select("id", "rs").as[(Long, Long)].collect().toMap
    val got = Scale.twoPhaseRunningSum(df,
        Seq(col("v"), col("id")), col("delta"), buckets = 16)
      .select(col("id"), col("__running")).as[(Long, Long)].collect().toMap
    assert(got.size == 2000 && got.forall { case (id, s) => expect(id) == s })
  }

  test("boundaryCarryLag equals the plain partitioned lag, including part firsts") {
    import org.apache.spark.sql.expressions.Window
    val df = scrambled(2000)
      .withColumn("part", (col("id") % 3).cast("string"))
    val w = Window.partitionBy("part").orderBy(col("v"), col("id"))
    val expect = df.withColumn("p", lag(col("id"), 1).over(w))
      .select("id", "p").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    val got = Scale.boundaryCarryLag(df, "part",
        Seq(col("v"), col("id")), col("id"), buckets = 16)
      .select(col("id"), col("__prev")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got.size == 2000 && got.forall { case (id, p) => expect(id) == p })
  }

  test("twoPhaseRankAndRunningSum equals rank + running sum on one order, with exact totals") {
    import org.apache.spark.sql.expressions.Window
    val df = scrambled(2000).withColumn("c", (col("id") % 7) + 1L)
    val order = Seq(col("v").desc, col("u"), col("id"))
    val w = Window.orderBy(order: _*)
    val expect = df
      .withColumn("r", row_number().over(w))
      .withColumn("rs", sum("c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "r", "rs").as[(Long, Int, Long)].collect()
      .map(t => t._1 -> ((t._2.toLong, t._3))).toMap
    val (both, nRows, totalC) = Scale.twoPhaseRankAndRunningSum(
      df, order, col("c"), buckets = 16)
    val got = both.select(col("id"), col("__rank"), col("__running"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(nRows == 2000L)
    assert(totalC == df.agg(sum("c")).as[Long].head())
    assert(got.size == 2000 && got.forall { case (id, rr) => expect(id) == rr })
    // empty input: zero totals, zero rows
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val (eb, en, es) = Scale.twoPhaseRankAndRunningSum(
      empty, Seq(col("v"), col("id")), col("id"))
    assert(en == 0L && es == 0L && eb.collect().isEmpty)
  }

  test("groupedTwoPhaseRank equals the plain partitioned rank + count, skew and all") {
    import org.apache.spark.sql.expressions.Window
    // 90%-dominant stratum — the skew shape the decomposition exists
    // for (plain partitionBy would push it through one task)
    val df = scrambled(2000)
      .withColumn("part",
        when(col("id") % 10 =!= 0, "dominant").otherwise(
          concat(lit("small_"), (col("id") % 3).cast("string"))))
    val w = Window.partitionBy("part").orderBy(col("v"), col("id"))
    val expect = df
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("part")))
      .select("id", "r", "n").as[(Long, Int, Long)].collect()
      .map(t => t._1 -> ((t._2.toLong, t._3))).toMap
    val got = Scale.groupedTwoPhaseRank(df, "part",
        Seq(col("v"), col("id")), buckets = 16)
      .select(col("id"), col("__rank"), col("__cnt"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.size == 2000 && got.forall { case (id, rn) => expect(id) == rn })
    // single part and empty input
    val one = (1L to 40L).map(i => (i, 1.0, "only")).toDF("id", "v", "part")
    val gotOne = Scale.groupedTwoPhaseRank(one, "part",
        Seq(col("v"), col("id")))
      .select(col("id"), col("__rank"), col("__cnt"))
      .as[(Long, Long, Long)].collect()
    assert(gotOne.length == 40 &&
      gotOne.forall { case (id, r, n) => r == id && n == 40L })
    val empty = Seq.empty[(Long, Double, String)].toDF("id", "v", "part")
    assert(Scale.groupedTwoPhaseRank(empty, "part",
      Seq(col("v"), col("id"))).collect().isEmpty)
  }

  test("twoPhaseRank refuses a bucket that reaches the 2^33-row index field") {
    Scale.checkRowIndexFits(Array(0 -> 5L, 1 -> ((1L << 33) - 1)))
    val e = intercept[IllegalStateException](
      Scale.checkRowIndexFits(Array(0 -> 1L, 3 -> (1L << 33))))
    assert(e.getMessage.contains("bucket 3") && e.getMessage.contains("2^33"))
  }

  test("two-phase helpers survive empty and constant-key inputs") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val (er, en) = Scale.twoPhaseRank(empty, Seq(col("v"), col("id")))
    assert(en == 0L && er.collect().isEmpty)
    assert(Scale.twoPhaseRunningSum(empty, Seq(col("v"), col("id")),
      col("id")).collect().isEmpty)
    // constant key: one bucket (degenerate but correct — the caller's
    // documented salting escape applies when this happens at scale)
    val const = (1L to 50L).map(i => (i, 1.0)).toDF("id", "v")
    val (cr, cn) = Scale.twoPhaseRank(const, Seq(col("v"), col("id")))
    assert(cn == 50L)
    assert(cr.select(col("id"), col("__rank")).as[(Long, Long)].collect()
      .forall { case (id, r) => r == id })
  }
}
