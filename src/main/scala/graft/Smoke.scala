package graft

import graft.sources.Tables

/** Start-of-round testdata smoke (VERDICT r9 #4): the driver OWNS
  * /root/testdata and may regenerate it between rounds with changed
  * parquet encodings — r9's events.ts nanos→micros re-encode broke
  * every events query until the loader went schema-adaptive. This
  * main turns that lesson into an artifact: load every table, run
  * EVERY registered query end-to-end at the given scale dir, and
  * fail loudly (nonzero exit, per-failure stderr lines) on any
  * analysis or runtime error. Unlike Bench it times nothing and
  * never touches bench_full.json, so it is safe to run first thing
  * every session.
  *
  * Usage: `runMain graft.Smoke [sfDir]` (default /root/testdata/
  * sf0.001 — full suite in ~1 min at that SF).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val spark = Runner.session()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()

    // 1. Every table loads and yields rows — the encoding-drift
    //    detector. Schema printed so a drift diff is one `git log -p`
    //    of the smoke output away.
    Tables.all.foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
          else Tables(spark, sfDir, t)
        val n = df.limit(1).count()
        if (n == 0) failures(s"table:$t") = "0 rows"
        System.err.println(s"SMOKE table $t ok: " + df.schema.simpleString.take(200))
      } catch { case e: Throwable =>
        failures(s"table:$t") = e.toString.linesIterator.next().take(200)
      }
    }

    // 2. The flagship entry contract (driver checks rows > 0).
    try {
      if (SparkEntry.entry(spark).limit(1).count() == 0)
        failures("entry") = "0 rows"
    } catch { case e: Throwable =>
      failures("entry") = e.toString.linesIterator.next().take(200)
    }

    // 3. Every registered query executes through its full physical
    //    plan (toRdd.count — Bench's materialization convention, so
    //    an analysis break anywhere in the 180+ registry surfaces
    //    here, not mid-round).
    Runner.foreachQuery(spark, SparkEntry.queries.toSeq) { (_, fn) =>
      fn(spark, sfDir).queryExecution.toRdd.count()
    }.foreach { case (name, e) => failures(name) = e.toString.linesIterator.next().take(200) }

    if (failures.nonEmpty) {
      failures.foreach { case (k, v) => System.err.println(s"SMOKE FAIL $k: $v") }
      println(s"""{"smoke":"FAIL","failures":${failures.size},"sf":"$sfDir"}""")
      spark.stop()
      sys.exit(1)
    }
    println(s"""{"smoke":"OK","tables":${Tables.all.size},"queries":${SparkEntry.queries.size},"oracles":${SparkEntry.oracleSql.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
