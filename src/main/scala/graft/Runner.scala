package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The run mechanics shared by every main that drives the query
  * registry (Bench, Verify, Smoke, Rehearse, ExplainAudit) and by the
  * ScaleUp generators' session: one session setup, one
  * `SPARK_GRAFT_ONLY` selection, one per-query loop with error capture
  * and storage cleanup, one min-of-N timer.
  */
object Runner {

  /** A `local[SPARK_GRAFT_CPUS]` session (default 4) at WARN, warmed by
    * one tiny job (scheduler, codegen compiler) so the first query
    * doesn't absorb ~4 s of one-time startup that has nothing to do
    * with its plan. */
  def session(): SparkSession = {
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** The `registry` entries named by the comma-separated allowlist
    * `only` (`SPARK_GRAFT_ONLY`, for local iteration; full runs leave
    * it unset), in registry order. Unset or blank selects everything:
    * an empty shell variable must not mean "run nothing". Names that
    * are not registered go to `warn` (stderr, so stdout stays the
    * machine-read record): a typo can't read as a vacuous green run. */
  def select[A](registry: Iterable[(String, A)],
                only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"),
                warn: String => Unit = System.err.println): Seq[(String, A)] = {
    val names = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    names.foreach { ns =>
      val unknown = ns -- registry.map(_._1)
      if (unknown.nonEmpty)
        warn(s"WARNING: SPARK_GRAFT_ONLY names not registered: ${unknown.mkString(",")}")
    }
    registry.filter { case (name, _) => names.forall(_.contains(name)) }.toSeq
  }

  /** Runs `body` over `queries` in order. A throw is recorded against
    * its query and the loop goes on — one broken query must not abort
    * the run. Queries are independent, so whatever blocks one persisted
    * (cache() / localCheckpoint) are dropped after it, succeeded or
    * failed, and storage never accumulates into later queries. Returns
    * the failures in run order. */
  def foreachQuery[A](spark: SparkSession, queries: Seq[(String, A)])
                     (body: (String, A) => Unit): mutable.LinkedHashMap[String, Throwable] = {
    val errors = mutable.LinkedHashMap[String, Throwable]()
    queries.foreach { case (name, q) =>
      try body(name, q)
      catch { case e: Throwable => errors(name) = e }
      finally unpersistAll(spark)
    }
    errors
  }

  /** Min wall-clock seconds over `n` runs of `run`. The minimum is
    * stable against run-order noise (page cache, JIT state left by
    * whatever ran before) without multiplying wall time. After each run
    * and outside the timed region, `seen(i, result, seconds)` observes
    * it (1-based `i`) and persisted blocks are dropped. */
  def minSeconds[T](spark: SparkSession, n: Int, run: () => T)
                   (seen: (Int, T, Double) => Unit): Double =
    (1 to n).map { i =>
      val t0 = System.nanoTime()
      val result = run()
      val s = (System.nanoTime() - t0) / 1e9
      seen(i, result, s)
      unpersistAll(spark)
      s
    }.min

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}
