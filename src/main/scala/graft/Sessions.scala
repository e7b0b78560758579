package graft

import org.apache.spark.sql.SparkSession

/** One place for the session config every entry point needs. The
  * load-bearing line is `nanosAsLong`: `Tables.events` deliberately
  * does not set it (a read must not mutate session state), so any
  * session that touches events.parquet has to carry it from build
  * time — a new entry point rolling its own builder and forgetting it
  * fails at runtime.
  *
  * == Checkpoint durability policy ==
  *
  * Every lineage cut in this library is `localCheckpoint(eager =
  * false)` — blocks live on executor local storage, lazily
  * materialized by the consuming job. That is the measured-fastest
  * choice in this single-JVM deployment (Graph.pagerankOf's documented
  * experiment: lazy-local 6.6 s vs eager 8.1 s at sf0.1), and the
  * right DEFAULT everywhere the checkpoint only cuts plan-growth:
  * losing a block merely recomputes the (still short) lineage above
  * it.
  *
  * On a multi-executor cluster, iterative operators whose lineage is
  * TRUNCATED each round — the Graph.integerPagerank users, every
  * operators.Fixpoint.iterate loop, Tokenizer.bpeMergesOf — lose the
  * recompute path when an executor holding a block dies: past
  * iterations can't be replayed from a truncated lineage, and the job
  * fails over to a full restart. At cluster scale either (a) set
  * `spark.checkpoint.dir` to reliable storage and switch those
  * call sites to `checkpoint()`, trading per-iteration write cost for
  * fault survival, or (b) accept restart-on-failure for short chains
  * (≤ ~10 iterations — all of the above — restarts cost less than 10
  * distributed-FS writes on most clusters). Document the choice at
  * the call site; everything non-iterative stays on localCheckpoint.
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
