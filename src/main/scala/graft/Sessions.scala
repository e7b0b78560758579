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
  *
  * == Generated-code cache ==
  *
  * Spark compiles every whole-stage pipeline, projection, predicate
  * and ordering of a plan into a Janino class, and keeps the compiled
  * classes in one cache keyed by their source. Its default bound
  * (`spark.sql.codegen.cache.maxEntries`, 100) is smaller than the
  * working set of a session that reruns its queries. The working set
  * it was measured against is perfbench's interactive panel: eight
  * registered queries, one per large operator family, that compile
  * 177 classes. At 100 each rotation evicted what the next one needed
  * and a warm pass recompiled about 170 of them (1.5 s of driver
  * time, and code the JIT never got to warm up).
  * [[CodegenCacheEntries]] holds eleven such panels.
  *
  * Memory: an entry keeps its class and its generated source (the
  * key). Running all 439 registered queries at sf0.001 fills the
  * cache; at the end a full GC leaves 55 MB more heap and 15 MB more
  * metaspace than at the default bound, about 37 KB per entry, so a
  * full cache costs about 75 MB.
  *
  * Whole-stage classes are also named without their codegen stage id
  * (`spark.sql.codegen.useIdInClassName`). Under AQE a query's stage
  * ids follow the order its stages are planned in, which varies from
  * run to run, so a named class missed the cache whenever that order
  * changed (hellinger_matrix recompiled up to 10 classes per rerun),
  * and an identical pipeline at two ids compiled twice: without the
  * ids the registry compiles 6 088 classes instead of 11 950. Plans
  * and `explain` output still show the ids.
  *
  * The cache is JVM-wide: it is created once, with the bound of the
  * session active when the JVM first generates code, and later
  * sessions' settings are ignored. So the bound is set here, where
  * every entry point builds its session, and nowhere else.
  */
object Sessions {

  /** Entries in Spark's generated-code cache; see [[Sessions]]. */
  val CodegenCacheEntries = 2000

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
}
