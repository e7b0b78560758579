package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one run-to-convergence loop the iterative operators share
  * (min-label closure, BFS sweeps, reachability): Pregel's
  * vote-to-halt superstep (Malewicz et al., SIGMOD 2010) over
  * DataFrames. Fixed-count loops (PageRank, HITS, LPA, peeling) do not
  * use it: they are lazy end to end and cannot free anything before
  * the final action.
  */
object Fixpoint {

  /** Frees a localCheckpoint's persisted blocks (Dataset.unpersist
    * only talks to the cache manager, which never held them —
    * checkpoint storage hangs off the LogicalRDD's rdd). */
  private[operators] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** The state after the last round, how many rounds ran, and whether
    * the last round changed nothing. */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** Runs `step(state, round)` (round = 1, 2, …) from `init` until a
    * round changes nothing or `maxIter` rounds have run. Every state
    * `step` returns carries a boolean `changed` column. Each round is
    * one lazy localCheckpoint plus ONE count of the changed rows: the
    * count computes every partition of the round, so it materializes
    * (and persists) the round's blocks and answers "converged?" in the
    * same job. A separate probe would pay a second scheduling floor per
    * round for the same information. The count runs on the RDD, not
    * as a DataFrame aggregate: an aggregate adds a shuffle-stage job
    * per round under AQE. The superseded state's blocks are freed as
    * soon as the new round is materialized instead of waiting for the
    * ContextCleaner (GraphX's Pregel loop unpersists the same way).
    * Checkpoints the loop did not create — `init`'s inputs, anything
    * `step` closes over — are never freed here. Lineage-truncation and
    * durability trade-offs: [[graft.Sessions]]' checkpoint policy. */
  def iterate(init: DataFrame, maxIter: Int)
             (step: (DataFrame, Int) => DataFrame): Result = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    var state = init.localCheckpoint(false)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      rounds += 1
      val next = step(state, rounds).localCheckpoint(false)
      converged = next.filter(col("changed")).rdd.count() == 0L
      freeCheckpoint(state)
      state = next
    }
    Result(state, rounds, converged)
  }
}
