package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextF
import Behavior.Dec

/** Graph analytics over the item-transition graph mined from the event
  * stream (which item do users touch after which — the navigation
  * graph behind "related items"). The connected-components family
  * lives in [[Components]]; this adds centrality (global and
  * seed-personalized PageRank), structure (degree/strength/reciprocity
  * profiles), and clustering (oriented triangle counts).
  *
  * Three shared pieces carry every operator here:
  *  - [[transitions]], the one fact→edge pass: (item, src) for
  *    consecutive events per user. Each caller adds its own filter
  *    (the simple-graph operators drop self-transitions) and its own
  *    group/distinct step.
  *  - [[integerPagerank]], the one exact-integer PageRank loop
  *    (PageRank, personalized PageRank, [[CorpusStats]]' TextRank).
  *  - [[Fixpoint.iterate]], the one run-to-convergence loop (the
  *    [[Components]] closure, the diameter sweeps, pivot SCC reaches).
  *    Fixed-count loops stay plain `for` loops over their kernels.
  *
  * Scale design (100 TB): the fact table collapses to a weighted edge
  * list FIRST (one user-keyed window + one map-side-combinable edge
  * aggregate — edges are bounded by the item-vocabulary², never fact
  * count). Each PageRank iteration is two bounded shuffles (rank⋈edges
  * on src, inflow aggregate on dst) over the STATIC edge frame, which
  * is checkpointed once; per-iteration checkpoints truncate the plan
  * so iteration 10 doesn't replan iterations 1-9 (the [[Tokenizer]]
  * loop's contract). No driver-side collect: N rides a 1-row
  * broadcast, as [[Behavior.itemAffinityOf]]'s user count does.
  *
  * Cross-engine determinism: rank mass is INTEGER throughout —
  * `scale`-quantized with truncating integer division in both the
  * per-edge contribution `(rq·w) div ow` and the damping `(85·Σ) div
  * 100` — so every iteration is bit-exact in any engine and any
  * partitioning (float PageRank sums in nondeterministic order).
  * The rq·w product rides decimal(38,0) (HUGEINT in the oracle): rq
  * reaches ~10¹² and w is an UNBOUNDED co-occurrence count, so the
  * raw Long intermediate crosses int64 near w ~ 9·10⁶ — Spark would
  * wrap silently while DuckDB errors, the worst possible divergence
  * shape. The quotient ≤ rq, so it casts back to BIGINT safely.
  * Teleport/damping is the classic 0.15/0.85; dangling mass (nodes
  * with no out-edges) evaporates, the standard simplification.
  */
object Graph {

  val Scale: Long = 1000000000000L // 1e12: rank mass granularity

  /** (item, src) for every pair of consecutive events of one user,
    * ordered by (ts, event_id): `item` is the event's `props.k` (0
    * when absent), `src` the previous event's. Self-transitions
    * (src = item) are kept. Column order is the window's own, so the
    * projection adds nothing to the plans of the callers. */
  private def transitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"),
        Behavior.itemKey.as("item"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("src", lag("item", 1).over(byUser))
      .filter(col("src").isNotNull)
      .select(col("item"), col("src"))
  }

  /** The static PageRank edge frame: (src, dst, w) plus each source's
    * total out-weight `ow`, materialized once — every iteration
    * re-reads it instead of re-planning the fact scan. */
  private[operators] def withOutWeight(edges: DataFrame): DataFrame =
    edges.join(edges.groupBy("src").agg(sum("w").as("ow")), "src")
      .localCheckpoint(false)

  /** The classic base frame (key, tele, rq₀) over a node frame whose
    * first column is the key: teleport (15·Scale) div (100·N) and
    * start mass Scale div N for every node. The teleport is
    * LOOP-INVARIANT, so it is computed once here instead of
    * re-broadcasting N inside every iteration (r18 optimization round —
    * each in-loop broadcast was its own driver collect job at
    * DataFrame-construction time). */
  private[operators] def uniformBase(nodes: DataFrame): DataFrame = {
    val nDf = nodes.agg(count(lit(1)).as("nn")) // 1 row by construction
    nodes.crossJoin(broadcast(nDf))
      .select(col(nodes.columns.head),
        expr(s"(15 * $Scale) div (100 * nn)").as("tele"),
        expr(s"$Scale div nn").as("rq"))
      .localCheckpoint(false)
  }

  /** The one integer-PageRank kernel: `iterations` damped rounds over
    * `edgeOut` (src, dst, w, ow) from `base` (key, tele, rq₀), each
    * rq′ = tele + (85·Σ (rq·w) div ow) div 100. Returns (key, rq). */
  private[operators] def integerPagerank(edgeOut: DataFrame, base: DataFrame,
                                         iterations: Int): DataFrame = {
    val key = base.columns.head
    (1 to iterations).foldLeft(base.select(col(key), col("rq"))) { (rank, _) =>
      val inflow = rank
        .join(edgeOut, rank(key) === edgeOut("src"))
        .select(col("dst"), expr(s"CAST((CAST(rq AS $Dec) * w) div ow AS BIGINT)")
          .as("contrib"))
        .groupBy("dst")
        .agg(sum("contrib").as("inflow"))
      base
        .join(inflow, col(key) === col("dst"), "left")
        .select(col(key), col("tele"),
          coalesce(col("inflow"), lit(0L)).as("infl"))
        .select(col(key),
          (col("tele") + expr("(85 * infl) div 100")).as("rq"))
        // LAZY checkpoints: one job, lineage truncated at materialize.
        // Eager per-iteration checkpoints measured WORSE (8.1 s vs
        // 6.6 s at sf0.1) — ten scheduling floors beat ten plan reuses.
        .localCheckpoint(false)
    }
  }

  /** Integer rank mass rq rendered as rq/1e12 rounded half-up to 6 dp. */
  private[operators] def massShare(rq: Column): Column =
    TextF.round6HalfUp(rq.cast("double") / lit(1e12))

  /** [[integerPagerank]] over the weighted item-transition graph from
    * the base frame `base(nodes)`; returns (item, rq, pr). */
  private def transitionPagerank(events: DataFrame, iterations: Int)
                                (base: DataFrame => DataFrame): DataFrame = {
    val edgeOut = withOutWeight(transitions(events)
      .groupBy(col("src"), col("item").as("dst"))
      .agg(count(lit(1)).as("w")))
    val nodes = edgeOut.select(col("src").as("item"))
      .union(edgeOut.select(col("dst").as("item")))
      .distinct()
      .localCheckpoint(false)
    integerPagerank(edgeOut, base(nodes), iterations)
      .select(col("item"), col("rq"), massShare(col("rq")).as("pr"))
      .orderBy("item")
  }

  /** `iterations` rounds of damped PageRank over the item-transition
    * graph ([[integerPagerank]] from the uniform base); returns (item,
    * rq, pr) where `rq` is the exact integer mass and pr = rq/1e12
    * rounded half-up to 6 dp. Lineage cuts are lazy localCheckpoints
    * (see the measured experiment in the kernel and
    * [[graft.Sessions]]' checkpoint-durability policy for the
    * cluster-scale trade). */
  def pagerankOf(events: DataFrame, iterations: Int = 10): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    transitionPagerank(events, iterations)(uniformBase)
  }

  /** Personalized PageRank: [[pagerankOf]] with the TELEPORT mass
    * restricted to a seed set (items with id < `seedBound`) — rank
    * becomes "proximity to the seeds" instead of global centrality,
    * the random-walk-with-restart behind item-to-item recommendation
    * ("customers who touch THESE items navigate to…"). Only the base
    * frame differs: (15·Scale) div (100·|S|) teleport and Scale div
    * |S| start mass for seeds, ZERO elsewhere; every
    * determinism/shape argument of [[pagerankOf]] carries over
    * verbatim. Non-seed sinks still accumulate walk mass; unreachable
    * nodes decay to exactly 0 (integer floor).
    */
  def personalizedPagerankOf(events: DataFrame, seedBound: Long = 10L,
                             iterations: Int = 10): DataFrame = {
    require(iterations > 0 && seedBound > 0,
      s"need positive iterations/seedBound, got $iterations/$seedBound")
    transitionPagerank(events, iterations) { nodes =>
      val nSeed = nodes.filter(col("item") < seedBound)
        .agg(count(lit(1)).as("ns")) // 1 row by construction
      nodes.crossJoin(broadcast(nSeed))
        .select(col("item"),
          when(col("item") < seedBound,
            expr(s"(15 * $Scale) div (100 * ns)")).otherwise(lit(0L)).as("tele"),
          when(col("item") < seedBound, expr(s"$Scale div ns"))
            .otherwise(lit(0L)).as("rq"))
        .localCheckpoint(false)
    }
  }

  /** Degree/strength profile of the item-transition graph: per item,
    * distinct out/in neighbors, total out/in transition weight, and
    * how many of its out-edges are reciprocated (the back-and-forth
    * navigation signal). Same vocabulary-bounded edge list as
    * [[pagerankOf]]; the degree aggregates and the reciprocity
    * self-join all run on that bounded frame, never on facts. The
    * out/in sides are two aggregates full-outer-merged on item — a
    * node can be source-only or sink-only and must still report.
    */
  def graphDegreesOf(events: DataFrame): DataFrame = {
    val edges = transitions(events)
      .groupBy(col("src"), col("item").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(false) // out agg + in agg + both reciprocity sides
    val out = edges.groupBy(col("src").as("item"))
      .agg(count(lit(1)).as("out_deg"), sum("w").as("out_w"))
    val in = edges.groupBy(col("dst").as("item"))
      .agg(count(lit(1)).as("in_deg"), sum("w").as("in_w"))
    val recip = edges.select(col("src"), col("dst"))
      .join(edges.select(col("src").as("dst"), col("dst").as("src")),
        Seq("src", "dst"))
      .groupBy(col("src").as("item"))
      .agg(count(lit(1)).as("n_recip"))
    out.join(in, Seq("item"), "full_outer")
      .join(recip, Seq("item"), "left")
      .select(col("item"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_w"), lit(0L)).as("in_w"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"))
      .orderBy("item")
  }

  /** Triangle counting over the UNDIRECTED item graph (clustering
    * structure: items that co-navigate in closed loops are a
    * community, not a chain). The classic distributed shape: edges
    * orient low→high id, so each triangle a<b<c is generated exactly
    * once as wedge (a→b, b→c) closed by edge (a→c) — the orientation
    * bounds wedge fan-out by the max ORIENTED degree, the standard fix
    * for the quadratic hub problem. Per-node triangle counts come from
    * exploding each found triangle to its three corners; nodes in no
    * triangle report 0 via the left join to the node set.
    *
    * Everything after the fact→edge collapse is vocabulary-bounded:
    * wedge join + closure join are equijoins on edge endpoints. */
  def triangleCountOf(events: DataFrame): DataFrame = {
    val und = undirectedEdges(events)
      .localCheckpoint(false) // wedge side ×2 + closure side + node set
    val wedges = und.select(col("a"), col("b"))
      .join(und.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val triangles = wedges
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .localCheckpoint(false) // per-corner explode + global count
    val corners = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_triangles"))
    val nodes = und.select(col("a").as("item"))
      .union(und.select(col("b").as("item"))).distinct()
    nodes.join(corners, Seq("item"), "left")
      .select(col("item"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("item")
  }

  /** Link prediction on the order–part bipartite graph by the
    * resource-allocation index (Zhou, Lü & Zhang '09 — the
    * common-neighbor score that down-weights promiscuous neighbors,
    * empirically the strongest of the local indices): for parts p < q,
    * RA(p,q) = Σ over orders o containing both of 1/|o|, where |o| is
    * the order's distinct-part basket size. A shared SMALL basket is
    * strong evidence the parts belong together; a shared huge one says
    * almost nothing — that is the 1/|o| (Adamic-Adar would take
    * 1/log|o|; RA's plain reciprocal keeps the score a SUM OF EXACT
    * RATIONALS, which quantizes to fixed-point integers — no libm, no
    * float accumulation, house determinism policy). Each order
    * contributes floor(1e6/|o|) per pair; the per-pair sum is exact
    * int64 and ONE final division renders the score. Top `k` pairs by
    * (score, n_common, keys) — fully tie-deterministic.
    *
    * Shape: distinct (order, part) projection, then pairs are
    * generated WITHIN each order by a self-equijoin on the order key —
    * shuffle-bounded by Σ|o|², which TPC-H-style baskets (≤ 7 lines)
    * cap at ~21·|orders| — joined to the broadcast-sized per-order
    * basket-size frame, and one map-combinable pair aggregate.
    * Basket-size skew is the scale risk: a 10⁴-part megabasket alone
    * yields 10⁸ pairs, so callers at corpus scale cap |o| (a basket
    * that big carries ~0 RA signal per pair anyway — the cap loses
    * floor(1e6/10⁴)·pairs ≈ nothing) — same escape hatch family as
    * [[Behavior.itemAffinityOf]]'s min-support.
    */
  def linkPredictOf(lineitem: DataFrame, k: Int = 30): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val op = lineitem.select(col("l_orderkey").as("o"),
      col("l_partkey").as("p")).distinct()
      .localCheckpoint(false) // basket sizes + both join sides share it
    val size = op.groupBy("o").agg(count(lit(1)).as("sz"))
    val pairs = op.join(op.select(col("o"), col("p").as("q")), Seq("o"))
      .filter(col("p") < col("q"))
      .join(size, Seq("o")) // per-order frame: ≤ |orders| rows, AQE picks broadcast
      .groupBy("p", "q")
      .agg(count(lit(1)).as("n_common"),
        // `div`, not `/`: long `/` is double division in Spark SQL
        sum(expr("1000000 div sz") /* 1e6 fixed point */).as("raq"))
    pairs
      .select(col("p").as("part_a"), col("q").as("part_b"),
        col("n_common"), col("raq"),
        (col("raq").cast("double") / 1e6).as("ra_score"))
      .orderBy(col("raq").desc, col("n_common").desc,
        col("part_a"), col("part_b"))
      .limit(k)
  }

  val HitsScale: Long = 1000000000L // 1e9: hub/authority mass granularity

  /** HITS hubs & authorities (Kleinberg '99) over the item-transition
    * graph — [[pagerankOf]]'s sibling for DIRECTED curation signal:
    * authorities are items users navigate TO from good hubs, hubs are
    * items that lead to good authorities. Two mutually-recursive
    * iterations on the same checkpointed edge frame.
    *
    * Integer-exact cross-engine arithmetic (the PageRank playbook):
    * mass is `HitsScale`-quantized; each half-iteration aggregates
    * integer products h·w / a·w and renormalizes by TRUNCATING
    * integer division `x div greatest(1, Σx div HitsScale)` — a
    * divide-by-the-scaled-total that keeps every value ≤ ~HitsScale
    * WITHOUT a (Σ·Scale)-sized multiply that could overflow long (the
    * reason the classic normalize-to-unit-sum is re-arranged; at true
    * scale the same tree runs on DECIMAL(38,0) unchanged). HitsScale
    * is 1e9, three decades under PageRank's 1e12: h·w products sum
    * over in-edges, and 1e9 leaves 10⁹ of long headroom for Σ(h·w)
    * even on a fact-heavy edge. Truncation loss (≤1 per node per
    * half-step) is deterministic and engine-identical — the
    * contract is bit-equality, not unit-norm.
    *
    * Scale: identical to PageRank — two bounded shuffles per
    * half-iteration over the static edge frame, 1-row totals ride
    * broadcasts, no driver collect.
    */
  def hitsOf(events: DataFrame, iterations: Int = 2): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    val edges = transitions(events)
      .groupBy(col("src"), col("item").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(false) // static frame, every half-iteration re-reads
    val nodes = edges.select(col("src").as("item"))
      .union(edges.select(col("dst").as("item")))
      .distinct()
      .localCheckpoint(false)
    def renorm(df: DataFrame, c: String): DataFrame = {
      val tot = df.agg(sum(c).as("tot")) // 1 row by construction
      df.crossJoin(broadcast(tot))
        .select(col("item"),
          expr(s"$c div greatest(1L, tot div $HitsScale)").as(c))
    }
    var hub = nodes.select(col("item"), lit(HitsScale).as("hq"))
      .localCheckpoint(false)
    var auth = nodes.select(col("item"), lit(0L).as("aq"))
    for (_ <- 1 to iterations) {
      val aRaw = hub.join(edges, hub("item") === edges("src"))
        .select(col("dst"), (col("hq") * col("w")).as("x"))
        .groupBy("dst").agg(sum("x").as("ar"))
      auth = renorm(
        nodes.join(aRaw, col("item") === col("dst"), "left")
          .select(col("item"), coalesce(col("ar"), lit(0L)).as("aq")),
        "aq").localCheckpoint(false)
      val hRaw = auth.join(edges, auth("item") === edges("dst"))
        .select(col("src"), (col("aq") * col("w")).as("x"))
        .groupBy("src").agg(sum("x").as("hr"))
      hub = renorm(
        nodes.join(hRaw, col("item") === col("src"), "left")
          .select(col("item"), coalesce(col("hr"), lit(0L)).as("hq")),
        "hq").localCheckpoint(false)
    }
    hub.join(auth, "item")
      .select(col("item"), col("hq"), col("aq"),
        TextF.round4HalfUp(col("hq").cast("double") / HitsScale).as("hub"),
        TextF.round4HalfUp(col("aq").cast("double") / HitsScale).as("authority"))
      .orderBy("item")
  }

  /** Label-propagation communities (Raghavan '07) over the UNDIRECTED
    * item graph — [[Components]] answers "connected at all?", LPA
    * answers "densely interlinked?": labels flow along weighted edges
    * and neighborhoods converge on a shared label, splitting a
    * connected component into its traffic communities.
    *
    * Determinism (classic LPA is run-order-dependent; this variant is
    * not): SYNCHRONOUS updates with a FIXED iteration count, votes
    * are exact integer edge-weight sums, and argmax ties break to the
    * SMALLEST label — every engine and partitioning walks identical
    * label states. Neighbor-only voting (no self-vote); bipartite
    * oscillation is a non-issue because the iteration count is fixed
    * rather than run-to-convergence (the exact trade
    * [[Tokenizer.bpeMergesOf]] documents for its loop).
    *
    * Scale: the undirected edge frame (least,greatest keys, both
    * directions' transition counts summed) checkpoints once; each
    * iteration is one label⋈adjacency equijoin + one (node, label)
    * vote aggregate + one per-node WindowGroupLimit argmax — all
    * shuffles keyed on node ids, never all-pairs; plan growth is cut
    * per iteration (the PageRank loop's contract).
    */
  def lpaCommunitiesOf(events: DataFrame, iterations: Int = 2): DataFrame =
    lpaCommunitiesFromEdges(weightedEdges(events), iterations)

  /** [[lpaCommunitiesOf]] from a pre-built weighted undirected edge
    * frame (a, b, w) — so a caller that already derived that frame
    * ([[modularityOf]], which needs it for the Q arithmetic anyway)
    * shares ONE fact scan instead of rebuilding the lag pass (r18
    * optimization round; within-one-query reuse, not cross-run
    * caching). Identical label walk: both callers read `und` from
    * [[weightedEdges]]. */
  private[operators] def lpaCommunitiesFromEdges(und: DataFrame,
                                                 iterations: Int): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    val adj = und.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(und.select(col("b").as("u"), col("a").as("v"), col("w")))
      .localCheckpoint(false) // static per-iteration frame
    var labels = adj.select(col("u").as("item")).distinct()
      .select(col("item"), col("item").as("label"))
      .localCheckpoint(false)
    val byVote = Window.partitionBy("u")
      .orderBy(col("vw").desc, col("label"))
    for (_ <- 1 to iterations) {
      labels = adj.join(labels, adj("v") === labels("item"))
        .groupBy(col("u"), col("label"))
        .agg(sum("w").as("vw"))
        .withColumn("rn", row_number().over(byVote))
        .filter(col("rn") === 1)
        .select(col("u").as("item"), col("label"))
        .localCheckpoint(false)
    }
    labels.orderBy("item")
  }

  /** Eigenvector centrality (Bonacich '72) over the weighted
    * undirected item graph — the recursive-importance read the
    * degree/strength profile can't give ([[pagerankOf]] answers it
    * for the DIRECTED walk with teleport; merchandising often wants
    * the undirected "embedded in the heavy co-navigation core"
    * variant: a node is central iff its NEIGHBORS are central, no
    * damping, no walk semantics). Power iteration on the SHIFTED
    * matrix A + I with INFINITY-NORM normalization — the one norm
    * that stays on an integer grid: s_i = rq_i + Σ_j w_ij·rq_j,
    * then rq′ = (s·10⁶) div max(s). The +I shift is the standard
    * bipartite guard (a star or any bipartite component gives A the
    * eigenvalue pair ±λ and raw power iteration oscillates with
    * period 2; A + I keeps the same eigenvectors and makes the
    * dominant eigenvalue unique in magnitude). L2 normalization
    * would need a square root per iteration; max-normalization
    * converges to the same dominant eigenvector direction and keeps
    * every step exact-integer (the [[pagerankOf]] determinism
    * contract).
    *
    * Never divides by zero, by induction: after each normalization
    * the argmax node holds rq = 10⁶ exactly, so next iteration's
    * max(s) ≥ w·10⁶ ≥ 10⁶ > 0 (every node has ≥ 1 edge by
    * construction). Products ride decimal(38,0) (w unbounded, the
    * [[pagerankOf]] overflow posture); disconnected minor
    * components decay toward 0 under the GLOBAL max — the standard
    * dominant-eigenvector behavior, stated so a reader doesn't
    * mistake decayed scores for missing data.
    *
    * Shape: one user-keyed lag pass → the vocab-bounded weighted
    * edge frame and its distinct node set (each checkpointed once;
    * the start vector is one row per node by construction); per
    * iteration one rank⋈adj equijoin + one bounded aggregate + a
    * 1-row max broadcast. */
  def eigenvectorCentralityOf(events: DataFrame,
                              iterations: Int = 12): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    val und = weightedEdges(events)
      .localCheckpoint(false) // both adjacency halves + the node set
    val bothDirs = und.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(und.select(col("b").as("u"), col("a").as("v"), col("w")))
    // The +I shift folds into a UNIT SELF-LOOP edge (w = 1) on the
    // static adjacency (r18 optimization round; the same device the
    // DuckDB oracle uses): s = Σ_adj w·rq + rq ≡ Σ_{adj ∪ self} w·rq,
    // integer decimal addition is order-free, so the per-iteration
    // join back to the rank frame — one extra shuffle × `iterations` —
    // disappears with bit-identical output. No (u,u) collision: the
    // edge derivation above drops self-transitions (src =!= item).
    val nodes = bothDirs.select(col("u")).distinct().localCheckpoint(false)
    val adj = bothDirs
      .union(nodes.select(col("u"), col("u").as("v"), lit(1L).as("w")))
      .localCheckpoint(false) // static per-iteration frame
    var rank = nodes.select(col("u").as("item"), lit(1000000L).as("rq"))
    for (_ <- 1 to iterations) {
      val inflow = rank
        .join(adj, rank("item") === adj("v"))
        .select(col("u"), expr(s"CAST(w AS $Dec) * rq").as("contrib"))
        .groupBy("u")
        .agg(sum("contrib").as("s"))
      val smax = inflow.agg(max("s").as("smax")) // 1 row by construction
      rank = inflow.crossJoin(broadcast(smax))
        .select(col("u").as("item"),
          expr("CAST((s * 1000000) div smax AS BIGINT)").as("rq"))
        .localCheckpoint(false)
    }
    rank.select(col("item"), col("rq").as("score_ppm"),
        (col("rq").cast("double") / lit(1e6)).as("score"))
      .orderBy("item")
  }

  /** The undirected distinct-neighbor item graph (a < b, self-loops
    * dropped) every structural operator here shares — ONE derivation
    * ([[triangleCountOf]]'s, factored) so k-core, assortativity and
    * triangles can never disagree on what "the graph" is. */
  private def undirectedEdges(events: DataFrame): DataFrame =
    transitions(events)
      .filter(col("src") =!= col("item"))
      .select(least(col("src"), col("item")).as("a"),
        greatest(col("src"), col("item")).as("b"))
      .distinct()

  /** [[undirectedEdges]] weighted: (a, b, w) with w the number of
    * transitions between a and b in either direction. */
  private def weightedEdges(events: DataFrame): DataFrame =
    transitions(events)
      .filter(col("src") =!= col("item"))
      .groupBy(least(col("src"), col("item")).as("a"),
        greatest(col("src"), col("item")).as("b"))
      .agg(count(lit(1)).as("w"))

  /** k-core decomposition (Seidman '83) at a fixed `k`: the maximal
    * subgraph where every surviving node keeps ≥ k distinct surviving
    * neighbors — the standard "dense cohesive backbone" extraction
    * that strips hairy periphery before community detection or
    * influence seeding (a high-degree node whose neighbors are all
    * leaves is NOT in the 3-core; raw degree can't tell). Synchronous
    * peeling: each round recomputes degrees within the surviving set
    * and drops everything under k. `rounds` is FIXED (oracle-unrolled,
    * [[pagerankOf]]'s contract) rather than a fixpoint test — peeling
    * is monotone (survivor sets only shrink), so if round R equals
    * round R−1 the fixpoint is reached and further rounds are
    * identity; GraphSpec asserts convergence-within-rounds on the test
    * corpus, and each extra no-op round costs one bounded-frame pass,
    * not a correctness risk.
    *
    * Shape: the fact table collapses to the distinct edge frame once
    * (checkpointed; bounded by item-vocabulary², not fact count);
    * every peel round is two survivor semi-joins + one
    * map-side-combinable degree aggregate on that bounded frame, and
    * per-round lazy checkpoints truncate lineage so round 8 doesn't
    * re-plan rounds 1-7. Output: surviving (item, core_degree). */
  def kcoreOf(events: DataFrame, k: Int = 3, rounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = undirectedEdges(events).localCheckpoint(false)
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(false)
    var surv = adj.select(col("u").as("item")).distinct().localCheckpoint(false)
    var deg: DataFrame = null
    for (_ <- 1 to rounds) {
      deg = adj
        .join(surv.select(col("item").as("u")), "u")
        .join(surv.select(col("item").as("v")), "v")
        .groupBy("u").agg(count(lit(1)).as("core_degree"))
        .filter(col("core_degree") >= k)
        .localCheckpoint(false)
      surv = deg.select(col("u").as("item"))
    }
    deg.select(col("u").as("item"), col("core_degree")).orderBy("item")
  }

  /** Degree assortativity (Newman '02): the Pearson correlation of
    * endpoint degrees over the undirected item graph's edges — r > 0
    * reads "hubs link to hubs" (social-network shape), r < 0 reads
    * "hubs link to leaves" (star/infrastructure shape), the one-number
    * mixing diagnostic that predicts how the graph fragments under
    * node removal and how fast anything diffuses on it. Each
    * undirected edge contributes BOTH orientations (the standard
    * symmetrization), so Σx = Σy and Σx² = Σy² by construction and
    * r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) — a ratio of exact int64
    * polynomials in distinct-neighbor degrees, no sqrt, ONE final
    * division, 6 dp floor-half-up ([[pagerankOf]]'s grid). Overflow
    * headroom: every term is ≤ V⁶ at item-vocabulary V — inside int64
    * to V ≈ 1400, ~10× the props.k vocabulary at any sf; decimal(38)
    * buys V ≈ 2·10⁶ if a larger catalog ever needs it.
    *
    * Shape: edge frame once (bounded by V², checkpointed — degree
    * side + both sample orientations), one map-combinable degree
    * aggregate, a degree join back on the bounded adjacency, one
    * 1-row moment aggregate. Nothing fact-sized shuffles twice. */
  def degreeAssortativityOf(events: DataFrame): DataFrame = {
    val und = undirectedEdges(events).localCheckpoint(false)
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val deg = adj.groupBy("u").agg(count(lit(1)).as("d"))
    val samples = adj
      .join(deg.select(col("u"), col("d").as("dx")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dy")), "v")
    samples.agg(count(lit(1)).as("n"),
        sum("dx").as("sx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"))
      .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges")))) // 1 row × 1 row
      .crossJoin(broadcast(
        und.select(col("a").as("x")).union(und.select(col("b").as("x")))
          .agg(countDistinct(col("x")).as("n_nodes")))) // 1 row
      .select(col("n_nodes"), col("n_edges"),
        // a uniform-degree graph has zero degree variance — r is
        // undefined; NULL beats NaN cross-engine (ANSI 0/0 throws)
        when(col("n") * col("sxx") - col("sx") * col("sx") === 0L,
          lit(null).cast("double"))
          .otherwise(
            TextF.round6HalfUp(
              (col("n") * col("sxy") - col("sx") * col("sx")).cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
          .as("assortativity"))
  }

  /** Local clustering coefficient (Watts-Strogatz '98) per node:
    * C = 2T / (d·(d−1)) with T = closed triangles at the node
    * ([[triangleCountOf]]'s count) and d = distinct-neighbor degree —
    * "how much of my neighborhood is itself connected", the
    * community-tightness read that [[triangleCountOf]]'s raw counts
    * don't normalize ([[kcoreOf]] finds the dense backbone; this
    * scores every node's own closure). Exact rational → one IEEE
    * division, 4 dp half-up; degree-< 2 nodes have no possible
    * triangle and report NULL (0/0 is not "zero clustering").
    *
    * Shape: composes the SAME checkpointed edge frame as the triangle
    * count (wedge join + closure join, per-corner explode) plus one
    * degree aggregate — nothing beyond row 168's plan but the bounded
    * degree join. */
  def clusteringCoeffOf(events: DataFrame): DataFrame = {
    val und = undirectedEdges(events)
      .localCheckpoint(false) // wedges ×2 + closure + degrees + nodes
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val deg = adj.groupBy(col("u").as("item"))
      .agg(count(lit(1)).as("degree"))
    val wedges = und.select(col("a"), col("b"))
      .join(und.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val corners = wedges
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_triangles"))
    deg.join(corners, Seq("item"), "left")
      .select(col("item"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .select(col("item"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2L, graft.functions.TextF.round4HalfUp(
          (lit(2L) * col("n_triangles")).cast("double")
            / (col("degree") * (col("degree") - 1L)).cast("double")))
          .as("clustering_coeff"))
      .orderBy("item")
  }

  /** Newman modularity Q of the [[lpaCommunitiesOf]] partition over
    * the weighted undirected item graph — the "did community detection
    * find anything" number (Q ≈ 0: the partition explains no more edge
    * mass than a random graph with the same degrees; Q ≳ 0.3:
    * real structure; the gate before anyone ships row 205's labels).
    * Exact rational form: Q = Σ_c[e_c/m − (d_c/2m)²] multiplied
    * through by 4m² gives Q = (4m·W_in − Σ_c d_c²)/(4m²) with W_in =
    * total intra-community edge weight — every term int64 (4m² ≈ 10¹⁸
    * at the ×1000 rehearsal scale, inside 2⁶³; d_c ≤ 2m keeps Σd_c² ≤
    * 4m²), ONE division, 6-dp directed-half-up grid (Q can be
    * negative).
    *
    * Shape: the weighted edge frame derives once (the LPA derivation,
    * shared textually with the oracle); intra-mass is two
    * label-equijoins on the edge frame, degree mass one bounded
    * aggregate — everything after the first fact collapse runs on
    * item-vocabulary-bounded frames, combined by 1-row broadcasts.
    * LPA itself re-runs inside (2 bounded iterations); at 100 TB the
    * label frame would be cached from the row-205 run instead. */
  def modularityOf(events: DataFrame, iterations: Int = 2): DataFrame = {
    val und = weightedEdges(events).localCheckpoint(false)
    // LPA walks the SAME weighted edge frame Q's arithmetic reads —
    // share the checkpoint instead of re-running the fact scan + lag
    // window inside [[lpaCommunitiesOf]] (r18; both read
    // [[weightedEdges]], so the labels cannot differ).
    val labels = lpaCommunitiesFromEdges(und, iterations)
    val m = und.agg(sum("w").as("m")) // 1 row
    val wIn = und
      .join(labels.select(col("item").as("a"), col("label").as("la")), "a")
      .join(labels.select(col("item").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .agg(coalesce(sum("w"), lit(0L)).as("w_in")) // 1 row
    val deg = und.select(col("a").as("u"), col("w"))
      .union(und.select(col("b").as("u"), col("w")))
      .groupBy("u").agg(sum("w").as("d"))
    val dc = deg.join(labels.select(col("item").as("u2"), col("label")),
        deg("u") === col("u2"))
      .groupBy("label").agg(sum("d").as("dcw"))
    val s = dc.agg(count(lit(1)).as("n_communities"),
      sum(col("dcw") * col("dcw")).as("sdc2")) // 1 row
    val nn = deg.agg(count(lit(1)).as("n_nodes")) // 1 row
    nn.crossJoin(broadcast(s)).crossJoin(broadcast(m))
      .crossJoin(broadcast(wIn))
      .select(col("n_nodes"), col("n_communities"), col("m").as("m_weight"),
        TextF.round6HalfUp(
          (lit(4L) * col("m") * col("w_in") - col("sdc2")).cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double"))
          .as("modularity"))
  }

  /** k-hop reachability profile from the graph's busiest hub (max
    * distinct-degree item, ties to the smallest id): frontier size and
    * cumulative reach per hop 0..`hops` — the how-small-is-the-world
    * read that prices any neighborhood-expansion workload (row 170's
    * walk, recommendation candidate pools, blast-radius analysis)
    * before running it: if 3 hops already cover 90% of the graph,
    * hop-4 features carry no signal. Exact distinct BFS, not a
    * random-walk approximation.
    *
    * Shape: the distinct edge frame derives once (row 213's shared
    * [[undirectedEdges]] graph); each hop is one frontier equijoin +
    * DISTINCT + one left-anti against the reached set — all keyed on
    * item ids and bounded by item vocabulary, never fact-sized;
    * per-hop lazy checkpoints truncate lineage ([[pagerankOf]]'s
    * contract). Output is `hops`+1 rows of 1-row aggregates — no
    * driver-side collect. */
  def khopReachOf(events: DataFrame, hops: Int = 3): DataFrame = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    val und = undirectedEdges(events).localCheckpoint(false)
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(false)
    val seed = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("u")).limit(1)
      .select(col("u").as("item"))
      .localCheckpoint(false)
    var reached = seed
    var frontier = seed
    var out = frontier.agg(count(lit(1)).as("frontier_size"))
      .select(lit(0).as("hop"), col("frontier_size"),
        col("frontier_size").as("reached_total"))
    for (h <- 1 to hops) {
      val next = adj.join(frontier.withColumnRenamed("item", "u"), "u")
        .select(col("v").as("item")).distinct()
        .join(reached, Seq("item"), "left_anti")
        .localCheckpoint(false)
      reached = reached.union(next).localCheckpoint(false)
      out = out.union(
        next.agg(count(lit(1)).as("frontier_size"))
          .crossJoin(broadcast(reached.agg(count(lit(1)).as("reached_total"))))
          .select(lit(h).as("hop"), col("frontier_size"),
            col("reached_total")))
      frontier = next
    }
    out.orderBy("hop")
  }

  /** Rich-club profile (Zhou–Mondragón '04): for degree cutoffs k ∈
    * {80, 85, 90} (chosen inside the item graph's 74-92 degree
    * band, where the curve actually moves), the edge density φ(k) = 2·E_k / (n_k·(n_k−1)) among
    * nodes of degree > k — "do the hubs form their own dense club"
    * (high φ at high k: a hub oligarchy, the structure behind
    * winner-take-all recommendation feedback; flat φ: hubs connect
    * through the periphery). Complements row 214's assortativity
    * scalar with the actual density curve. Exact int64 counts, one
    * division per row, 6-dp grid; NULL when n_k < 2 (no possible
    * edge — the row 221 convention).
    *
    * Shape: the shared [[undirectedEdges]] frame + one degree
    * aggregate, then per-k two semi-joins on the vocab-bounded edge
    * frame — the [[kcoreOf]] shape without iteration. */
  def richClubOf(events: DataFrame, ks: Seq[Int] = Seq(80, 85, 90)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"cutoffs must be >= 1: $ks")
    val und = undirectedEdges(events).localCheckpoint(false)
    val deg = und.select(col("a").as("u")).union(und.select(col("b").as("u")))
      .groupBy("u").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    ks.map { k =>
      val club = deg.filter(col("deg") > k).select(col("u"))
      val nK = club.agg(count(lit(1)).as("n_k")) // 1 row
      val eK = und
        .join(club.withColumnRenamed("u", "a"), "a", "left_semi")
        .join(club.withColumnRenamed("u", "b"), "b", "left_semi")
        .agg(count(lit(1)).as("e_k")) // 1 row
      nK.crossJoin(broadcast(eK))
        .select(lit(k).as("k"), col("n_k"), col("e_k"),
          TextF.round6HalfUp(expr(
            "try_divide(CAST(2 * e_k AS DOUBLE), CAST(n_k * (n_k - 1) AS DOUBLE))"))
            .as("phi"))
    }.reduce(_.union(_)).orderBy("k")
  }

  /** Shared K-source depth-bounded BFS over the undirected item graph:
    * sources = the top-`sources` degree hubs (deterministic tiebreak),
    * frontier expansion to `depth` hops carrying shortest-path COUNTS
    * (σ, Brandes' forward pass: σ(v) = Σ over dist-(d−1) predecessors'
    * σ). Returns (adjacency, levels (s, item, dist, sigma)) — the
    * one traversal [[betweennessSampledOf]] and
    * [[harmonicCentralityOf]] both read. [[khopReachOf]]'s loop shape:
    * every frame is bounded by sources × item-vocabulary, per-level
    * lazy checkpoints keep the plan flat. */
  private def boundedBfs(events: DataFrame, sources: Int,
                         depth: Int): (DataFrame, DataFrame) = {
    require(sources >= 1, s"sources must be >= 1, got $sources")
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val und = undirectedEdges(events).localCheckpoint(false)
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(false)
    val seeds = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("u")).limit(sources)
      .select(col("u").as("s"))
      .localCheckpoint(false)
    var all = seeds.select(col("s"), col("s").as("item"),
      lit(0).as("dist"), lit(1L).as("sigma")).localCheckpoint(false)
    var frontier = all
    for (d <- 1 to depth) {
      val next = adj
        .join(frontier.select(col("s"), col("item").as("u"),
          col("sigma")), "u")
        .groupBy(col("s"), col("v").as("item"))
        .agg(sum("sigma").as("sigma"))
        .join(all.select("s", "item"), Seq("s", "item"), "left_anti")
        .select(col("s"), col("item"), lit(d).as("dist"), col("sigma"))
        .localCheckpoint(false)
      all = all.union(next).localCheckpoint(false)
      frontier = next
    }
    (adj, all)
  }

  /** Depth-bounded sampled betweenness centrality (Brandes '01
    * restricted to the K highest-degree sources and paths ≤ `depth`
    * hops — the k-betweenness of Brandes-Pich '07 / Borgatti's
    * bounded-horizon variant): which items sit ON the shortest routes
    * between hubs and the rest of the graph — the brokers whose
    * removal disconnects navigation, invisible to pure degree (a
    * bridge node of degree 2 can carry every cross-cluster path).
    * Exact within its bound: dependency accumulation
    * δ(v) = Σ_{w child} (σ(v)/σ(w))·(1+δ(w)) runs level-by-level on
    * the BFS DAG; per-edge terms quantize to the int64 nano grid by
    * integer division (decimal(38,0) product first — σ·(10⁹+δq)
    * crosses int64 on dense hub tiers), so every sum is order-free
    * integer and the result is bit-equal in any engine/partitioning.
    * δ(source) is never computed (betweenness excludes endpoints).
    *
    * Shape: fact → distinct edge frame once; the forward pass is
    * `depth` bounded joins, the backward pass `depth−1` — all on
    * sources × vocabulary frames with per-level checkpoints. The
    * sampled-K + bounded-depth design is WHY this scales: exact
    * betweenness is Θ(V·E) with a V-wide source loop — at any real
    * vocabulary the K-source estimate (Brandes-Pich: hub sources
    * cover the heavy routes first) is the production form, and K is
    * the audit knob (double K, compare ranks). */
  def betweennessSampledOf(events: DataFrame, sources: Int = 4,
                           depth: Int = 4): DataFrame = {
    val (adj, all) = boundedBfs(events, sources, depth)
    val term = s"CAST((CAST(sigma AS $Dec) * (1000000000 + dq_w))" +
      s" div CAST(sigma_w AS $Dec) AS BIGINT)"
    var delta = all.filter(col("dist") === depth)
      .select(col("s"), col("item"), lit(0L).as("dq"))
      .localCheckpoint(false)
    var acc = delta
    for (d <- (depth - 1) to 1 by -1) {
      val children = all.filter(col("dist") === d + 1)
        .join(delta, Seq("s", "item"))
        .select(col("s"), col("item").as("w"), col("sigma").as("sigma_w"),
          col("dq").as("dq_w"))
      val contribs = adj.select(col("u").as("item"), col("v").as("w"))
        .join(children, Seq("w"))
        .select(col("s"), col("item"), col("sigma_w"), col("dq_w"))
      delta = all.filter(col("dist") === d)
        .join(contribs, Seq("s", "item"), "left")
        .groupBy("s", "item")
        .agg(coalesce(sum(expr(term)), lit(0L)).as("dq"))
        .localCheckpoint(false)
      acc = acc.union(delta).localCheckpoint(false)
    }
    acc
      .groupBy("item")
      .agg(count(lit(1)).as("n_sources_reaching"), sum("dq").as("bcq"))
      .select(col("item"), col("n_sources_reaching"),
        (floor(col("bcq").cast("double") / lit(1e5) + lit(0.5)) / lit(1e4))
          .as("betweenness"))
      .orderBy(col("betweenness").desc, col("item"))
  }

  /** Sampled harmonic centrality (Marchiori-Latora '00 closeness made
    * disconnection-proof; Eppstein-Wang '01 sampling): ĥ(v) =
    * Σ_{s ∈ sample} 1/d(s,v) over the same K hub sources and depth
    * bound as [[betweennessSampledOf]] — the "how quickly can the
    * core REACH this item" rank beside betweenness' "does this item
    * BROKER the core's routes". Per-term 1/d quantizes by integer
    * division on the nano grid; sums are order-free integers;
    * unreached items simply don't appear (harmonic's advantage over
    * classic closeness, where one unreachable node zeroes the score).
    *
    * Shape: reads [[boundedBfs]]'s level frame — one bounded
    * aggregate after the shared traversal, nothing else. */
  def harmonicCentralityOf(events: DataFrame, sources: Int = 4,
                           depth: Int = 4): DataFrame = {
    val (_, all) = boundedBfs(events, sources, depth)
    all.filter(col("dist") > 0)
      .select(col("item"),
        expr("1000000000 div CAST(dist AS BIGINT)").as("hq"))
      .groupBy("item")
      .agg(count(lit(1)).as("n_sources_reaching"), sum("hq").as("hs"))
      .select(col("item"), col("n_sources_reaching"),
        (floor(col("hs").cast("double") / lit(1e5) + lit(0.5)) / lit(1e4))
          .as("harmonic"))
      .orderBy(col("harmonic").desc, col("item"))
  }

  /** k-truss decomposition (Cohen '08) at fixed k: the maximal
    * subgraph where every surviving EDGE closes ≥ k−2 triangles with
    * surviving edges — [[kcoreOf]]'s edge-grained big sibling and the
    * standard community NUCLEUS extraction (a k-core keeps hub-and-
    * spoke hairballs; a truss keeps only edges embedded in mutual
    * triangles, so it separates genuinely cohesive groups from
    * traffic-hub artifacts). Synchronous peeling, `rounds` FIXED and
    * oracle-unrolled ([[kcoreOf]]'s contract — peeling is monotone,
    * extra rounds are identity; GraphSpec pins convergence-within-
    * rounds on the test corpus). Output: surviving (a, b, support)
    * with support recomputed within the final truss.
    *
    * Shape: fact → distinct edge frame once; each round is the
    * triangle-support join (edges ⋈ adj ⋈ adj on the two endpoints,
    * all vocabulary-bounded) + one filter, with per-round lazy
    * checkpoints truncating lineage. */
  def ktrussOf(events: DataFrame, k: Int = 4, rounds: Int = 8): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def support(edges: DataFrame): DataFrame = {
      val adj = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      edges
        .join(adj.select(col("u").as("a"), col("v").as("w1")), Seq("a"))
        .join(adj.select(col("u").as("b"), col("v").as("w2")), Seq("b"))
        .filter(col("w1") === col("w2"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
    }
    var edges = undirectedEdges(events).localCheckpoint(false)
    for (_ <- 1 to rounds) {
      edges = support(edges).filter(col("support") >= k - 2)
        .select(col("a"), col("b")).localCheckpoint(false)
    }
    support(edges).orderBy("a", "b")
  }

  /** Connectivity profile of the undirected item graph — the "is the
    * catalog one connected market or several disjoint ones" read
    * every structural row here quietly assumes (PageRank/LPA/k-core
    * on a fragmented graph mean something different; a giant-
    * component share near 10⁶ ppm certifies the assumption, a low
    * one flags siloed sub-catalogs): node/edge counts, component
    * count, and the giant component's exact-ppm share, via the SAME
    * shared edge derivation and the [[Components]] min-label closure
    * (maxIter-guarded — a silently split component never escapes).
    *
    * Shape: one lag pass for edges, the bounded-diameter label
    * propagation, two bounded folds. */
  def itemGraphComponentsOf(events: DataFrame): DataFrame = {
    val e = undirectedEdges(events).localCheckpoint(false)
    val nodes = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
    val comp = graft.operators.Components.connectedComponents(e, nodes)
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("sz"))
    val giant = sizes.agg(max("sz").as("giant_size"),
      count(lit(1)).as("n_components"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(nodes.agg(count(lit(1)).as("n_nodes"))) // 1-row frames
      .crossJoin(giant)
      .select(col("n_nodes"), col("n_edges"), col("n_components"),
        col("giant_size"),
        expr("(giant_size * 1000000) div n_nodes").as("giant_share_ppm"))
  }

  /** Hub-ablation robustness (Albert-Jeong-Barabási '00's attack
    * tolerance, as a one-row audit): remove the top-`k` degree hubs
    * and re-measure the giant component — scale-free catalogs
    * shatter under hub removal while holding together under random
    * failure, so a LOW retained share says the navigation graph's
    * connectivity is a few-hub artifact (merchandising risk: delist
    * those items and cross-sell routing dies). [[itemGraphComponentsOf]]
    * certifies the giant component EXISTS; this prices what it
    * hangs on.
    *
    * Hubs pick deterministically by (distinct-degree DESC, item);
    * survivors keep their isolated selves (a node stranded by the
    * ablation counts as its own component, not a disappearance).
    * Both closures ride the shared [[Components]] min-label
    * propagation; exact-ppm shares.
    *
    * Shape: one lag pass → the bounded edge frame; two bounded-
    * diameter label propagations; 1-row readout broadcasts. */
  def hubAblationOf(events: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = undirectedEdges(events).localCheckpoint(false)
    val nodes = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
      .localCheckpoint(false)
    val hubs = e.select(col("a").as("u"))
      .union(e.select(col("b").as("u")))
      .groupBy("u").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("u")).limit(k)
      .select(col("u")).localCheckpoint(false)
    val giantBefore = graft.operators.Components
      .connectedComponents(e, nodes)
      .groupBy("component").agg(count(lit(1)).as("sz"))
      .agg(max("sz").as("giant_before")) // 1 row
    val e2 = e
      .join(hubs.select(col("u").as("a")), Seq("a"), "left_anti")
      .join(hubs.select(col("u").as("b")), Seq("b"), "left_anti")
      .localCheckpoint(false)
    val nodes2 = nodes
      .join(hubs.select(col("u").as("id")), Seq("id"), "left_anti")
      .localCheckpoint(false)
    val giantAfter = graft.operators.Components
      .connectedComponents(e2, nodes2)
      .groupBy("component").agg(count(lit(1)).as("sz"))
      .agg(max("sz").as("giant_after")) // 1 row
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(hubs.agg(count(lit(1)).as("n_hubs_removed"))))
      .crossJoin(broadcast(giantBefore))
      .crossJoin(broadcast(giantAfter))
      .select(col("n_nodes"), col("n_hubs_removed"),
        col("giant_before"), col("giant_after"),
        expr("(giant_after * 1000000) div giant_before")
          .as("retained_ppm"))
  }

  /** Breadth-first sweep over `adj` (u, v) from `seed` (item) on the
    * [[Fixpoint]] loop. The state is (item, dist, changed): round h
    * adds the unreached neighbors of the last frontier (the changed
    * rows) at dist h, so first-visit distance = BFS distance, and the
    * sweep converges on the first round that adds nothing. */
  private def bfs(adj: DataFrame, seed: DataFrame, maxIter: Int): Fixpoint.Result =
    Fixpoint.iterate(seed.select(col("item"), lit(0L).as("dist"),
        lit(true).as("changed")), maxIter) { (reached, h) =>
      val next = adj
        .join(reached.filter(col("changed")).select(col("item").as("u")), "u")
        .select(col("v").as("item")).distinct()
        .join(reached.select("item"), Seq("item"), "left_anti")
      reached.select(col("item"), col("dist"), lit(false).as("changed"))
        .union(next.select(col("item"), lit(h.toLong).as("dist"),
          lit(true).as("changed")))
    }

  /** Graph diameter estimate by DOUBLE-SWEEP BFS (Magnien-Latapy-
    * Habib '09 — the standard cheap lower bound: BFS from a
    * max-degree seed, then BFS again from the farthest node found;
    * the second eccentricity is ≥ half the true diameter and in
    * practice usually exact): the "how many hops wide IS this
    * catalog" scalar [[khopReachOf]]'s fixed-3-hop rings can't give,
    * and the sanity bound for every "k-hop covers everything" claim.
    *
    * Each sweep is [[bfs]] on the [[Fixpoint]] loop, and both seeds
    * break ties totally (degree DESC then id; distance DESC then id).
    * Unreached components simply don't appear — `n_reached` beside
    * [[itemGraphComponentsOf]]'s node count exposes that.
    *
    * @throws IllegalStateException if a sweep finds a node more than
    *         `maxIter` hops from its seed — a truncated sweep would
    *         under-read the diameter silently. An eccentricity of
    *         exactly `maxIter` passes (the sweep runs one more round to
    *         see that nothing is left), matching the oracle's
    *         `dist < 20` recursion step, which still admits dist = 20.
    *
    * Shape: per-iteration work is one vocab-bounded adjacency join;
    * iteration count = the eccentricity + 1 (tiny on any small-world
    * catalog). The oracle runs the same two sweeps as depth-capped
    * recursive UNION CTEs folded by MIN(dist). */
  def diameterEstimateOf(events: DataFrame, maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val und = undirectedEdges(events).localCheckpoint(false)
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(false)
    def sweep(seed: DataFrame): DataFrame = {
      val run = bfs(adj, seed, maxIter + 1)
      if (!run.converged)
        throw new IllegalStateException(
          s"diameterEstimate: a node lies more than $maxIter hops from the " +
            "sweep seed; raise maxIter")
      run.state.select("item", "dist")
    }
    val seed1 = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("u")).limit(1)
      .select(col("u").as("item"))
      .localCheckpoint(false)
    val r1 = sweep(seed1)
    val far = r1.orderBy(col("dist").desc, col("item")).limit(1)
      .select(col("item"))
      .localCheckpoint(false)
    val r2 = sweep(far)
    seed1.select(col("item").as("start_node"))
      .crossJoin(broadcast(
        r1.agg(max("dist").as("ecc_start"), count(lit(1)).as("n_reached"))))
      .crossJoin(broadcast(far.select(col("item").as("far_node"))))
      .crossJoin(broadcast(r2.agg(max("dist").as("diameter_lb"))))
  }

  /** Pivot strongly-connected component of the DIRECTED transition
    * graph — every component row so far ([[itemGraphComponentsOf]],
    * the closure family) is UNDIRECTED; navigation is not: A→B
    * without B→A is a one-way funnel, and the "core you can wander
    * forever" is the SCC. Full distributed SCC is the iterated
    * forward-backward decomposition (Fleischer-Hendrickson-Pinar
    * '00); ONE round from a max-out-degree pivot already answers the
    * question that matters — how much of the catalog is mutually
    * navigable — as SCC(pivot) = forward-reach(pivot) ∩
    * backward-reach(pivot), two [[bfs]] sweeps (the second on the
    * REVERSED adjacency).
    *
    * Shape: directed distinct edges off one lag pass; per-iteration
    * work is the vocab-bounded adjacency join, iterated to FIXPOINT
    * with no round cap — the reach set is monotone and bounded by the
    * item vocabulary, so the loop terminates in ≤ |V| + 1 rounds; the
    * oracle's recursive CTEs are likewise uncapped, so a reach chain
    * longer than any fixed hop budget can't diverge the two sides
    * ([[diameterEstimateOf]] keeps its cap because ITS oracle mirrors
    * it with `dist < 20`); the intersection is a semi-join of two
    * reach frames; exact-ppm share against the node count.
    * Oracle: two recursive reachability CTEs (UNION dedup on the
    * node alone — reach sets are monotone, the closure terminates)
    * intersected. */
  def pivotSccOf(events: DataFrame): DataFrame = {
    val edges = transitions(events)
      .filter(col("src") =!= col("item"))
      .select(col("src").as("u"), col("item").as("v"))
      .distinct()
      .localCheckpoint(false)
    val nodes = edges.select(col("u").as("item"))
      .union(edges.select(col("v").as("item"))).distinct()
      .localCheckpoint(false)
    def reach(adj: DataFrame, seed: DataFrame): DataFrame =
      bfs(adj, seed, Int.MaxValue).state.select("item")
    val pivot = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("u")).limit(1)
      .select(col("u").as("item"))
      .localCheckpoint(false)
    val fwd = reach(edges, pivot)
    val bwd = reach(edges.select(col("v").as("u"), col("u").as("v")), pivot)
    val scc = fwd.join(bwd, Seq("item"), "left_semi")
    pivot.select(col("item").as("pivot"))
      .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_nodes"))))
      .crossJoin(broadcast(fwd.agg(count(lit(1)).as("forward_reach"))))
      .crossJoin(broadcast(bwd.agg(count(lit(1)).as("backward_reach"))))
      .crossJoin(broadcast(scc.agg(count(lit(1)).as("scc_size"))))
      .select(col("pivot"), col("n_nodes"), col("forward_reach"),
        col("backward_reach"), col("scc_size"),
        expr("CAST((scc_size * 1000000) div n_nodes AS BIGINT)")
          .as("scc_share_ppm"))
  }

  /** Edge reciprocity of the directed transition graph — the scalar
    * that says whether navigation is a two-way market or a funnel
    * ([[pivotSccOf]] finds the mutually-navigable CORE; this prices
    * how mutual the EDGES are — a high-reciprocity catalog browses,
    * a low one drains toward checkout): share of directed edges
    * whose reverse edge also exists, r = |E ∩ Eᵀ| / |E| in exact
    * ppm.
    *
    * Shape: the directed distinct-edge frame off one lag pass, one
    * self-semi-join on the reversed key (vocab-bounded), a 1-row
    * readout. */
  def reciprocityOf(events: DataFrame): DataFrame = {
    val edges = transitions(events)
      .filter(col("src") =!= col("item"))
      .select(col("src").as("u"), col("item").as("v"))
      .distinct()
      .localCheckpoint(false) // both legs of the ratio read it
    val recip = edges.join(
      edges.select(col("v").as("u"), col("u").as("v")),
      Seq("u", "v"), "left_semi")
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
      .select(col("n_edges"), col("n_reciprocal"),
        expr("CAST((n_reciprocal * 1000000) div n_edges AS BIGINT)")
          .as("reciprocity_ppm"))
  }

  /** Truncated Katz centrality (Katz '53) over the UNWEIGHTED
    * directed item-transition graph — the walk-counting middle
    * ground the centrality shelf lacked: [[pagerankOf]] normalizes
    * by out-degree (a hub's endorsement splits), degree counts only
    * length-1 paths; Katz counts ALL inbound walks, length-k
    * attenuated by α^k, so a node reachable many ways ranks high
    * even with few direct edges. Spectral Katz needs α < 1/λ_max
    * (unknowable per-corpus); the TRUNCATED form Σ_{k≤6} α^k paths_k
    * converges by construction and is the 6-hop approximation —
    * documented, and exact: with α = 1/2, katz·2⁶ = Σ 2^(6−k)·
    * paths_k(u) is an INTEGER (the shift-halving device of the Holt
    * family), so every iteration is bit-exact in any engine. Path
    * counts ride decimal(38,0): they grow like degree^k, int64
    * crosses near degree ~ 10³ at k = 6 — decimal headroom to 10³⁸
    * (the documented bound; a denser graph errors loudly, never
    * wraps).
    *
    * Shape: a fixed-count loop like [[integerPagerank]]'s — the
    * DISTINCT [[transitions]] edge frame (self-transitions kept) and
    * the node frame checkpoint once; each of the 6 iterations is one
    * bounded equijoin + aggregate on the ≤|items|² edge frame; the
    * accumulator rides the node frame. */
  def katzCentralityOf(events: DataFrame, iterations: Int = 6): DataFrame = {
    require(iterations >= 1 && iterations <= 12,
      s"iterations in [1,12], got $iterations")
    val edges = transitions(events)
      .select(col("src"), col("item").as("dst"))
      .distinct()
      .localCheckpoint(false)
    val nodes = edges.select(col("src").as("item"))
      .union(edges.select(col("dst").as("item")))
      .distinct()
      .localCheckpoint(false)
    // Path-count p and accumulator acc ride ONE state frame (r18
    // optimization round): the old separate acc frame re-joined p
    // every iteration — an extra join + checkpoint × `iterations` for
    // an update (acc += p·w) both frames' rows already colocate. The
    // state frame's item set is exactly `nodes` every round (left
    // join preserves it), so acc_new = acc + coalesce(pin,0)·w is the
    // same integers in the same order.
    var state = nodes.select(col("item"), lit(1L).cast(Dec).as("p"),
      lit(0L).cast(Dec).as("acc"))
      .localCheckpoint(false)
    for (k <- 1 to iterations) {
      val inflow = state.join(edges, state("item") === edges("src"))
        .groupBy("dst").agg(sum("p").as("pin"))
      val w = 1L << (iterations - k)
      state = state
        .join(inflow, state("item") === col("dst"), "left")
        .select(state("item"),
          coalesce(col("pin"), lit(0L).cast(Dec)).as("p"),
          (col("acc") + coalesce(col("pin"), lit(0L).cast(Dec)) * w).as("acc"))
        .localCheckpoint(false)
    }
    val acc = state
    // The integer column is katz·2^iterations (x64 at the default 6);
    // the normalizer must track the parameter or non-default runs are
    // mis-scaled by 2^iterations/64.
    val scale = (1L << iterations).toDouble
    acc.select(col("item"),
        col("acc").cast("long").as(s"katz_x${1L << iterations}"),
        TextF.round6HalfUp(col("acc").cast("double") / lit(scale)).as("katz"))
      .orderBy("item")
  }
}
