package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  /** One user touching `items` in order, one event per second. */
  private def stream(items: Long*): DataFrame =
    items.zipWithIndex.map { case (k, i) =>
      (i.toLong, 1L, f"2024-01-01 00:00:$i%02d", s"""{"k": $k}""")
    }.toDF("event_id", "user_id", "s", "props")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("s")).as("ts"), col("props"))

  test("a symmetric 2-cycle holds the uniform fixed point exactly") {
    // 1→2→1→2…: both nodes have one out-edge; rank 5e11 each is the
    // integer fixed point (7.5e10 teleport + 85%·5e11 = 5e11).
    val out = Graph.pagerankOf(stream(1L, 2L, 1L, 2L, 1L)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map(1L -> ((500000000000L, 0.5)),
      2L -> ((500000000000L, 0.5))))
  }

  test("a hub receiving two feeders outranks them; mass is conserved") {
    // 1→3, 2→3, 3→1 (cycle so nothing dangles).
    val out = Graph.pagerankOf(stream(1L, 3L, 1L, 3L, 2L, 3L, 1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(3L) > out(1L) && out(1L) > out(2L),
      s"hub > its feeder > the leaf: $out")
    val mass = out.values.sum
    assert(mass > (Graph.Scale * 999) / 1000 && mass <= Graph.Scale,
      s"integer truncation may only shave ppm-level mass, got $mass")
  }

  test("pagerank is deterministic across runs") {
    val ev = stream(5L, 7L, 5L, 9L, 7L, 5L)
    val a = Graph.pagerankOf(ev, iterations = 3).collect().toSeq
    val b = Graph.pagerankOf(ev, iterations = 3).collect().toSeq
    assert(a == b)
  }

  test("degrees: out/in sides merge so one-sided nodes still report") {
    // 1→2 only: 1 is source-only, 2 is sink-only, nothing reciprocates.
    val out = Graph.graphDegreesOf(stream(1L, 2L)).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out(1L) == ((1L, 0L, 1L, 0L, 0L)))
    assert(out(2L) == ((0L, 1L, 0L, 1L, 0L)))
  }

  test("degrees: a 2-cycle reciprocates on both sides with summed weights") {
    // 1→2→1→2: edges 1→2 (w 2), 2→1 (w 1), both reciprocated.
    val out = Graph.graphDegreesOf(stream(1L, 2L, 1L, 2L)).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out(1L) == ((1L, 1L, 2L, 1L, 1L)), s"got $out")
    assert(out(2L) == ((1L, 1L, 1L, 2L, 1L)))
  }

  test("dangling mass evaporates rather than erroring") {
    // 1→2 only: node 2 has no out-edges; its mass drains each round.
    val out = Graph.pagerankOf(stream(1L, 2L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out.values.sum < Graph.Scale / 2,
      "with half the graph dangling, total mass must shrink well below 1")
  }

  test("triangles: a 3-cycle counts once at each corner; a path counts none") {
    val tri = Graph.triangleCountOf(stream(1L, 2L, 3L, 1L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $tri")
    val path = Graph.triangleCountOf(stream(1L, 2L, 3L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(path == Map(1L -> 0L, 2L -> 0L, 3L -> 0L),
      "an open wedge is not a triangle")
  }

  test("triangles: self-loops and repeated transitions never inflate the count") {
    // 1→1 self loop plus the same 3-cycle traversed twice
    val out = Graph.triangleCountOf(
      stream(1L, 1L, 2L, 3L, 1L, 2L, 3L, 1L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "the UNDIRECTED DISTINCT edge set defines the graph")
  }

  test("personalized pagerank confines mass to the seed-reachable component") {
    import org.apache.spark.sql.functions.col
    // User A cycles seed 0 with item 50; user B cycles 80/81 — a
    // component no walk from the seed can reach.
    val evA = stream(0L, 50L, 0L, 50L, 0L)
    val evB = stream(80L, 81L, 80L, 81L)
      .select(col("event_id") + 100L as "event_id",
        col("user_id") + 1L as "user_id", col("ts"), col("props"))
    val out = Graph.personalizedPagerankOf(evA.unionByName(evB)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(80L) == 0L && out(81L) == 0L,
      "unreachable nodes must hold EXACTLY zero mass (integer floor)")
    assert(out(0L) > 0L && out(50L) > 0L)
    assert(out(0L) > out(50L), "the seed keeps the teleport mass advantage")
    val mass = out.values.sum
    assert(mass > (Graph.Scale * 99) / 100 && mass <= Graph.Scale,
      s"the seed cycle conserves mass: $mass")
  }

  test("link prediction: small baskets outscore big ones at equal co-occurrence") {
    import spark.implicits._
    // order 1 = {1,2} (pair worth 500000), order 2 = {1,2,3} (worth
    // 333333 each), order 3 = {4,5} — and a duplicate line that the
    // DISTINCT projection must collapse
    val li = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 4L), (3L, 5L), (3L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val out = Graph.linkPredictOf(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out((1L, 2L)) == ((2L, 833333L, 0.833333)), s"got $out")
    assert(out((1L, 3L)) == ((1L, 333333L, 0.333333)))
    assert(out((4L, 5L)) == ((1L, 500000L, 0.5)),
      "duplicate lineitem rows must not double-count the basket")
    assert(out.size == 4, "pairs: (1,2) (1,3) (2,3) (4,5)")
  }

  /** Several users, each touching their own item sequence. */
  private def streams(users: (Long, Seq[Long])*): DataFrame =
    users.flatMap { case (u, items) =>
      items.zipWithIndex.map { case (k, i) =>
        (u * 1000 + i, u, f"2024-01-01 00:00:$i%02d", s"""{"k": $k}""")
      }
    }.toDF("event_id", "user_id", "s", "props")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("s")).as("ts"), col("props"))

  test("hits: a pure star makes the center the only hub, leaves the only authorities") {
    // three users each walk 1→leaf: edges 1→3, 1→4, 1→5, no returns
    val out = Graph.hitsOf(streams(
      (1L, Seq(1L, 3L)), (2L, Seq(1L, 4L)), (3L, Seq(1L, 5L))))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._1 > 0L && out(1L)._2 == 0L,
      s"center hubs, never an authority: $out")
    Seq(3L, 4L, 5L).foreach { v =>
      assert(out(v)._1 == 0L && out(v)._2 > 0L,
        s"leaf $v must be authority-only: $out")
    }
    assert(Seq(3L, 4L, 5L).map(out(_)._2).distinct.size == 1,
      "symmetric leaves score identically")
  }

  test("lpa: two disjoint triangles converge to two communities, min label wins") {
    val out = Graph.lpaCommunitiesOf(streams(
      (1L, Seq(1L, 2L, 3L, 1L)),       // triangle 1-2-3, all edges w=1
      (2L, Seq(11L, 12L, 13L, 11L))))  // triangle 11-12-13
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L),
      s"each triangle must converge on its smallest member: $out")
  }

  test("lpa: a pendant node joins its triangle's community within two iterations") {
    // triangle 1-2-3 plus pendant 9 hanging off 3: the triangle's
    // converged label reaches the pendant on the second sync step
    // (hand-walked: l1 = {1→2, 2→1, 3→1, 9→3}; l2 = all → 1).
    val out = Graph.lpaCommunitiesOf(streams(
      (1L, Seq(1L, 2L, 3L, 1L)),
      (2L, Seq(3L, 9L))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L), s"got $out")
  }

  test("kcore: a triangle survives the 2-core, its pendant peels off") {
    // triangle 1-2-3 (walk 1,2,3,1) + pendant 3-9: only the pendant
    // has degree < 2, and after it peels the triangle is stable.
    val out = Graph.kcoreOf(streams(
      (1L, Seq(1L, 2L, 3L, 1L)), (2L, Seq(3L, 9L))), k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $out")
  }

  test("kcore: a path has no 2-core — cascading peel empties it; fixpoint is identity") {
    // path 1-2-3-4-5: endpoints peel each round, the path unravels.
    val ev = streams((1L, Seq(1L, 2L, 3L, 4L, 5L)))
    assert(Graph.kcoreOf(ev, k = 2, rounds = 4).collect().isEmpty)
    // monotone peel: extra rounds past the fixpoint change nothing
    val r2 = Graph.kcoreOf(ev, k = 2, rounds = 8).collect().toSeq
    assert(r2 == Graph.kcoreOf(ev, k = 2, rounds = 4).collect().toSeq)
  }

  test("kcore: K4 is its own 3-core, every node at degree 3") {
    // walk 1,2,3,4,1,3,2,4 covers all six K4 edges
    val out = Graph.kcoreOf(streams((1L, Seq(1L, 2L, 3L, 4L, 1L, 3L, 2L, 4L))),
      k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $out")
  }

  test("assortativity: a perfect star is perfectly disassortative (r = -1)") {
    // hub 1 with leaves 3, 4, 5 (each leaf its own user so no
    // leaf-leaf transition edges form)
    val out = Graph.degreeAssortativityOf(streams(
      (1L, Seq(1L, 3L)), (2L, Seq(1L, 4L)), (3L, Seq(1L, 5L))))
      .collect().head
    assert(out.getLong(0) == 4L && out.getLong(1) == 3L)
    assert(out.getDouble(2) == -1.0, s"star must score -1: $out")
  }

  test("clustering coefficient: triangle corners close at 1.0, the junction dilutes, pendants are NULL") {
    // triangle 1-2-3 + pendant 3-9: nodes 1,2 have d=2 and their one
    // wedge closes → C=1; node 3 has d=3 with one of three wedge pairs
    // closed → C = 2·1/(3·2) = 0.3333; pendant 9 has d=1 → NULL
    val out = Graph.clusteringCoeffOf(streams(
      (1L, Seq(1L, 2L, 3L, 1L)), (2L, Seq(3L, 9L)))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, 1.0)) && out(2L) == ((2L, 1L, 1.0)), s"got $out")
    assert(out(3L) == ((3L, 1L, 0.3333)), s"got $out")
    assert(out(9L)._1 == 1L && out(9L)._3.isNaN, s"pendant must be NULL: $out")
  }

  test("assortativity: uniform-degree graphs are undefined (NULL), the 0-variance convention") {
    // a 4-cycle: every node degree 2 → zero variance on both axes
    val out = Graph.degreeAssortativityOf(
      streams((1L, Seq(1L, 2L, 3L, 4L, 1L)))).collect().head
    assert(out.isNullAt(2), s"got $out")
  }

  test("hits: a symmetric 2-cycle scores both nodes identically; deterministic") {
    val ev = streams((1L, Seq(1L, 2L, 1L, 2L, 1L)))
    val out = Graph.hitsOf(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == out(2L), s"symmetric cycle must tie: $out")
    assert(out(1L)._1 > 0L && out(1L)._2 > 0L)
    val again = Graph.hitsOf(ev).collect().toSeq
    assert(again == Graph.hitsOf(ev).collect().toSeq, "bit-deterministic")
  }

  test("modularity: the oscillating-pair fixpoint prices singleton communities") {
    // Edges (1,2) w=2 and (3,4) w=1. Two LPA rounds on isolated pairs
    // oscillate back to singletons (each node adopts its neighbor,
    // then re-adopts itself), so W_in = 0 and
    // Q = (0 - Σd²)/(4m²) = -10/36 exactly.
    val ev = streams(1L -> Seq(1L, 2L, 1L), 2L -> Seq(3L, 4L))
    val r = Graph.modularityOf(ev).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L, "4 nodes, 4 labels")
    assert(r.getLong(2) == 3L, "m = 2 + 1")
    assert(r.getDouble(3) == -0.277778, s"floor(-10/36*1e6+0.5)/1e6: $r")
  }

  test("modularity is deterministic across runs") {
    val ev = streams(1L -> Seq(1L, 2L, 3L, 1L, 2L), 2L -> Seq(4L, 5L, 4L))
    assert(Graph.modularityOf(ev).collect().toSeq ==
      Graph.modularityOf(ev).collect().toSeq)
  }

  test("khop reach: a path expands one ring per hop from the busiest hub") {
    // Path 1-2-3-4-5 (one walker): degrees 1,2,2,2,1; hub tie 2|3|4
    // breaks to 2. Rings: {1,3}, {4}, {5}.
    val out = Graph.khopReachOf(streams(1L -> Seq(1L, 2L, 3L, 4L, 5L)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0) == ((1L, 1L)))
    assert(out(1) == ((2L, 3L)))
    assert(out(2) == ((1L, 4L)))
    assert(out(3) == ((1L, 5L)))
  }

  test("khop reach: exhausted frontiers report zero, reach plateaus") {
    // Single edge: everything is reached at hop 1; hops 2-3 are empty.
    val out = Graph.khopReachOf(streams(1L -> Seq(7L, 8L)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1) == ((1L, 2L)))
    assert(out(2) == ((0L, 2L)) && out(3) == ((0L, 2L)))
  }

  test("rich club: the hub triangle closes ranks, thin clubs read NULL") {
    // Clique {1,2,3} + pendant 4-1: degrees 3,2,2,1.
    val ev = streams(1L -> Seq(1L, 2L, 3L, 1L), 2L -> Seq(2L, 3L),
      3L -> Seq(4L, 1L))
    val out = Graph.richClubOf(ev, ks = Seq(1, 2)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(1) == ((3L, 3L, Some(1.0))), s"deg>1 club is the full clique: $out")
    assert(out(2) == ((1L, 0L, None)), "a 1-node club has no possible edge")
  }

  test("betweenness on a path graph matches hand-run Brandes; endpoints broker nothing") {
    // path 1-2-3-4-5; sources = top-4 by (deg desc, item): 2, 3, 4, 1.
    // δ sums: bc(2) = 3+1+1 = 5, bc(3) = 2+2+2 = 6, bc(4) = 1+1+1 = 3.
    val ev = stream(1L, 2L, 3L, 4L, 5L)
    val out = Graph.betweennessSampledOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(2L) == ((3L, 5.0)), s"$out")
    assert(out(3L) == ((3L, 6.0)), s"$out")
    assert(out(4L) == ((3L, 3.0)), s"$out")
    assert(out(1L)._2 == 0.0 && out(5L)._2 == 0.0,
      s"path endpoints carry no shortest path: $out")
  }

  test("ktruss: a 4-clique survives at k=4 with support 2; the pendant edge peels") {
    // transitions build K4 on {1,2,3,4} plus the pendant 4-5
    val ev = stream(1L, 2L, 3L, 1L, 4L, 2L, 4L, 3L, 4L, 5L)
    val out = Graph.ktrussOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L)), s"$out")
    assert(out.values.forall(_ == 2L),
      s"every K4 edge closes exactly 2 surviving triangles: $out")
  }

  test("harmonic centrality on the path: center highest, nano-grid 1/d terms exact") {
    val ev = stream(1L, 2L, 3L, 4L, 5L)
    val out = Graph.harmonicCentralityOf(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // sources {1,2,3,4}: h(3) = 1/2 + 1 + 1 = 2.5 (its own source row
    // excluded); h(5) = 1/4 + 1/3 + 1/2 + 1 = 2.0833 on the nano grid
    assert(out(3L) == ((3L, 2.5)), s"$out")
    assert(out(5L) == ((4L, 2.0833)), s"$out")
    assert(out(1L) == ((3L, 1.8333)), s"$out")
  }

  test("item graph components: two disjoint chains read a 3/5 giant share") {
    // user 1 walks 1→2→3, user 2 walks 10→11: nodes 5, edges 3,
    // components 2, giant {1,2,3} → 600000 ppm.
    val ev = streams(1L -> Seq(1L, 2L, 3L), 2L -> Seq(10L, 11L))
    val r = Graph.itemGraphComponentsOf(ev).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((5L, 3L, 2L, 3L, 600000L)), s"$r")
  }

  test("diameter estimate: double sweep on a path graph reads the exact diameter") {
    // Path 1-2-3-4-5 (sequential touches). Max degree is 2, shared by
    // nodes 2/3/4 -> seed 2 by the (deg DESC, id) tiebreak; ecc(2)=3
    // with farthest node 5; the second sweep from 5 spans the whole
    // path: diameter_lb = 4, all 5 nodes reached.
    val Array(r) = Graph.diameterEstimateOf(stream(1L, 2L, 3L, 4L, 5L))
      .collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 3L, 5L, 5L, 4L)), s"got $r")
  }

  test("diameter estimate: an eccentricity of exactly maxIter still succeeds") {
    // The same path: the second sweep's eccentricity is 4, the cap.
    val Array(r) = Graph.diameterEstimateOf(stream(1L, 2L, 3L, 4L, 5L),
      maxIter = 4).collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 3L, 5L, 5L, 4L)), s"got $r")
  }

  test("diameter estimate: a node past maxIter hops throws by name, never truncates") {
    // The second sweep from 5 needs 4 hops to reach 1; a cap of 3
    // would under-read the diameter as 3.
    val e = intercept[IllegalStateException] {
      Graph.diameterEstimateOf(stream(1L, 2L, 3L, 4L, 5L), maxIter = 3)
    }
    assert(e.getMessage.contains("diameterEstimate") &&
      e.getMessage.contains("3 hops"), e.getMessage)
  }

  test("pivot scc: a cycle with a one-way tail reads forward 4, backward 3, scc 3") {
    // user 1 walks the 1→2→3→1 cycle; user 2 adds the one-way 3→4.
    // Out-degrees: 3 has 2 → pivot. fwd(3) = {1,2,3,4}, bwd(3) =
    // {1,2,3} → SCC {1,2,3}, share 750000 ppm of 4 nodes.
    val ev = stream(1L, 2L, 3L, 1L, 2L, 3L)
      .union(stream(3L, 4L).withColumn("user_id", lit(2L)))
    val Array(r) = Graph.pivotSccOf(ev).collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((3L, 4L, 4L, 3L, 3L, 750000L)),
      s"got $r")
  }

  test("reciprocity: a mutual pair beside a one-way edge reads 2 of 3") {
    val ev = stream(1L, 2L, 1L)
      .union(stream(2L, 3L).withColumn("user_id", lit(2L)))
    val Array(r) = Graph.reciprocityOf(ev).collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((3L, 2L, 666666L)), s"got $r")
  }

  test("eigenvector centrality: a uniform triangle holds the uniform fixed point exactly") {
    // 1→2→3→1: K3 with unit weights. s_i = rq_i + 2·rq = 3e6 uniform,
    // max-normalization returns 1e6 — the exact integer fixed point.
    val out = Graph.eigenvectorCentralityOf(stream(1L, 2L, 3L, 1L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out == Map(1L -> ((1000000L, 1.0)), 2L -> ((1000000L, 1.0)),
      3L -> ((1000000L, 1.0))), s"got $out")
  }

  test("eigenvector centrality: the star center dominates without bipartite oscillation") {
    // 2→1, 1→3, 3→1, 1→4, 4→1: undirected star at 1 with weights
    // w(1,2)=1, w(1,3)=2, w(1,4)=2 — bipartite, the exact shape raw
    // (unshifted) power iteration oscillates on; the +I shift must
    // converge the center to the argmax and rank leaves by weight.
    val out = Graph.eigenvectorCentralityOf(stream(2L, 1L, 3L, 1L, 4L, 1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1000000L, s"center holds the max: $out")
    assert(out(3L) == out(4L), s"equal-weight leaves tie: $out")
    assert(out(3L) > out(2L) && out(2L) > 0L,
      s"heavier leaves outrank the lighter one: $out")
  }

  test("hub ablation: bridged triangles shatter when the bridge endpoints go") {
    // triangles {1,2,3} and {4,5,6} bridged through 7 (7–1, 7–4).
    // degrees: 1,4 → 3; the rest → 2; hubs (top-3 by deg, then id)
    // = {1, 4, 2}. Survivors {3,5,6,7} keep only edge (5,6) →
    // giant 7 → 2.
    val ev = stream(1L, 2L, 3L, 1L, 7L, 4L, 5L, 6L, 4L, 7L)
    val Array(r) = Graph.hubAblationOf(ev).collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((7L, 3L, 7L, 2L, 285714L)), s"got $r")
  }

  test("eigenvector centrality is deterministic across runs") {
    val ev = stream(5L, 7L, 5L, 9L, 7L, 5L)
    val a = Graph.eigenvectorCentralityOf(ev, iterations = 4).collect().toSeq
    val b = Graph.eigenvectorCentralityOf(ev, iterations = 4).collect().toSeq
    assert(a == b)
  }

  test("katz_centrality: hand-traced path and cycle walk counts") {
    // path 1→2→3: into-2 = one 1-walk (32); into-3 = one 1-walk +
    // one 2-walk (32 + 16 = 48); into-1 = none.
    val path = Graph.katzCentralityOf(stream(1L, 2L, 3L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(path == Map(1L -> 0L, 2L -> 32L, 3L -> 48L), s"$path")
    // 2-cycle: exactly one k-walk into each node for every k ≤ 6 →
    // 32+16+8+4+2+1 = 63, katz = 63/64.
    val cyc = Graph.katzCentralityOf(stream(1L, 2L, 1L))
      .collect()
    assert(cyc.forall(_.getLong(1) == 63L), s"${cyc.mkString(";")}")
    assert(cyc.forall(_.getDouble(2) == 0.984375), s"${cyc.mkString(";")}")
  }

  test("katz centrality at non-default iterations normalizes by 2^iterations") {
    // chain 1→2→3 (one user, three items in sequence): with α = 1/2
    // and 3 iterations, acc·2³ = (0, 4, 6) ⇒ katz = (0, 0.5, 0.75).
    // The pre-r17 code divided by the iterations=6 constant 64 and
    // mislabeled the integer column katz_x64.
    val events = Seq(
      (1L, 1L, "click", "2024-01-01 10:00:00", """{"k":1}"""),
      (2L, 1L, "click", "2024-01-01 10:01:00", """{"k":2}"""),
      (3L, 1L, "click", "2024-01-01 10:02:00", """{"k":3}"""))
      .toDF("event_id", "user_id", "event_type", "t", "props")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("props"))
    val out = Graph.katzCentralityOf(events, iterations = 3)
    assert(out.columns.toSeq == Seq("item", "katz_x8", "katz"),
      s"integer column must be labeled by the actual scale: ${out.columns.toSeq}")
    val rows = out.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows(1L) == ((0L, 0.0)) && rows(2L) == ((4L, 0.5)) &&
      rows(3L) == ((6L, 0.75)), s"${rows.toSeq.sortBy(_._1)}")
  }

  // ---- eigenvector centrality: the +I bipartite guard and the
  // ---- global-max normalization, property-tested on the exact
  // ---- fixtures the scaladoc argues about

  /** Three users each walk leaf→center: a 3-leaf star, unit weights. */
  private def starEvents = streams(1L -> Seq(1L, 0L), 2L -> Seq(2L, 0L),
    3L -> Seq(3L, 0L))

  test("eigenvector: a star converges to the sqrt(3) ratio instead of oscillating") {
    // A star is bipartite: raw power iteration flips between
    // center-heavy and leaf-heavy states with period 2. With the +I
    // shift the dominant eigenvalue of A+I is 1+sqrt(3) and the
    // leaf/center ratio converges to 1/sqrt(3) = 0.577350…
    val out = Graph.eigenvectorCentralityOf(starEvents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 1000000L, s"argmax holds exactly 1e6: $out")
    assert(out(1L) == out(2L) && out(2L) == out(3L),
      s"symmetric leaves must tie exactly: $out")
    assert(out(1L) >= 577340L && out(1L) <= 577360L,
      s"leaves at 1e6/sqrt(3) = 577350 within the integer dither: $out")
    // no period-2 oscillation: one more iteration moves nothing more
    // than the +-2 ppm integer dither (unguarded iteration would swing
    // leaves by ~1e5 between consecutive iterations)
    val out13 = Graph.eigenvectorCentralityOf(starEvents, iterations = 13)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (item, rq) =>
      assert(math.abs(rq - out13(item)) <= 2L,
        s"item $item: $rq vs ${out13(item)} — oscillation survived the +I guard")
    }
  }

  test("eigenvector: a disconnected minor component decays under the GLOBAL max") {
    // star (dominant, lambda = 1+sqrt(3)) + a separate 2-node edge
    // (lambda = 2): the pair's mass shrinks by ~2/2.732 per iteration
    // and reads ~17e3 ppm after 12 — decayed scores, not missing rows.
    val ev = streams(1L -> Seq(1L, 0L), 2L -> Seq(2L, 0L), 3L -> Seq(3L, 0L),
      4L -> Seq(10L, 11L))
    val out = Graph.eigenvectorCentralityOf(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 10L, 11L),
      s"minor-component nodes must still report: $out")
    assert(out(0L) == 1000000L, "the global argmax is the star center")
    assert(out(1L) >= 577340L && out(1L) <= 577360L,
      s"the dominant component is unperturbed by the minor one: $out")
    assert(out(10L) == out(11L), s"symmetric pair must tie: $out")
    assert(out(10L) > 0L && out(10L) < 60000L,
      s"pair must decay well below the leaves, not vanish: $out")
  }

  test("eigenvector: determinism across runs on the mixed fixture") {
    val ev = streams(1L -> Seq(1L, 0L, 2L, 0L), 4L -> Seq(10L, 11L, 10L))
    val a = Graph.eigenvectorCentralityOf(ev).collect().toSeq
    val b = Graph.eigenvectorCentralityOf(ev).collect().toSeq
    assert(a == b)
  }

  // ---- hub ablation: k >= the whole node set, and the star readout

  test("hub ablation: k beyond the node count removes everything; NULL giant, no crash") {
    val out = Graph.hubAblationOf(streams(1L -> Seq(1L, 2L)), k = 3).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 2L,
      s"n_nodes=2, both removed, giant_before=2: $r")
    assert(r.isNullAt(3) && r.isNullAt(4),
      s"empty survivor graph reads NULL giant_after/retained_ppm: $r")
  }

  test("hub ablation: removing a star's center shatters the giant to singletons") {
    val out = Graph.hubAblationOf(starEvents, k = 1).collect().head
    assert(out.getLong(0) == 4L && out.getLong(1) == 1L)
    assert(out.getLong(2) == 4L, "giant before = the whole star")
    assert(out.getLong(3) == 1L, "after: three isolated leaves, giant = 1")
    assert(out.getLong(4) == 250000L, s"retained_ppm = 1e6/4: $out")
  }
}
