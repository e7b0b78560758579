package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Components

class ComponentsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] =
    Components.connectedComponents(
      edges.toDF("a", "b"), nodes.toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("closure merges chained pairs into one component (near-dup is not transitive)") {
    // A~B, B~C but no A~C edge — all three must share a component.
    val got = cc(Seq((1L, 2L), (2L, 3L)), Seq(1L, 2L, 3L, 4L))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("disjoint clusters keep distinct minimum-id components") {
    val got = cc(Seq((5L, 7L), (10L, 11L), (11L, 12L)), (5L to 12L))
    assert(got(5L) == 5L && got(7L) == 5L)
    assert(got(10L) == 10L && got(11L) == 10L && got(12L) == 10L)
    assert((6L to 9L).filter(_ != 7L).forall(i => got(i) == i),
      s"edge-free nodes stay singletons: $got")
  }

  test("a long chain converges to the chain minimum within the iteration bound") {
    // Path 20-19-...-1: min label must walk the full diameter.
    val chain = (1L until 20L).map(i => (i, i + 1))
    val got = cc(chain, (1L to 20L))
    assert(got.values.forall(_ == 1L), s"all chain nodes reach min 1: $got")
  }

  test("a bound too small for the chain throws by name instead of splitting it") {
    // Path 1..20 takes 19 relabeling rounds plus one that changes
    // nothing: 20 rounds converge, 19 must refuse to return labels.
    val chain = (1L until 20L).map(i => (i, i + 1))
    assert(Components.connectedComponents(chain.toDF("a", "b"),
      (1L to 20L).toDF("id"), maxIter = 20).count() == 20L)
    val e = intercept[IllegalStateException] {
      Components.connectedComponents(chain.toDF("a", "b"),
        (1L to 20L).toDF("id"), maxIter = 19)
    }
    assert(e.getMessage.contains("connectedComponents") &&
      e.getMessage.contains("19 rounds"), e.getMessage)
  }

  test("a cycle plus a pendant edge forms one component") {
    val got = cc(Seq((2L, 3L), (3L, 4L), (4L, 2L), (4L, 9L)), Seq(2L, 3L, 4L, 9L))
    assert(got.values.toSet == Set(2L))
  }

  test("dedupComponents groups transitive near-dup docs over real text") {
    // b carries two disjoint 9-token runs; a holds only the x-run and
    // c only the y-run. |sa| = |sc| = 7, |sb| = 16 (7+7+2 bridges):
    // J(a,b) = J(b,c) = 7/16 = 0.4375 >= t=0.4 but J(a,c) = 0 — the
    // closure must still unify all three.
    val a = "x1 x2 x3 x4 x5 x6 x7 x8 x9"
    val b = "x1 x2 x3 x4 x5 x6 x7 x8 x9 y1 y2 y3 y4 y5 y6 y7 y8 y9"
    val c = "y1 y2 y3 y4 y5 y6 y7 y8 y9"
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, "totally different text here"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.jaccardPairsOf(docs, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)),
      s"precondition: chain without the transitive pair, got $pairs")
    val comp = Components.dedupComponentsOf(docs, 0.4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("cascade closure equals the raw closure on a corpus with exact twins") {
    // Exact twins everywhere the propagation logic could slip: a twin
    // of the chain's MIN-id member (5 copies doc 1), a twin of an
    // interior member, a twin of a singleton, and twins whose ids
    // interleave other clusters' ids.
    val a = "x1 x2 x3 x4 x5 x6 x7 x8 x9"
    val b = "x1 x2 x3 x4 x5 x6 x7 x8 x9 y1 y2 y3 y4 y5 y6 y7 y8 y9"
    val c = "y1 y2 y3 y4 y5 y6 y7 y8 y9"
    val docs = Seq(
      1L -> a, 2L -> b, 3L -> c, 4L -> "totally different text here",
      5L -> a, 6L -> a, 7L -> c, 8L -> "totally different text here",
      9L -> a, 10L -> "another lonely string").toDF("doc_id", "text")
    val raw = Components.dedupComponentsOf(docs, 0.4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cascade = Components.dedupComponentsCascadeOf(docs, 0.4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cascade == raw, s"cascade $cascade vs raw $raw")
    // and the expected shape: one big near-dup cluster + the exact
    // pair of 'different text' docs + the singleton.
    assert(raw == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 6L -> 1L,
      7L -> 1L, 9L -> 1L, 4L -> 4L, 8L -> 4L, 10L -> 10L))
  }

  test("dedupQualityBias splits kept vs removed on the closure's min-id keep rule") {
    // One 2-doc near-dup cluster (1 kept, 2 removed) + a singleton,
    // all in one source: n_kept = 2 of 3, removed tokens = doc 2's.
    val a = "x1 x2 x3 x4 x5 x6 x7 x8 x9"
    val docs = Seq((1L, a, "s0"), (2L, a, "s0"),
      (3L, "totally different text here", "s0"))
      .toDF("doc_id", "text", "source")
    val Array(r) = Components.dedupQualityBiasOf(docs, 0.5).collect()
    assert(r.getString(0) == "s0")
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L && r.getLong(3) == 1L,
      s"3 docs, keep {1, 3}, remove {2}: $r")
    // docs 1 and 2 are byte-identical, so the removed-side mean
    // quality equals doc 1's (= doc 2's) exact score.
    val q12 = r.getDouble(5)
    assert(!r.isNullAt(4) && q12 > 0.0 && q12 <= 1.0)
    assert(r.getLong(6) == 9L, s"doc 2's nine tokens are the removed mass: $r")
    assert(r.getLong(7) == (9L * 1000000L) / 22L,
      s"ppm over the 22 total tokens (9 + 9 + 4): $r")
    // no removals at a high threshold -> NULL removed-side mean
    val Array(r2) = Components.dedupQualityBiasOf(
      Seq((1L, a, "s0"), (2L, "totally different text here", "s0"))
        .toDF("doc_id", "text", "source"), 0.99).collect()
    assert(r2.getLong(3) == 0L && r2.isNullAt(5) && r2.getLong(6) == 0L)
  }

  test("pickRepresentatives keeps the best-quality member, ties to the lowest id") {
    import spark.implicits._
    val components = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (4L, 4L), (5L, 4L),           // cluster 4: quality tie
      (6L, 6L))                     // singleton
      .toDF("doc_id", "component")
    val quality = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),
      (4L, 0.7), (5L, 0.7),
      (6L, 0.1)).toDF("doc_id", "quality")
    val out = Components.pickRepresentativesOf(components, quality).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out(1L) == ((2L, 0.9, 3L)), "highest quality wins, not lowest id")
    assert(out(4L) == ((4L, 0.7, 2L)), "quality tie breaks to the lowest id")
    assert(out(6L) == ((6L, 0.1, 1L)))
  }

  test("pickRepresentatives survives partially- and un-scored components") {
    import spark.implicits._
    val components = Seq(
      (1L, 1L), (2L, 1L), // member 1 unscored, member 2 scored
      (3L, 3L), (4L, 3L)) // nobody scored — cluster must still keep one
      .toDF("doc_id", "component")
    val quality = Seq((2L, 0.4)).toDF("doc_id", "quality")
    val out = Components.pickRepresentativesOf(components, quality).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getLong(3))).toMap
    assert(out(1L) == ((2L, Some(0.4), 2L)), "scored member beats unscored; n counts BOTH")
    assert(out(3L) == ((3L, None, 2L)), "fully-unscored cluster keeps its lowest id, NULL quality")
  }

  test("component size distribution: twins, a chained triple, and singles histogram correctly") {
    // docs 1,2 identical (size-2); 3~4~5 chained near-dups (size-3 via
    // closure); 6,7 unique singles
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val alt = (1 to 22).map(i => s"w$i").mkString(" ")   // J(base,alt) high
    val alt2 = (3 to 24).map(i => s"w$i").mkString(" ")  // chains via base
    val docs = Seq(
      1L -> base, 2L -> base,
      3L -> base, 4L -> alt, 5L -> alt2,
      6L -> "completely different text one",
      7L -> "another unrelated document here")
      .toDF("doc_id", "text")
    val out = Components.componentSizeDistOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // 1,2,3 identical + 4,5 chained onto 3 → one size-5 component;
    // 6 and 7 are singletons
    assert(out(1L) == ((2L, 2L, 0L)), s"two singles, nothing removable: $out")
    assert(out(5L) == ((1L, 5L, 4L)), s"one 5-cluster, 4 removable: $out")
    assert(out.keySet == Set(1L, 5L), s"got $out")
  }

  test("cross-source dup share: within-source twins vs a cross-source leak, hand ppm") {
    import spark.implicits._
    val t1 = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    val t2 = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"
    val docs = Seq(
      (1L, t1, "src1"), (2L, t1, "src1"),           // within-source twin
      (3L, t2, "src1"), (4L, t2, "src2"),           // cross-source leak
      (5L, "totally different words here entirely now", "src2"))
      .toDF("doc_id", "text", "source")
    val r = Components.crossSourceDupShareOf(docs).collect().head
    // components {1,2}, {3,4}, {5}: 2 dup comps, 1 cross, 2 docs in it
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 2L, 1L, 2L)), s"$r")
    assert(r.getLong(4) == 500000L, s"half the dup mass crosses: $r")
  }
}
