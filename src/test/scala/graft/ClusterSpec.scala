package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cluster

class ClusterSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("label centroids: identical members cohere at 1.0, orthogonal at ~0.71") {
    val emb = Seq(
      (1L, 0, Array(1f, 0f, 0f, 0f)),
      (2L, 0, Array(2f, 0f, 0f, 0f)), // same direction → cos 1 to centroid
      (3L, 1, Array(1f, 0f, 0f, 0f)),
      (4L, 1, Array(0f, 1f, 0f, 0f))) // orthogonal pair → cos 1/√2 each
      .toDF("vec_id", "label", "embedding")
    val out = Cluster.labelCentroidsOf(emb).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(0) == ((2L, 1.0, 1.0)))
    assert(out(1)._1 == 2L)
    assert(out(1)._2 == 0.7071) // avg over quantized sums, floor-form 4 dp
    assert(out(1)._3 == 0.707107) // min of 6-dp rounded member cosines
  }

  test("label centroids: a singleton label coheres perfectly with itself") {
    val emb = Seq((1L, 7, Array(0.3f, -0.2f, 0.9f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
    val out = Cluster.labelCentroidsOf(emb).collect().head
    assert(out.getLong(1) == 1L)
    // centroid = the vector itself up to 1e-6 quantization → cos ≈ 1
    assert(out.getDouble(2) >= 0.9999)
  }

  test("semdedup drops the larger id of a same-cell near-dup pair, keeps the rest") {
    // seeds (k=2) are vecs 0 and 1 on orthogonal axes; 5 and 9 are
    // near-copies of 0's direction (same cell), 7 sits alone with 1.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (5L, Array(0.99f, 0.01f, 0f, 0f)),
      (9L, Array(0.98f, 0.02f, 0f, 0f)),
      (7L, Array(0.4f, 0.8f, 0f, 0f))) // cos to (0,1) = 0.894 < 0.95
      .map { case (id, e) => (id, e, 0) }
      .toDF("vec_id", "embedding", "label")
    val out = Cluster.semDedupOf(emb, tau = 0.95, k = 2).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(3),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(0L) == ((true, -1L)), "smallest id always survives")
    assert(out(5L) == ((false, 0L)))
    assert(out(9L) == ((false, 0L)), "dup_of is the SMALLEST matching neighbor")
    assert(out(1L) == ((true, -1L)))
    assert(out(7L)._1, "7 matches nothing at 0.95 in its own cell")
  }
  test("centroid outliers flag the inverted member, spare the noisy-but-normal ones") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextGaussian())
    // 7 noisy copies of the base direction (MAD > 0), one inverted vector
    val members = (0L until 7L).map { i =>
      (i, base.map(v => v + rnd.nextGaussian() * 0.05), 0)
    } :+ ((99L, base.map(-_), 0))
    val out = Cluster.centroidOutliersOf(members.toDF("vec_id", "embedding", "label"))
      .collect().map(_.getLong(0)).toSet
    assert(out.contains(99L), "the inverted member must flag")
    assert(!out.exists(_ < 7L), s"noisy-but-aligned members must not flag: $out")
  }

  test("centroid outliers: a zero-MAD label flags nothing") {
    import spark.implicits._
    val v = Array.fill(64)(1.0)
    // two identical members: median = cosine of both, MAD = 0
    val out = Cluster.centroidOutliersOf(
      Seq((0L, v, 1), (1L, v.clone, 1)).toDF("vec_id", "embedding", "label"))
    assert(out.count() == 0L)
  }

  test("silhouette: two tight orthogonal clusters score a perfect 1.0") {
    import spark.implicits._
    // seeds 0 and 1 on orthogonal axes, one twin each: a = 1-1 = 0 to
    // the own centroid, b = 1-0 = 1 to the other → s = 1 everywhere
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)), (3L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Cluster.silhouetteOf(emb, k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(out == Map(0L -> ((2L, 1.0, 1.0)), 1L -> ((2L, 1.0, 1.0))), s"got $out")
  }

  test("silhouette: coincident centroids hit the max(a,b)=0 convention → s = 0") {
    import spark.implicits._
    // both seeds (and so both centroids) are the same direction: every
    // vector scores cos 1 on both → a = b = 0 → s = 0 by convention,
    // and the (cs DESC, c_id) tiebreak assigns everything to cell 0
    val emb = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Cluster.silhouetteOf(emb, k = 2, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((0L, 3L, 0.0)), s"got $out")
  }

  test("centroid separation: orthogonal cells read 0, collapsed cells read 1") {
    import spark.implicits._
    val ortho = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)), (3L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val sep = Cluster.centroidSeparationOf(ortho, k = 2, iters = 2).collect()
    assert(sep.length == 1 &&
      sep.head.getLong(0) == 0L && sep.head.getLong(1) == 1L &&
      sep.head.getDouble(2) == 0.0, s"got ${sep.toSeq}")
    // both seeds on one direction → the k=2 geometry is degenerate
    // and separation reads ~1 — the merge-your-cells signal
    val collapsed = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.01f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val sep2 = Cluster.centroidSeparationOf(collapsed, k = 2, iters = 1).collect()
    assert(sep2.length == 1 && sep2.head.getDouble(2) == 1.0, s"got ${sep2.toSeq}")
  }

  test("cluster topics: each cell's planted vocabulary surfaces as its top term") {
    // Two clean directions (k = 2 seeds = vec_id 0, 1); docs carry
    // disjoint content words over a shared stopword bed.
    val emb = Seq(
      (0L, 0, Array(1f, 0f, 0f, 0f)), (1L, 0, Array(0f, 1f, 0f, 0f)),
      (2L, 0, Array(0.9f, 0.1f, 0f, 0f)), (3L, 0, Array(0.1f, 0.9f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val docs = Seq(
      (0L, "apple apple apple the the", "s"),
      (2L, "apple apple apple the the", "s"),
      (1L, "banana banana banana the the", "s"),
      (3L, "banana banana banana the the", "s"))
      .toDF("doc_id", "text", "source")
    val out = Cluster.clusterTopicsOf(emb, docs, k = 2, iters = 2)
      .collect().filter(_.getInt(4) == 1)
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(0L -> "apple", 1L -> "banana"),
      s"planted topics must win rank 1: $out")
  }

  test("embedding drift: identical vintages read 1, flipped vintages read -1, half-less labels drop") {
    import spark.implicits._
    def v(x: Double) = Array.tabulate(64)(d => (x * (d + 1)).toFloat / 64f)
    val emb = Seq(
      // label A: even and odd ids carry the SAME vector → drift 1
      (0L, "A", v(1.0)), (1L, "A", v(1.0)),
      (2L, "A", v(1.0)), (3L, "A", v(1.0)),
      // label B: odd (new) half is the NEGATED vector → drift -1
      (10L, "B", v(2.0)), (11L, "B", v(-2.0)),
      // label C: only an even-half member → no comparison possible
      (20L, "C", v(3.0)))
      .map { case (id, l, e) => (id, e, l) }
      .toDF("vec_id", "embedding", "label")
    val out = graft.operators.Cluster.embeddingDriftOf(emb).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set("A", "B"), s"label C lacks a vintage: $out")
    assert(out("A") == ((2L, 2L, 1.0)))
    assert(out("B") == ((1L, 1L, -1.0)))
  }

  test("k-center greedy: orthogonal spread beats near-duplicates, radius curve non-increasing") {
    import spark.implicits._
    // Three orthogonal directions + near-twins of the seed direction.
    // Greedy MUST pick the three orthogonals (cos distance 1e6) before
    // any near-twin of an already-selected center.
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.999f, 0.01f, 0f, 0f)),  // near-twin of 0
      (2L, Array(0.998f, 0.02f, 0f, 0f)),  // near-twin of 0
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f)),
      (5L, Array(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Cluster.kCenterSelectOf(vecs, k = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
    assert(got.map(_._2).toSeq == Seq(0L, 3L, 4L, 5L),
      s"seed = min id, then the three orthogonals (ties to smaller id): ${got.toSeq}")
    assert(got.head._3 == -1.0, "seed has no radius")
    val radii = got.tail.map(_._3)
    assert(radii.forall(_ == 1.0), s"orthogonal picks all at distance 1: $radii")
    // One more round would pick a near-twin at a TINY radius — the
    // curve's knee. k = 5:
    val got5 = graft.operators.Cluster.kCenterSelectOf(vecs, k = 5).collect()
    val last = got5.last
    assert(last.getLong(1) == 1L || last.getLong(1) == 2L)
    assert(last.getDouble(2) < 0.01,
      s"the 5th pick is a near-twin at near-zero radius: $last")
    // monotone non-increasing radius curve
    val curve = got5.drop(1).map(_.getDouble(2))
    assert(curve.zip(curve.tail).forall { case (a, b) => a >= b }, curve.toSeq.toString)
  }

  test("davies-bouldin: orthogonal zero-scatter clusters score 0; a boundary point raises exactly one term") {
    import spark.implicits._
    // k=2, iters=1 → centroids are the seeds (0,1). Clusters are
    // exact duplicates of their seed → scatter 0, M = 1 − 0 = 1,
    // every term (0+0)/1 = 0.
    val clean = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Cluster.daviesBouldinOf(clean, k = 2, iters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == Seq((0L, 2L, 0.0, 1L, 0.0), (1L, 2L, 0.0, 0L, 0.0)),
      s"got ${got.toSeq}")
    // add a 45° point: cs ties at 0.707107 on both seeds → c_id
    // tiebreak assigns cluster 0; its scatter and BOTH db terms move
    // (the term is symmetric in S_i + S_j), cluster 1's scatter not.
    val skew = clean.unionAll(
      Seq((4L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding"))
    val g2 = Cluster.daviesBouldinOf(skew, k = 2, iters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
    // expected with the operator's own double sequence
    val sq = math.floor((1.0 - 0.707107) * 1e6 + 0.5).toLong
    val s0 = sq.toDouble / 1e6 / 3.0
    def f4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def f6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val term = f6((s0 + 0.0) / 1.0)
    assert(g2.toSeq == Seq((0L, 3L, f4(s0), 1L, term),
      (1L, 2L, 0.0, 0L, term)), s"got ${g2.toSeq}")
  }

  test("isotropy: a collapsed space reads 1.0 everywhere; an orthogonal pair reads 1/sqrt(2)") {
    import spark.implicits._
    def f6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val collapsed = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Cluster.isotropyAuditOf(collapsed).collect().head
    assert((c.getLong(0), c.getLong(1)) == ((3L, 3L)), s"$c")
    assert(c.getDouble(2) == 1.0 && c.getDouble(3) == 1.0 &&
      c.getLong(4) == 0L, s"$c")
    assert(c.getDouble(5) == 1.0 && c.getDouble(6) == 1.0 &&
      c.getDouble(7) == 1.0, s"collapsed: anisotropy 1: $c")
    val ortho = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val o = Cluster.isotropyAuditOf(ortho).collect().head
    // μ = (.5, .5): cos to both = 1/sqrt(2) → 0.707107 at 6 dp
    val cs = math.floor(0.5 / (math.sqrt(0.5)) * 1e6 + 0.5) / 1e6
    assert(o.getDouble(2) == math.floor(cs * 1e4 + 0.5) / 1e4, s"$o")
    val muSq = 2L * math.floor(0.25 * 1e9 + 0.5).toLong
    assert(o.getDouble(6) == f6(math.sqrt(muSq / 1e9)), s"$o")
    assert(o.getDouble(7) == f6(math.sqrt(muSq / 1e9) / 1.0), s"$o")
    assert(o.getLong(4) == 0L && o.getDouble(5) == 1.0, s"$o")
  }

  test("hubness: planted angular cluster reads hand-counted in-degrees; a singleton cell is all antihub") {
    import spark.implicits._
    def at(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // k=2, iters=1 → cells are the seed directions (0°, 90°). Cell 0:
    // five points at 0/10/21/33/44° (all pairwise gaps distinct, ≥1°
    // apart — no 6-dp cosine ties). Cell 1: the seed alone.
    val vecs = Seq(0L -> at(0), 1L -> at(90), 2L -> at(10), 3L -> at(21),
      4L -> at(33), 5L -> at(44)).map { case (i, v) => (i, v) }
      .toDF("vec_id", "embedding")
    // 3-NN by angular gap: 0→{2,3,4}, 2→{0,3,4}, 3→{2,4,0},
    // 4→{3,5,2}, 5→{4,3,2} → in-degrees 0:2, 2:4, 3:4, 4:4, 5:1.
    val g3 = Cluster.hubnessAuditOf(vecs, k = 2, iters = 1, nn = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(g3(0L) == ((5L, 4L, 0L, 0L)), s"cell 0: ${g3(0L)}")
    assert(g3(1L) == ((1L, 0L, 1000000L, 0L)), s"singleton: ${g3(1L)}")
    // nn=1: 0→2, 2→0, 3→2, 4→5, 5→4 → in-degrees 0:1, 2:2, 3:0,
    // 4:1, 5:1 → one hub (2, indeg ≥ 2), one antihub (3).
    val g1 = Cluster.hubnessAuditOf(vecs, k = 2, iters = 1, nn = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(g1(0L) == ((5L, 2L, 200000L, 200000L)), s"cell 0: ${g1(0L)}")
  }

  test("cluster stability: blob-respecting seed sets read ARI 1; same-blob seeds read the hand ARI 0") {
    import spark.implicits._
    // stable: A seeds (0, 1) and B seeds (2, 3) each straddle the two
    // orthogonal blobs → identical partitions → rand = ari = 1.
    val stable = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.995f, 0.1f)), (3L, Array(0.1f, 0.995f)),
      (4L, Array(0.99f, 0.05f)), (5L, Array(0.05f, 0.99f)))
      .toDF("vec_id", "embedding")
    val s = Cluster.clusterStabilityAriOf(stable, k = 2, iters = 1)
      .collect().head
    assert((s.getLong(0), s.getLong(1), s.getLong(2)) == ((6L, 2L, 2L)), s"$s")
    assert(s.getDouble(3) == 1.0 && s.getDouble(4) == 1.0, s"$s")
    // unstable: B's seeds (2, 3) BOTH sit in the X blob → partition B
    // splits X and swallows Y. Hand contingency: A = {0,2,3}/{1,4,5},
    // B = {0,1,2,4,5}/{3} → sij=4, sa=6, sb=10, T=15 →
    // rand = 1 − 8/15, ari = (120−120)/(240−120) = 0 exactly.
    val unstable = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.995f, 0.1f)), (3L, Array(0.995f, -0.1f)),
      (4L, Array(0.1f, 0.995f)), (5L, Array(-0.1f, 0.995f)))
      .toDF("vec_id", "embedding")
    val u = Cluster.clusterStabilityAriOf(unstable, k = 2, iters = 1)
      .collect().head
    assert(u.getDouble(3) == math.floor(7.0 / 15.0 * 1e6 + 0.5) / 1e6,
      s"rand 7/15: $u")
    assert(u.getDouble(4) == 0.0, s"ari exactly 0: $u")
  }

  test("mutual knn rate: hand reciprocity on the angular cluster; edge-free singleton absent") {
    import spark.implicits._
    def at(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val vecs = Seq(0L -> at(0), 1L -> at(90), 2L -> at(10), 3L -> at(21),
      4L -> at(33), 5L -> at(44)).map { case (i, v) => (i, v) }
      .toDF("vec_id", "embedding")
    // nn=1 edges 0→2, 2→0, 3→2, 4→5, 5→4: mutual {0,2}, {4,5} →
    // 2·2e6 div 5 = 800000.
    val g1 = Cluster.mutualKnnRateOf(vecs, k = 2, iters = 1, nn = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(g1(0L) == ((5L, 2L, 800000L)), s"${g1(0L)}")
    assert(!g1.contains(1L), s"singleton cell has no edges: $g1")
    // nn=3: 15 edges, mutual pairs {0,2},{0,3},{2,3},{2,4},{3,4},{4,5}
    val g3 = Cluster.mutualKnnRateOf(vecs, k = 2, iters = 1, nn = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(g3(0L) == ((15L, 6L, 800000L)), s"${g3(0L)}")
  }

  test("cluster purity: mixed cell reads hand purity/gini; pure singleton reads 1/0") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.0f, 1.0f), 1),
      (2L, Array(1.0f, 0.1f), 0), (3L, Array(1.0f, 0.2f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Cluster.clusterPurityOf(vecs, k = 2, iters = 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // cell 0 = {0,2,3}: labels 0,0,1 → purity 2/3, gini (9−5)/9
    assert(got(0L) == ((3L, 2L, 0L, 666666L, 444444L)), s"${got(0L)}")
    assert(got(1L) == ((1L, 1L, 1L, 1000000L, 0L)), s"${got(1L)}")
  }

  test("kmeansEmbedOf: the second Lloyd step moves the one vector its recentred cell wins") {
    // Seeds are vecs 0 (x axis) and 1 (y axis). The first assignment
    // puts vec 2 = (1, 0.9) with seed 0 (cos 0.743294 vs 0.669). The
    // recentred cells are (1, 0.45) and (0.675, 1.025), and vec 2 then
    // sits closer to cell 1 (0.9675 vs 0.9525); no other vector moves.
    val emb = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (2L, Array(1.0, 0.9)),
      (3L, Array(0.8, 1.0)), (4L, Array(1.0, 1.1)), (5L, Array(0.9, 1.0)))
      .toDF("vec_id", "embedding")
    def run(iters: Int) = Cluster.kmeansEmbedOf(emb, k = 2, iters = iters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val one = run(1)
    val two = run(2)
    assert(one.map { case (v, (c, _)) => v -> c } ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L), s"$one")
    assert(one(2L)._2 == 0.743294, s"${one(2L)}")
    assert(two.map { case (v, (c, _)) => v -> c } ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L), s"$two")
  }
}
