package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorF
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def embeddings = Tables.embeddings(spark, Sf)

  test("codegen CosineSimilarity agrees with the HOF cross-check on real embeddings") {
    val e = Tables.embeddings(spark, Sf).limit(50)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id")).limit(200)
    val diffs = pairs.select(
      abs(VectorF.cosineSim(col("a"), col("b")) -
        VectorF.cosineSimHof(col("a"), col("b"))).as("d"))
      .agg(max("d")).as[Double].head()
    assert(diffs < 1e-9, s"codegen vs HOF max diff $diffs")
  }

  test("CosineSimilarity: identical vectors score 1, orthogonal 0, zero-norm NULL") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      (Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0))
    ).toDF("a", "b").select(VectorF.cosineSim(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(rows(1).getDouble(0)) < 1e-12)
    assert(rows(2).isNullAt(0))
  }

  test("knnTopk returns exactly k ranked neighbors per query, scores non-increasing") {
    val out = Similarity.knnTopkOf(embeddings).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == Similarity.QuerySetSize)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == Similarity.TopK, s"query $q row count")
      val scores = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y },
        s"query $q scores not non-increasing")
      assert(rows.forall(r => r.getLong(1) != q), "self-match leaked")
    }
  }

  test("knnTopkOf: neighbors whose rounded scores tie rank by smaller n_id and cut at exactly k") {
    // Query 0 points along x; queries 1..7 point along y (score 0 to it).
    // Ids 8..22 lean 1e-4 off x: raw cosine 1 - 5e-9, rounded 1.0, so
    // all fifteen tie. Id 23 lies exactly on x, a raw cosine of 1.0 that
    // the tie hides: the cut must keep ids 8..17 and drop 18..23.
    val rows = (0L, Array(1f, 0f)) +: ((1L to 7L).map(i => (i, Array(0f, 1f))) ++
      (8L to 22L).map(i => (i, Array(1f, 1e-4f))) :+ (23L, Array(1f, 0f)))
    val out = Similarity.knnTopkOf(rows.toDF("vec_id", "embedding"))
      .filter(col("q_id") === 0L).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.length == Similarity.TopK, s"cut at k: ${out.mkString(";")}")
    assert(out.forall(_._2 == 1.0), s"every kept score is the tied 1.0: ${out.mkString(";")}")
    assert(out.sortBy(_._3).map(_._1).toSeq == (8L to 17L),
      s"ties rank by smaller n_id: ${out.mkString(";")}")
  }

  test("cosinePlanesFor keeps bucket occupancy flat as the corpus grows") {
    // verification-scale corpora stay on the historical 32-bucket table
    assert(Similarity.cosinePlanesFor(500) == 5)
    assert(Similarity.cosinePlanesFor(2000) == 5)
    // growth: occupancy n/2^planes stays within (targetBucket/4, targetBucket]
    for (n <- Seq(1e5, 1e6, 1e7, 1e9).map(_.toLong)) {
      val p = Similarity.cosinePlanesFor(n)
      val occupancy = n.toDouble / (1L << p)
      assert(occupancy <= 64.0 + 1e-9, s"n=$n planes=$p occupancy=$occupancy")
      assert(occupancy > 16.0, s"n=$n planes=$p over-partitioned")
    }
    assert(Similarity.cosinePlanesFor(Long.MaxValue) == 24, "probe fan-out capped")
  }

  test("dedupCosineOf finds an exact duplicate as nearest neighbor through multiprobe") {
    // 60 well-spread random vectors plus one exact copy of vector 0:
    // whatever bucket the pair lands in, they land in it TOGETHER, so
    // the LSH path must report each as the other's nearest neighbor
    // with cosine 1 — the invariant banding cannot break.
    val rnd = new scala.util.Random(7)
    val base = (0L until 60L).map(i => (i, Array.fill(64)(rnd.nextGaussian())))
    val rows = base :+ (999L, base.head._2.clone)
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.dedupCosineOf(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(0L)._1 == 999L && out(0L)._2 == 1.0)
    assert(out(999L)._1 == 0L && out(999L)._2 == 1.0)
    assert(out.size == rows.size, "one NN row per vector")
  }

  test("annIvf returns ranked per-query results whose scores the brute-force path confirms") {
    val ivf = Similarity.annIvfOf(embeddings).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(ivf.nonEmpty)
    val exactScores = Similarity.knnTopkOf(embeddings)
      .select("q_id", "n_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Every IVF hit that brute-force also ranked must carry the same score
    ivf.foreach { case (q, n, s, _) =>
      exactScores.get((q, n)).foreach(es => assert(math.abs(s - es) < 1e-9)) }
    // per-query: ranks contiguous from 1, scores non-increasing
    ivf.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length).toSeq, s"ranks for $q")
      val sc = sorted.map(_._3)
      assert(sc.zip(sc.tail).forall { case (x, y) => x >= y }, s"scores for $q") }
    val recall = ivf.map(t => (t._1, t._2)).count(p => exactScores.contains(p)).toDouble / exactScores.size
    assert(recall > 0.05, s"IVF recall $recall vs brute force")
  }

  test("annLsh scores are exact for the pairs it returns, with nonzero recall vs brute force") {
    val ann = Similarity.annLshOf(embeddings)
      .select("q_id", "n_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ann.nonEmpty)
    // exact-score check: recompute each returned pair's cosine directly
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    ann.foreach { case ((q, n), s) =>
      assert(math.abs(s - BigDecimal(cos(e(q), e(n))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6,
        s"pair ($q,$n) score mismatch")
    }
    // recall floor: every ANN hit must be a real neighbor; overlap with
    // exact top-k should be well above zero even with 6 planes
    val exact = Similarity.knnTopkOf(embeddings).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ann.keySet.count(exact.contains).toDouble / exact.size
    assert(recall > 0.05, s"ANN recall $recall vs brute force")
  }

  test("annHamming: identical signs rank first at distance 0, negated signs at 64") {
    // q (id 0) duplicates id 10's sign pattern; id 11 negates every dim
    val base = (1 to 64).map(i => if (i % 3 == 0) 0.5f else -0.25f).toArray
    val rows = Seq(
      (0L, base), (10L, base.map(x => x * 2)), (11L, base.map(x => -x)),
      (12L, base.updated(0, -base(0)))) // one sign flip → distance 1
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.annHammingOf(emb, k = 3).collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    // neighbors of q=0 ranked: id 10 (0 bits), id 12 (1 bit), id 11 (64 bits)
    assert(out.toSeq == Seq((10L, 0, 1), (12L, 1, 2), (11L, 64, 3)))
  }

  test("annHamming: a strict-zero coordinate packs as 0 on both sides of the compare") {
    // all-zero vector → code 0; the all-negative vector also packs 0 →
    // hamming 0 between them (sign-bit quantization is deliberately
    // insensitive to x <= 0; document the contract)
    val emb = Seq(
      (0L, Array.fill(64)(0f)),
      (20L, Array.fill(64)(-1f)),
      (21L, Array.fill(64)(1f))).toDF("vec_id", "embedding")
    val out = Similarity.annHammingOf(emb, k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((20L, 0), (21L, 64)))
  }

  test("hard mining picks the most distant in-class and most similar out-of-class") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 1),    // query, label 1
      (1L, Array(0.9f, 0.1f), 1),    // easy positive
      (2L, Array(0.0f, 1.0f), 1),    // HARDEST positive (orthogonal, same label)
      (3L, Array(0.95f, 0.05f), 2),  // HARDEST negative (confusable, other label)
      (4L, Array(-1.0f, 0.0f), 2))   // easy negative
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardMiningOf(embs, queries = 1).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 0L && r.getLong(2) == 2L && r.getLong(4) == 3L,
      s"expected pos=2 (orthogonal in-class), neg=3 (confusable out-of-class), got $r")
    assert(r.getDouble(3) == 0.0, "hardest positive cosine is 0 for orthogonal vectors")
  }

  test("hard mining drops a query with no out-of-class counterpart") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.5f, 0.5f), 1)) // only same-label neighbors exist
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.hardMiningOf(embs, queries = 1).isEmpty,
      "a NULL hardest pair is not a training triplet")
  }

  test("knn classify votes the majority label and reports per-label accuracy") {
    // Query 0 (label 1): 3 close label-1 neighbors vs 2 label-2 → correct.
    // Query 1 (label 2): its 5 nearest are the label-1 cluster → wrong.
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.9f, 0.1f, 0.0f), 2),
      (2L, Array(0.99f, 0.01f, 0.0f), 1),
      (3L, Array(0.98f, 0.02f, 0.0f), 1),
      (4L, Array(0.97f, 0.03f, 0.0f), 1),
      (5L, Array(0.5f, 0.5f, 0.0f), 2),
      (6L, Array(0.4f, 0.6f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassifyOf(embs, queries = 2, k = 5).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1) == ((1L, 1L, 1.0)))
    assert(out(2) == ((1L, 0L, 0.0)))
  }

  test("knn classify breaks vote ties on the smallest label") {
    // k=4: two label-1 and two label-3 neighbors, all equidistant-ish
    // → tie 2-2 resolves to label 1.
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 3),
      (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(0.9f, -0.1f), 1),
      (3L, Array(0.8f, 0.2f), 3),
      (4L, Array(0.8f, -0.2f), 3))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassifyOf(embs, queries = 1, k = 4).collect()
    // one query with true label 3, predicted 1 → accuracy 0
    assert(out.length == 1)
    assert(out.head.getInt(0) == 3 && out.head.getDouble(3) == 0.0)
  }

  test("mrr: identical same-label twins rank first; interlopers push the rank") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 7),   // twins → first match at rank 1
      (1L, Array(1.0f, 0.0f), 7),
      (2L, Array(0.0f, 1.0f), 3),   // orthogonal twins, also rank 1
      (3L, Array(0.0f, 1.0f), 3),
      (4L, Array(1.0f, 0.0f), 9),   // q4: v0,v1 (cos 1) outrank v5 → rank 3
      (5L, Array(0.5f, 0.5f), 9))   // q5: all four axis vecs tie at cos
                                    // .7071, id order → v4 at rank 5
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.mrrEvalOf(embs, queries = 6).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(7) == ((2L, 1.0, 1.0, 1.0)))
    assert(out(3) == ((2L, 1.0, 1.0, 1.0)))
    // (⌊1e6/3+.5⌋ + ⌊1e6/5+.5⌋) / 2 / 1e6 = (333333 + 200000) / 2e6
    assert(out(9) == ((2L, 0.266667, 0.0, 1.0)), s"got ${out(9)}")
  }

  test("mmr picks the diverse candidate over an exact duplicate at rank 2") {
    // Query [1,1,0]: candidates 1 and 2 are identical, 3 is orthogonal
    // to them with the SAME relevance. Pure kNN would rank (1, 2, 3)
    // by id-tiebreak; MMR must demote the duplicate to rank 3.
    val embs = Seq(
      (0L, Array(1.0f, 1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerankOf(embs, queries = 1, pool = 3, k = 3)
      .collect().map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(4)))
      .toMap
    assert(out(1)._1 == 1L && out(2)._1 == 3L && out(3)._1 == 2L,
      s"expected selection order 1, 3, 2 — got $out")
    // rank 1 carries pure λ·relevance: 7·⌊cos·1e6+½⌋/1e7 = 7·707107/1e7
    assert(out(1)._2 == 0.4949749)
    // the duplicate's final score is 7·rel − 3·1e6 (sim 1.0 to rank 1)
    assert(out(3)._2 == 0.1949749)
  }

  test("ndcg: rank-1 hit scores 1.0; a rank-3 hit scores w3/w1 = 0.5") {
    // Query 0 (label 1): two closer label-2 vectors, the only relevant
    // one lands at rank 3 → DCG = ⌊1e6/log2(4)⌋ = 500000, IDCG = w1.
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(1.0f, 0.0f), 2),
      (2L, Array(1.0f, 0.0f), 2),
      (3L, Array(0.5f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.ndcgEvalOf(embs, queries = 1).collect()
    assert(out.length == 1)
    assert(out.head.getInt(0) == 1 && out.head.getLong(1) == 1L &&
      out.head.getDouble(2) == 0.5, s"got ${out.toSeq}")

    // Identical twin at rank 1 → perfect 1.0.
    val twins = Seq(
      (0L, Array(1.0f, 0.0f), 7),
      (1L, Array(1.0f, 0.0f), 7),
      (2L, Array(0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.ndcgEvalOf(twins, queries = 1)
      .collect().head.getDouble(2) == 1.0)
  }

  test("ndcg discount table is the 1e6-scaled log2 ladder") {
    assert(Similarity.NdcgW6.head == 1000000L, "rank 1 discount is exactly 1")
    assert(Similarity.NdcgW6(1) == 630930L, "rank 2 = 1/log2(3)")
    assert(Similarity.NdcgW6(3) == 430677L, "rank 4 = 1/log2(5)")
    assert(Similarity.NdcgW6 == Similarity.NdcgW6.sorted.reverse)
  }

  test("mrr excludes a query whose label has no other member") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(0.0f, 1.0f), 5)) // lone label → no first match
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.mrrEvalOf(embs, queries = 3).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(1 -> 2L), "label 5 must drop out, not score 0")
  }

  test("MmrKernel.cos6 is bit-identical to the codegen cosine on real embeddings") {
    // The in-group greedy relies on this equality — a one-ulp drift
    // would silently desync the mmr_rerank oracle.
    val e = Tables.embeddings(spark, Sf).limit(40)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val viaExpr = e.select(col("vec_id").as("a_id"), col("emb").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("emb").as("b")))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        floor(VectorF.cosineSim(col("a"), col("b")) * 1e6 + 0.5)
          .cast("long").as("q6"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    viaExpr.foreach { case ((a, b), q) =>
      assert(graft.operators.MmrKernel.cos6(vecs(a), vecs(b)) == q,
        s"pair ($a,$b)")
    }
    assert(viaExpr.size == 40 * 39 / 2)
  }

  test("embedding norm stats: unit, zero, and scaled vectors report exact norms") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.0f, 0.0f), 1),   // degenerate zero vector surfaces as 0
      (2L, Array(3.0f, 4.0f), 2))   // 3-4-5: norm2 = 25
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingNormStatsOf(embs).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1) == ((2L, 0.0, 1.0, 0.5)), s"got $out")
    assert(out(2) == ((1L, 25.0, 25.0, 25.0)))
  }

  test("label noise flags a planted mislabel with its challenger, spares clean points") {
    // Four tight label-1 vectors, one of them mislabeled 2, plus a far
    // label-3 pair that agrees with itself.
    val embs = Seq(
      (0L, Array(1.0f, 0.00f), 1),
      (1L, Array(0.99f, 0.01f), 1),
      (2L, Array(0.98f, 0.02f), 1),
      (3L, Array(0.97f, 0.03f), 2),  // the planted noise
      (4L, Array(0.0f, 1.0f), 3),
      (5L, Array(0.01f, 1.0f), 3))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelNoiseOf(embs, k = 3, maxAgree = 0).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    assert(out.contains(3L), s"the mislabel must surface: $out")
    assert(out(3L) == ((2, 0L, 1)), "zero agreeing neighbors, challenger label 1")
    assert(!out.contains(0L) && !out.contains(4L),
      "points whose neighbors agree must not be flagged")
  }

  test("matryoshka energy: front-loaded vs flat vectors, zero pinned") {
    import spark.implicits._
    val front = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val flat = Array.fill(64)(1.0f)
    val zero = Array.fill(64)(0.0f)
    val embs = Seq((1L, front), (2L, flat), (3L, zero))
      .toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaEnergyOf(embs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // pooled at d=8: (1e9 + 8e9 + 0) / (1e9 + 64e9 + 0) = 9/65
    assert(out(8) == ((3L, 0.1385, 0.375)), s"got $out")
    // mean at d=8: (1.0 + 0.125 + 0.0)/3 = 0.375; d=64 saturates
    assert(out(64) == ((3L, 1.0, 0.6667)),
      "full prefix = total energy; zero vector contributes 0 to the mean")
    assert(out(16)._2 == 0.2615, "pooled (1+16)/65 at d=16")
  }

  test("hybridSearch: RRF fuses leg ranks, absent legs contribute zero") {
    val docs = Seq(
      (10L, "spark merge window spark"), // strongest sparse hit
      (11L, "spark merge"),
      (12L, "nothing relevant here"),
      (13L, "window")).toDF("doc_id", "text")
    val q = Array.tabulate(4)(i => if (i == 0) 1.0f else 0.0f)
    def v(x: Float*): Array[Float] = x.toArray
    val embs = Seq(
      (0L, q),                          // the query vector
      (10L, v(0f, 1f, 0f, 0f)),         // orthogonal → dense-weak
      (11L, v(0.9f, 0.1f, 0f, 0f)),     // dense #1
      (12L, v(0.5f, 0.5f, 0f, 0f)),     // dense #2, sparse-absent
      (13L, v(0f, 0f, 1f, 0f)))         // orthogonal
      .toDF("vec_id", "embedding")
    val out = Similarity.hybridSearchOf(docs, embs,
      Seq("spark", "merge", "window"), legK = 4, k = 4)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getDouble(3)))
    val byId = out.map(t => t._1 -> t).toMap
    // 11 is in both legs (sparse #2 or #3, dense #1) → must lead
    assert(out.head._1 == 11L, s"consensus doc must rank first, got ${out.toSeq}")
    // RRF arithmetic: doc 12 is dense-only rank 2 → 1/(60+2) rounded
    assert(byId(12L)._2.isEmpty && byId(12L)._3.contains(2))
    assert(byId(12L)._4 == math.floor(1.0 / 62.0 * 1e4 + 0.5) / 1e4,
      "absent sparse leg contributes exactly zero")
    // every fused score equals the recomputed reciprocal sum
    out.foreach { case (_, s, d, rrf) =>
      val expect = s.map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        d.map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      assert(rrf == math.floor(expect * 1e4 + 0.5) / 1e4)
    }
  }

  test("semDecontaminate: bench vectors excluded, flag fires exactly at the threshold") {
    def v(x: Float*): Array[Float] = x.toArray
    val embs = Seq(
      (0L, v(1f, 0f)),                 // bench (benchSize = 2)
      (1L, v(0f, 1f)),                 // bench
      (2L, v(1f, 0f)),                 // exact bench copy → sim 1.0
      (3L, v(1f, 1f)),                 // cos √2/2 ≈ 0.707107 to both
      (4L, v(-1f, -0.0001f)))          // anti-correlated → max ~0.0
      .toDF("vec_id", "embedding")
    val out = Similarity.semDecontaminateOf(embs, benchSize = 2, threshold = 0.707107)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(!out.contains(0L) && !out.contains(1L), "bench side never reports")
    assert(out(2L) == ((1.0, true)))
    assert(out(3L) == ((0.707107, true)), ">= is inclusive at the threshold")
    assert(!out(4L)._2, s"anti-correlated must not flag, got ${out(4L)}")
  }

  test("quantize recall: exactly-representable vectors rank identically at 100%") {
    // Components are multiples of maxabs/127, so round(x*127/maxabs)
    // reconstructs bit-exactly and both rankings coincide.
    val emb = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(4)(d =>
        (((i + d) % 5) - 2).toFloat * 0.5f))
    }.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.quantizeRecallOf(emb, k = 3)
      .collect()
    assert(out.length == 8, "one row per query")
    assert(out.forall(_.getLong(2) == 1000000L),
      s"lossless reconstruction keeps every neighbor: ${out.toSeq}")
  }

  test("rpRecall: identical twins survive any sign projection; sign matrix is balanced") {
    // Each query i (ids 0-7) has a byte-identical twin at id i+8 plus
    // md5-scrambled noise vectors: identical inputs project
    // identically (cosine 1 both spaces), so the twin sits at exact
    // rank 1 AND projected rank 1 -> every query keeps >= 1 overlap
    // whatever the signs do to the noise.
    def v(seed: Long): Array[Float] = Array.tabulate(64) { d =>
      (((seed * 2654435761L + d * 40503L) % 97) - 48).toFloat / 48f
    }
    val emb = ((0L until 8L).map(i => (i, v(i))) ++
      (0L until 8L).map(i => (i + 8L, v(i))) ++
      (16L until 40L).map(i => (i, v(i))))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.rpRecallOf(emb, outDims = 16, k = 3)
      .collect()
    assert(out.length == 8, s"every query keeps its twin: ${out.toSeq}")
    assert(out.forall(_.getLong(1) >= 1L), s"twin overlap: ${out.toSeq}")
    // the md5 sign matrix must not be degenerate: both signs present
    // in every output dimension's column
    val signs = graft.operators.Similarity.rpSigns(64, 16)
    for (j <- 0 until 16) {
      val col = (0 until 64).map(i => signs(i)(j))
      assert(col.contains(1.0) && col.contains(-1.0), s"dim $j one-sided")
    }
  }

  test("margin mining: a sharp exclusive pair accepts, a hub vector's best does not") {
    // a0 pairs exclusively with b0 (cos 1, everything else 0); a1 is
    // a HUB — cos 0.5 to every b. Hand margins with k=4:
    //   a0→B avg = 1/4;  b0→A avg = (1 + 0.5)/2 = 0.75
    //   margin(a0,b0) = 1 / ((0.25 + 0.75)/2) = 2.0   → accepted
    //   margin(a1,b0) = 0.5 / ((0.5 + 0.75)/2) = 0.8  → rejected
    // (the hubness cancellation the ratio margin exists for; raw
    // cosine alone would accept the hub's 0.5 as confidently as any).
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(0.5f, 0.5f, 0.5f, 0.5f), 0),
      (10L, Array(1f, 0f, 0f, 0f), 1),
      (11L, Array(0f, 1f, 0f, 0f), 1),
      (12L, Array(0f, 0f, 1f, 0f), 1),
      (13L, Array(0f, 0f, 0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.marginMiningOf(vecs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got(0L) == ((10L, 1.0, 2.0, true)), s"sharp: ${got(0L)}")
    // hub ties across all b at 0.5 → smallest b_id wins the best slot
    assert(got(1L) == ((10L, 0.5, 0.8, false)), s"hub: ${got(1L)}")
  }

  test("dim profile: exact per-dim moments, a constant dimension reads dead") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(3.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.dimProfileOf(emb).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
      .toMap
    // dim 0: mean 2, population std 1, span [1, 3], alive
    assert(out(0) == ((2L, 2.0, 1.0, 1.0, 3.0, false)), s"$out")
    // dim 1: constant zero → std 0 → dead
    assert(out(1) == ((2L, 0.0, 0.0, 0.0, 0.0, true)), s"$out")
  }

  test("nprobe sweep: recall is monotone in nprobe and consistent with the registered point") {
    import graft.operators.Similarity
    val sweep = Similarity.nprobeSweepOf(embeddings).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(sweep.keySet == Set(1, 2, 3, 4))
    // probing more cells can only add candidates — recall never drops
    val ppms = (1 to 4).map(sweep(_)._3)
    assert(ppms.sliding(2).forall { case Seq(a, b) => a <= b },
      s"monotone: $sweep")
    // the nprobe = 2 leg IS the registered ann_recall compare,
    // micro-averaged: hits must agree exactly
    val recallHits = Similarity.annRecallOf(embeddings).collect()
      .map(_.getLong(2)).sum
    assert(sweep(2)._2 == recallHits,
      s"sweep(2) hits vs ann_recall: $sweep vs $recallHits")
  }

  test("ivf balance: every vector lands in one cell and the imbalance factor is >= 1") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val r = Similarity.ivfBalanceOf(embeddings).collect().head
    val nVec = Tables.embeddings(spark, Sf).count()
    assert(r.getLong(1) == nVec, "the assignment partitions the corpus")
    assert(r.getLong(0) <= 16L && r.getLong(0) >= 1L)
    // Cauchy-Schwarz: C·Σn² ≥ (Σn)² — λ < 1e6 would mean broken math
    assert(r.getLong(2) >= 1000000L, s"imbalance factor: $r")
    assert(r.getLong(3) >= math.ceil(nVec.toDouble / 16).toLong,
      "max cell at least the balanced size")
  }

  test("embedding alignment: planted identical/orthogonal labels read exact 1.0 / 0.0 / null") {
    import graft.operators.Similarity
    def e(i: Int): Array[Float] =
      Array.tabulate(64)(d => if (d == i) 1f else 0f)
    val emb = Seq(
      (0L, e(0), 0), (1L, e(0), 0),            // two identical → within 1.0
      (2L, e(1), 1), (3L, e(2), 1),            // two orthogonal → within 0.0
      (4L, e(3), 2))                           // singleton → within null
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingAlignmentOf(emb).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)),
        if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)))))
      .toMap
    // every label's vectors are orthogonal to every other label's,
    // so cross_cos is exactly 0.0 throughout
    assert(out(0) == ((2L, 1.0, 0.0)), s"got $out")
    assert(out(1) == ((2L, 0.0, 0.0)), s"got $out")
    assert(out(2) == ((1L, null, 0.0)), s"got $out")
  }

  // ---- embedding MMD: exact separation pin + single-label refusal ----

  private def embs(rows: (Long, Seq[Double], Long)*): DataFrame =
    rows.toDF("vec_id", "embedding", "label")

  test("embedding_mmd: orthogonal one-hot labels pin MMD^2 = 2.0 exactly") {
    // label 0 mean (1,0), complement mean (0,1): per-dim gaps ±1e12,
    // MMD^2 = 2e24/1e24 = 2.0; top_dim ties on gap^2 → smallest pos.
    val out = Similarity.embeddingMmdOf(embs(
      (1L, Seq(1.0, 0.0), 0L), (2L, Seq(1.0, 0.0), 0L),
      (3L, Seq(0.0, 1.0), 1L))).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getDouble(3) == 2.0, s"mmd2: $r")
      assert(r.getInt(4) == 0, s"tie → smallest dim: $r")
      assert(r.getLong(5) == 500000L, s"even split: $r")
    }
    val byLabel = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byLabel(0L) == (2L, 1L) && byLabel(1L) == (1L, 2L))
  }

  test("embedding_mmd: a single-label corpus has no complement and emits nothing") {
    val out = Similarity.embeddingMmdOf(embs(
      (1L, Seq(1.0, 0.0), 0L), (2L, Seq(0.5, 0.5), 0L))).collect()
    assert(out.isEmpty, s"no complement → no row: ${out.mkString(";")}")
  }
}
