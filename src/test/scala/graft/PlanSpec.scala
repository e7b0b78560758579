package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Behavior, Cluster, Corpus, CtrAlerts, Dedup, EventAnalytics, Graph, Multimodal, Similarity, TextAnalysis}

/** Plan-shape regression tests: the ExplainAudit invariants, asserted
  * on the planner output so a regression fails CI instead of waiting
  * for a manual `.explain` review. Planning only — nothing executes.
  */
class PlanSpec extends AnyFunSuite with SparkFixture {

  // Pre-AQE physical plan: a real tree (AdaptiveSparkPlanExec is a
  // leaf wrapper, so collect() on executedPlan would see nothing).
  private def plan(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan

  // A registered query exactly as the driver builds it.
  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, Sf)

  private def docs: DataFrame = graft.sources.Tables.documents(spark, Sf)

  private def embeddings: DataFrame = graft.sources.Tables.embeddings(spark, Sf)

  // Nested-loop joins are allowed ONLY where a side is bounded by
  // construction: knnTopkOf/annHammingOf (fixed query set), annIvfOf/kmeans
  // (fixed centroid set), tfidf/collocations/funnelSteps (1-row
  // totals), and annRecallOf (composes knn + ivf). Everything else is
  // swept by the all-pairs test below.
  test("knnTopk keeps one query-set nested-loop and a partition-local top-k") {
    val p = plan(Similarity.knnTopkOf(embeddings))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length == 1,
      "brute-force knn is by design one broadcast nested-loop of queries x neighbors")
    assert(p.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "row_number()<=k must rewrite to WindowGroupLimit (partition-local top-k)")
  }

  test("annRecall adds no nested-loop beyond its parents' bounded ones") {
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }.length
    val parents = bnlj(plan(Similarity.knnTopkOf(embeddings))) +
      bnlj(plan(Similarity.annIvfOf(embeddings)))
    val p = plan(Similarity.annRecallOf(embeddings))
    // ivf's centroid-assignment subtree is planned once per branch it
    // feeds, so the composition may repeat a parent's bounded BNLJ —
    // but the recall join itself must stay an equijoin.
    assert(bnlj(p) <= parents + 1,
      s"recall composition grew nested-loops: ${bnlj(p)} vs parents' $parents")
    assert(p.collect { case j: CartesianProductExec => j }.isEmpty)
  }

  test("no dedup/ANN query plans an all-pairs join") {
    // annIvfOf is excluded: its cell-assignment BNLJ is rows x a FIXED
    // 16-centroid broadcast — linear in rows by construction.
    val risky = Seq[DataFrame](
      q("dedup_minhash"),
      q("dedup_jaccard"),
      q("jaccard_pairs"),
      q("dedup_simhash"),
      Similarity.annLshOf(embeddings),
      q("sessionize"),
      q("decontaminate"),
      q("repetition_stats"),
      q("lang_quality_gate"))
    risky.foreach { df =>
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"quadratic join shape in:\n$p")
    }
  }

  test("corpusClean pushes lang/n_chars filters into the parquet scan and prunes columns") {
    val p = plan(TextAnalysis.corpusClean(spark, Sf))
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata("PushedFilters")).mkString
    assert(pushed.contains("n_chars"), s"n_chars bounds not pushed: $pushed")
    assert(pushed.contains("lang"), s"lang IN-list not pushed: $pushed")
    val read = scans.flatMap(_.requiredSchema.fieldNames).toSet
    assert(read == Set("doc_id", "lang", "n_chars", "text"),
      s"scan should read exactly the needed columns, got $read")
  }

  test("ctrSpike carries no forced broadcast hint on the spike join") {
    // Both spike-join inputs are one row per active user — unbounded —
    // so the build side must stay AQE/size-decided. The only allowed
    // hint is the 1-row report_date frame.
    val analyzed = CtrAlerts.ctrSpike(spark, Sf).queryExecution.analyzed
    val hinted = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    // Assert on the hinted subtree's OUTPUT schema, not a substring of
    // its toString — every branch of this plan mentions report_date
    // somewhere, so a substring check would pass even with a re-added
    // broadcast(today) (whose output is user_id + today_ctr).
    assert(hinted.forall(_.child.output.map(_.name) == Seq("report_date")),
      s"only the 1-row report_date frame may carry a broadcast hint:\n$hinted")
  }

  test("chunkDocs is map-only up to the presentation sort") {
    val p = plan(q("chunk_docs"))
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length <= 1,
      s"chunking must not shuffle except for the final ORDER BY:\n$p")
  }

  test("packGreedy shuffles only for the per-source window and the sort") {
    val p = plan(q("pack_greedy"))
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length <= 2, s"expected window + sort exchanges only:\n$p")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("tfidf keeps its top-k partition-local and broadcasts only the 1-row count") {
    val p = plan(q("tfidf_top_terms"))
    assert(p.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "row_number()<=k must rewrite to WindowGroupLimit")
    // The only nested-loop join is the cross with the 1-row doc count.
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1)
  }

  test("collocations' only nested-loop join is the 1-row totals cross") {
    val p = plan(q("collocations"))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"token joins must stay equi-joins:\n$p")
    assert(p.collect { case j: CartesianProductExec => j }.isEmpty)
  }

  test("kmeans broadcasts only the k-row centroid set per assignment pass") {
    val p = plan(q("kmeans_embed"))
    // One BNLJ per Lloyd iteration (vectors x k centroids) — linear in
    // rows because k is a constant; anything more is a regression.
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length ==
      Cluster.Iterations, s"expected exactly one k-row BNLJ per iteration:\n$p")
  }

  test("zscoreOutliers carries no forced broadcast hint") {
    val analyzed = q("zscore_outliers")
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      "join strategy must stay AQE/size-decided — stats is one row per user, unbounded")
  }

  test("annHamming's only nested-loop is the fixed 8-query broadcast, top-k partition-local") {
    val p = plan(q("ann_hamming"))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length == 1,
      "queries x codes must broadcast the fixed 8-row query side only")
    assert(p.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(p.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "rank <= k must rewrite to WindowGroupLimit (partition-local top-k)")
  }

  test("profileColumns reads at most one data column per scan (no Expand blow-up)") {
    val p = plan(q("profile_columns"))
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.requiredSchema.fieldNames.length <= 1,
        s"each profile pass must scan one pruned column, got ${s.requiredSchema.fieldNames.toSeq}")
    }
    assert(p.collect { case e: org.apache.spark.sql.execution.ExpandExec => e }.isEmpty,
      "the profile must not plan a multi-count-distinct Expand over the facts")
  }

  test("bloom pre-filter is a literal scan-side predicate below the confirm join") {
    val p = plan(q("bloom_semi_join"))
    // The literal-bitset design must not join for the bitset at all —
    // a joined bitset lets ReorderJoin plan the exact semi-join first
    // and the "pre"-filter after it (the regression this test pins).
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      p.collect { case j: CartesianProductExec => j }.isEmpty,
      s"bloom bitset must be a literal, not a joined frame:\n$p")
    // The xxhash64 probe filter must sit BELOW the confirm join on the
    // fact path — killing rows before they reach the join (and, at
    // scale, before the shuffle the join would force).
    def joins(node: SparkPlan): Seq[SparkPlan] = node.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    val confirm = joins(p)
    assert(confirm.nonEmpty, s"exact confirm join missing:\n$p")
    assert(confirm.exists(_.children.exists(side =>
      side.collect {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("xxhash64") => f
      }.nonEmpty)),
      s"bloom probe filter must sit below the confirm join on the fact side:\n$p")
  }

  test("scd2History's three window passes share one user-keyed exchange") {
    val p = plan(q("scd2_history"))
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // user_id partitioning + the final presentation sort: nothing else
    assert(shuffles.length <= 2,
      s"lag, row_number and lead must reuse the same distribution:\n$p")
  }

  test("snapshotDiff is a single aggregate: one shuffle, no join") {
    val p = plan(q("snapshot_diff"))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      p.collect { case j: CartesianProductExec => j }.isEmpty)
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length <= 2, // user_id agg + presentation sort
      s"both snapshots must come from ONE conditional aggregate:\n$p")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, s"a two-snapshot self-join defeats the single-pass design:\n$p")
  }

  test("oovRate broadcasts the k-bounded vocabulary, never shuffles the token join") {
    val p = plan(q("oov_rate"))
    val smjOnToken = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smjOnToken.isEmpty,
      s"the top-k vocab is bounded by construction and must broadcast:\n$p")
  }

  test("round-8 tranche: no all-pairs shapes outside the bounded allowances") {
    // span_dedup, containment_pairs, sem_dedup, inverted_index and
    // weighted_sample must stay pure equi-join/aggregate plans.
    for (df <- Seq[DataFrame](
      q("span_dedup"),
      q("weighted_sample"),
      q("containment_pairs"),
      q("sem_dedup"),
      q("inverted_index"))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"quadratic join shape in:\n$p")
    }
    // bm25/gopher are allowed exactly the 1-row totals cross
    // (collocations' pattern); knnClassify the bounded query-set BNLJ.
    for (df <- Seq[DataFrame](
      q("bm25_search"),
      q("knn_classify"))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty)
    }
  }

  test("weighted sample plans a global top-k, never a full sort") {
    val p = plan(q("weighted_sample"))
    assert(p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"top-k by key must be TakeOrderedAndProject:\n$p")
  }

  test("inverted index: map-side-combined tf shuffle + ONE token re-shuffle for all windows") {
    // exchanges appear at EnsureRequirements time → inspect the
    // executed plan's initial string (ScaleInfraSpec's pattern).
    // Exactly two hash shuffles: the (doc, token) tf aggregate (with
    // partial combine below it) and the token window re-shuffle that
    // df, cf and rank ALL share; a third would mean a window stopped
    // riding the shared partitioning.
    val s = q("inverted_index")
      .queryExecution.executedPlan.toString
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).length
    assert(hashShuffles == 2,
      s"expected tf shuffle + one shared window shuffle:\n$s")
    assert(s.contains("partial_count"),
      "tf must combine map-side before its shuffle")
  }

  test("bm25 filters the token explode to the query before any aggregation") {
    // the IN-list filter must sit directly on the explode output, so
    // only query-term rows ever reach the tf aggregate's shuffle.
    val p = plan(q("bm25_search"))
    val filtersOnGenerate = p.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("spark") &&
          f.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.nonEmpty
      => f
    }
    assert(filtersOnGenerate.nonEmpty,
      s"query IN-filter must sit below the tf aggregate, on the explode:\n$p")
  }

  test("round-8 tranche: rankers keep partition-local top-k and bounded nested loops") {
    // ndcg/mrr: the only nested loop is the fixed query-set broadcast
    // (knnTopkOf's contract); ndcg's top-10 must stay WindowGroupLimit.
    val ndcg = plan(q("ndcg_eval"))
    assert(ndcg.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "ndcg top-10 must rewrite to WindowGroupLimit")
    assert(ndcg.collect { case j: CartesianProductExec => j }.isEmpty)
    val mmr = plan(q("mmr_rerank"))
    assert(mmr.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "mmr pool cut must rewrite to WindowGroupLimit")
    assert(mmr.collect { case j: CartesianProductExec => j }.isEmpty)
  }

  test("round-8 tranche: bounded-frame crosses only, equijoins everywhere else") {
    // 1-row totals crosses allowed (collocations' pattern): keyness,
    // shrinkage. Everything else must stay equi-join shaped.
    for ((df, allowed) <- Seq(
      (q("term_keyness"), 1),
      (q("ctr_shrunk"), 1),
      (q("dup_matrix"), 0),
      (q("fuzzy_match"), 0),
      (q("graph_degrees"), 0),
      (q("mrr_eval"), 0),
      (q("auc_quality"), 0),
      (q("corpus_card"), 0),
      (q("calibration_curve"), 0),
      (q("cuped_adjust"), 0),
      (q("seasonal_profile"), 0))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= allowed,
        s"unexpected nested loop (allowed $allowed):\n$p")
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"cartesian product:\n$p")
    }
  }

  test("corpusCard and calibrationCurve are one aggregate over one scan") {
    for (df <- Seq(q("corpus_card"),
      q("calibration_curve"))) {
      val p = plan(df)
      val scans = p.collect { case f: FileSourceScanExec => f }
      assert(scans.length == 1, s"every per-doc measure must ride ONE scan:\n$p")
      val shuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.length <= 2, s"aggregate + presentation sort only:\n$p")
    }
  }

  test("round-8 second tranche: bounded crosses only, equijoins everywhere else") {
    for ((df, allowed) <- Seq(
      (q("top_paths"), 0),
      (q("target_encode"), 1),  // 1-row μ
      (q("seasonal_outliers"), 0),
      (q("change_contrib"), 1), // 1-row rd
      (q("gini_concentration"), 0),
      (q("category_collapse"), 0),
      (q("mixture_plan"), 0),
      (q("token_len_histogram"), 0),
      (q("dup_matrix"), 0),
      (q("dedup_rate_by_source"), 0),
      (q("vocab_overlap"), 0),
      (q("term_keyness"), 1),                      // 1-row totals
      (q("embedding_norm_stats"), 0),
      (q("robust_scaler"), 0),
      (q("ship_lag_percentiles"), 0),
      (q("hll_rollup"), 0))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= allowed,
        s"unexpected nested loop (allowed $allowed):\n$p")
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"cartesian product:\n$p")
    }
    // label_noise checkpoints its vote frame (two consumers), which
    // hides the scored subtree behind an RDD-scan boundary — pin the
    // subtree BELOW the checkpoint by rebuilding it: the O(n²)
    // self-join is ONE bounded BNLJ and the k-cut is a WindowGroupLimit.
    val e = graft.sources.Tables.embeddings(spark, Sf)
    val scored = e.select(org.apache.spark.sql.functions.col("vec_id").as("q_id"),
        org.apache.spark.sql.functions.col("embedding").as("q_emb"))
      .join(e, org.apache.spark.sql.functions.col("vec_id") =!=
        org.apache.spark.sql.functions.col("q_id"))
      .select(org.apache.spark.sql.functions.col("q_id"),
        org.apache.spark.sql.functions.col("vec_id").as("n_id"),
        org.apache.spark.sql.functions.round(graft.functions.VectorF.cosineSim(
          org.apache.spark.sql.functions.col("q_emb"),
          org.apache.spark.sql.functions.col("embedding")), 6).as("cos"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(org.apache.spark.sql.functions.col("cos").desc,
            org.apache.spark.sql.functions.col("n_id"))))
      .filter(org.apache.spark.sql.functions.col("rn") <= 5)
    val lp = plan(scored)
    assert(lp.collect { case j: BroadcastNestedLoopJoinExec => j }.length == 1)
    assert(lp.collect { case w: WindowGroupLimitExec => w }.nonEmpty)
    // above the boundary nothing may grow a nested loop
    val ln = plan(q("label_noise"))
    assert(ln.collect { case j: CartesianProductExec => j }.isEmpty)
  }

  test("funnel and behavior queries never plan a fact-by-fact nested loop") {
    // funnelSteps and itemAffinity are each allowed exactly one BNLJ:
    // the cross with a 1-row totals frame (collocations' pattern).
    for (df <- Seq[DataFrame](
      q("funnel_steps"),
      q("item_affinity"))) {
      val pf = plan(df)
      assert(pf.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1)
      assert(pf.collect { case j: CartesianProductExec => j }.isEmpty)
    }
    for (df <- Seq[DataFrame](
      q("cohort_retention"),
      q("mad_outliers"),
      q("boilerplate_stats"))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"behavioral/robust queries must stay equi-joins:\n$p")
    }
  }
  test("round-9 tranche: bounded crosses only, rankers partition-local") {
    // ngram_diversity is scans + one aggregate; centroid_outliers is
    // label-equijoined throughout: neither may plan a cross shape.
    for (df <- Seq[DataFrame](
      q("ngram_diversity"),
      q("centroid_outliers"))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"quadratic join shape in:\n$p")
    }
    // quantile_normalize: exactly the 1-row percentile-grid cross; the
    // rank windows key on source, never a global order.
    val qn = plan(q("quantile_normalize"))
    assert(qn.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1)
    assert(qn.collect { case j: CartesianProductExec => j }.isEmpty)
    // negative_samples: the user x catalog expansion is the one
    // catalog-bounded cross; the per-user top-k must stay
    // partition-local (WindowGroupLimit), so only k rows per user
    // reach the final exchange.
    val ns = plan(q("negative_samples"))
    assert(ns.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"only the bounded catalog cross is allowed:\n$ns")
    assert(ns.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "rank()<=k must rewrite to a partition-local WindowGroupLimit")
  }

  test("round-10 approx twins: exact-mode shuffles absent from the sketch plans") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    // Exchanges are inserted by EnsureRequirements, so they exist only
    // in executedPlan; AQE off so the tree isn't an adaptive leaf.
    def exchanges(df: => DataFrame): Int = {
      val k = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(k)
      spark.conf.set(k, "false")
      // Count only requirement-driven shuffles (the data-flow shape
      // under test); Scale.spreadInput's explicit input repartition
      // (REPARTITION_BY_COL, r17) parallelizes a 1-partition bench
      // scan and is not a gram/join re-shuffle.
      try df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec
          if e.shuffleOrigin == org.apache.spark.sql.execution.exchange
            .ENSURE_REQUIREMENTS => e }.length
      finally spark.conf.set(k, prev)
    }
    // dup_matrix_approx: the exact path's per-gram equi-self-join is
    // gone — no shuffled join anywhere; sketch pairing is hll_union
    // over a broadcast cross of the |sources|-row frame.
    val dm = plan(q("dup_matrix_approx"))
    assert(dm.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      dm.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"sketch dup matrix must not shuffle-join grams:\n$dm")
    assert(dm.toString.contains("hll_union"))
    assert(exchanges(q("dup_matrix_approx")) <
      exchanges(q("dup_matrix")),
      "sketch path must shuffle less than the per-gram self-join")
    // ngram_diversity_approx: HLL distinct folds in ONE aggregate pass
    // — the exact twin's second gram shuffle (distinct rewrite) is gone.
    val nd = plan(q("ngram_diversity_approx"))
    assert(nd.toString.contains("approx_count_distinct"))
    assert(exchanges(q("ngram_diversity_approx")) <
      exchanges(q("ngram_diversity")),
      "HLL distinct must not re-shuffle the gram stream")
    // quantile_normalize_approx: same join/exchange SHAPE (the swap is
    // aggregation state, full buffer -> mergeable sketch), grid via
    // approx_percentile.
    val qn = plan(q("quantile_normalize_approx"))
    assert(qn.toString.contains("approx_percentile"))
    assert(exchanges(q("quantile_normalize_approx")) <=
      exchanges(q("quantile_normalize")))
    // ADVICE r17: the ENSURE_REQUIREMENTS filter above would hide a
    // regression that smuggles EXPLICIT repartition/rebalance shuffles
    // into these plans — bound those separately (ngram_diversity_approx
    // carries exactly its one known spreadInput repartition; the rest
    // carry none).
    def explicitExchanges(df: => DataFrame): Int = {
      val k = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(k)
      spark.conf.set(k, "false")
      try df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec
          if e.shuffleOrigin != org.apache.spark.sql.execution.exchange
            .ENSURE_REQUIREMENTS => e }.length
      finally spark.conf.set(k, prev)
    }
    assert(explicitExchanges(q("dup_matrix_approx")) == 0 &&
      explicitExchanges(q("dup_matrix")) == 0,
      "dup_matrix family must carry no explicit repartition")
    assert(explicitExchanges(q("ngram_diversity_approx")) <= 1 &&
      explicitExchanges(q("ngram_diversity")) <= 1,
      "ngram_diversity family: at most the one spreadInput repartition")
  }

  test("round-8 final tranche: only 1-row bounds broadcasts cross, everything else equijoins") {
    // (query, allowed 1-row-broadcast crosses by construction)
    val bounded = Seq[(DataFrame, Int, String)](
      (q("churn_lifetable"), 1, "report-date frame"),
      // the report-date cross replans once per branch (tagged feeds
      // the train-user set AND the per-user aggregate; no cross-branch
      // CSE in Catalyst) — both instances are the same 1-row frame
      (q("temporal_split"), 2, "report-date frame x2 branches"),
      // same branch-replan: the dense grid feeds num AND den
      (q("acf_daily"), 2, "calendar-bounds frame x2 branches"),
      (q("zonemap_audit"), 1, "zone-bounds frame"),
      (q("countmin_err"), 1, "1-row sketch-cell frame"),
      (q("dedup_cascade"), 2, "two 1-row count frames"),
      (q("link_predict"), 0, "equijoins only"),
      (q("incremental_rollup"), 0, "filtered aggregates only"),
      (q("funnel_windowed"), 0, "user-keyed equijoins only"),
      (q("matryoshka_energy"), 0, "map-only"),
      (q("hybrid_search"), 2,
        "bm25's 1-row totals frame + the dense leg's 1-row query vector"),
      (q("sem_decontaminate"), 1,
        "rows x the constant broadcast bench set (knnTopk's bounded family)"),
      (q("dsir_weights"), 1, "1-row token-totals frame"))
    for ((df, allowed, why) <- bounded) {
      val p = plan(df)
      val crosses =
        p.collect { case j: BroadcastNestedLoopJoinExec => j }.length
      assert(crosses <= allowed, s"$why — expected <= $allowed crosses:\n$p")
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"cartesian product in:\n$p")
    }
    // matryoshka is a pure projection: the scan must prune to the
    // embedding column alone
    val me = plan(q("matryoshka_energy"))
    val scans = me.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty &&
      scans.forall(_.requiredSchema.fieldNames.toSeq == Seq("embedding")),
      s"embedding-only column pruning expected:\n$me")
  }

  // ── round-9 tranche ──────────────────────────────────────────────

  test("exactSubstringSpans: no quadratic join, hot-key-proof gram stats, bounded shuffles") {
    val p = plan(q("substr_dup_spans"))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      p.collect { case j: CartesianProductExec => j }.isEmpty,
      s"exact-substring must stay gram-keyed, never all-pairs:\n$p")
    // r17 hot-key-proof shape: the per-gram occ/first stats are a
    // map-side-combinable aggregate + join-back (AQE can split a
    // skewed probe), NOT the r16 gram-partitioned twin windows (one
    // viral license gram = one straggler task). The positional-gram
    // lead window and the pruned doc_id+text scan ride inside the
    // checkpointed gram frame; the ONLY windows left in the outer
    // plan are the doc-keyed (bounded) island scan's pair (the
    // lookbehind MAX and the running island SUM share one exchange).
    assert(p.collect { case f: FileSourceScanExec => f }.isEmpty,
      s"the pruned scan rides the checkpointed gram frame:\n$p")
    import org.apache.spark.sql.execution.window.WindowExec
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.length <= 2 && wins.forall(_.partitionSpec.nonEmpty),
      s"only the doc-keyed island windows may remain:\n$p")
    // gram agg exchange, join-back probe exchange, doc-keyed island
    // re-shuffle, final range sort = 4 (AQE may reuse the gram pair)
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.length
    assert(shuffles <= 4, s"expected <= 4 exchanges, got $shuffles:\n$p")
  }

  test("exactSubstringSpans gram frame: doc_id+text-only scan feeds the checkpoint") {
    // the scan-pruning pin the checkpoint hides from the outer plan:
    // plan the pre-checkpoint positional-gram frame directly
    val p = plan(Dedup.substrGramFrame(
      graft.sources.Tables.documents(spark, Sf), 16))
    val scans = p.collect { case s: FileSourceScanExec => s }
    assert(scans.map(_.requiredSchema.fieldNames.toSet) ==
      Seq(Set("doc_id", "text")),
      s"one scan, pruned to doc_id+text:\n$p")
  }

  test("hits/lpa: iteration joins stay equijoins; only hits' 1-row renorm totals cross") {
    val ph = plan(q("hits"))
    // 2 iterations × 2 half-steps, each renormalizing via a 1-row
    // totals broadcast — 4 bounded crosses, nothing else
    assert(ph.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 4,
      s"only the four 1-row renorm totals may cross:\n$ph")
    assert(ph.collect { case j: CartesianProductExec => j }.isEmpty)
    val pl = plan(q("lpa_communities"))
    assert(pl.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      pl.collect { case j: CartesianProductExec => j }.isEmpty,
      s"LPA is equijoin-only:\n$pl")
  }

  test("markup/mojibake cleaners: map-side passes over pruned scans") {
    val pm = plan(q("strip_markup"))
    val scansM = pm.collect { case s: FileSourceScanExec => s }
    assert(scansM.map(_.requiredSchema.fieldNames.toSet) ==
      Seq(Set("doc_id", "text")), s"doc_id+text-only scan:\n$pm")
    val pj = plan(q("mojibake_stats"))
    val scansJ = pj.collect { case s: FileSourceScanExec => s }
    assert(scansJ.map(_.requiredSchema.fieldNames.toSet) ==
      Seq(Set("doc_id", "source", "text")), s"three-column scan:\n$pj")
    // the incidence report shuffles once (the source aggregate)
    val shuffles = pj.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.length
    assert(shuffles <= 2, s"one partial+final source aggregate, got $shuffles:\n$pj")
  }

  test("lshRecallSampled: sample filter reaches both sides, only the 1-row count join crosses") {
    val p = plan(q("lsh_recall_sampled"))
    // the audit's only cross is n_exact × n_lsh — two 1-row aggregates
    val crosses = p.collect { case j: BroadcastNestedLoopJoinExec => j }.length +
      p.collect { case j: CartesianProductExec => j }.length
    assert(crosses <= 1, s"only the 1-row×1-row count join may cross:\n$p")
    // both pair pipelines must audit the SAMPLED subcorpus: every doc
    // scan is followed by the xxhash64(doc_id) residue filter, so the
    // ~1/s² cost bound holds by plan shape, not by hope
    val s = p.toString
    assert("xxhash64".r.findAllIn(s).length >= 2,
      "doc-hash sample filter must appear on both audit sides")
  }

  test("round-10 tranche: graph/audit/drift plans stay equijoin + bounded-cross only") {
    // kcore & assortativity: equijoins on the bounded edge frame; the
    // assortativity moment fold may cross its 1-row aggregates only
    val pk = plan(q("kcore"))
    assert(pk.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      pk.collect { case j: CartesianProductExec => j }.isEmpty,
      s"kcore peels with equijoins only:\n$pk")
    val pa = plan(q("degree_assortativity"))
    assert(pa.collect { case j: CartesianProductExec => j }.isEmpty &&
      pa.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 2,
      s"only the two 1-row moment/count frames may cross:\n$pa")
    // lsh_precision inherits the recall audit's shape: one 1-row cross
    val pp = plan(q("lsh_precision"))
    val crosses = pp.collect { case j: BroadcastNestedLoopJoinExec => j }.length +
      pp.collect { case j: CartesianProductExec => j }.length
    assert(crosses <= 1, s"only the 1-row×1-row count join may cross:\n$pp")
    // schema_drift: the min-day broadcast is the only cross; the four
    // per-column sides reshape bounded frames
    val pd = plan(q("schema_drift"))
    assert(pd.collect { case j: CartesianProductExec => j }.isEmpty &&
      pd.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"only the 1-row split-day broadcast may cross:\n$pd")
    // burstiness: one fact-sized shuffle (the (type, day) partial
    // aggregate) before the bounded per-type fold
    val pb = plan(q("burstiness"))
    assert(pb.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      pb.collect { case j: CartesianProductExec => j }.isEmpty, s"map-only:\n$pb")
  }

  test("silhouette broadcasts k centroids and never shuffles raw vectors on a join key") {
    val p = plan(q("silhouette"))
    // the centroid scoring pass is rows × a k-row broadcast — the same
    // bounded nested-loop as the kmeans assignment (2 passes: the
    // final ranking + the inner assignment that built the centroids)
    assert(p.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 2,
      s"only the bounded centroid broadcasts may cross:\n$p")
  }

  test("mini-tranche: clustering/hhi/coverage stay equijoin-only with pruned scans") {
    val pc = plan(q("clustering_coeff"))
    assert(pc.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      pc.collect { case j: CartesianProductExec => j }.isEmpty,
      s"wedge/closure/degree joins are all equijoins:\n$pc")
    val ph = plan(q("lang_hhi"))
    val scansH = ph.collect { case s: FileSourceScanExec => s }
    assert(scansH.map(_.requiredSchema.fieldNames.toSet) ==
      Seq(Set("source", "lang")), s"two-column scan:\n$ph")
    // coverage: the vocab frame materializes once; only the 1-row
    // totals and the |ks|-row probe frame may cross
    val pv = plan(q("coverage_curve"))
    assert(pv.collect { case j: CartesianProductExec => j }.isEmpty &&
      pv.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"only the 1-row totals broadcast may cross:\n$pv")
  }

  test("interarrival/centroid-separation: one type-keyed window; only the k-row cross") {
    val pi = plan(q("interarrival_percentiles"))
    assert(pi.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      pi.collect { case j: CartesianProductExec => j }.isEmpty, s"map+window only:\n$pi")
    val ps = plan(q("centroid_separation"))
    // the pair cross is k rows × k rows (bounded by construction);
    // building the centroids costs one more bounded assignment BNLJ
    assert(ps.collect { case j: CartesianProductExec => j }.isEmpty &&
      ps.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 2,
      s"only bounded centroid crosses:\n$ps")
  }

  test("curriculumOrder ranks on ONE bucket-partitioned window over the narrow triple") {
    val p = plan(q("curriculum_order"))
    // The doc scan (doc_id+text pruning) lives inside the helper's
    // one-time localCheckpoint materialization; the final plan reads
    // the narrow (doc_id, quality, tie) triples from that
    // materialization — no re-scan, no re-derived quality regex.
    assert(p.collect { case s: FileSourceScanExec => s }.isEmpty,
      s"final plan must read the checkpointed triples, not re-scan:\n$p")
    // r18: the rank rides the partition-local sort + the within-
    // partition row index (partition == bucket on the frozen frame) —
    // no window, and therefore no full-frame hashpartitioning(__bkt)
    // re-shuffle. Pin both halves.
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"rank must ride the partition-local sort, not a window:\n$p")
    assert(p.collect {
      case s: org.apache.spark.sql.execution.SortExec if !s.global => s
    }.nonEmpty, s"partition-local rank sort expected:\n$p")
  }

  test("round-10 second wave: stats/graph/training plans stay equijoin + bounded-cross") {
    // benford/join-size/corr/burst-style aggregates: map-combinable
    // folds, no cross of any kind.
    for (df <- Seq[DataFrame](
      q("benford_audit"),
      q("join_size_estimate"),
      q("corr_matrix"))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"pure aggregate pipeline:\n$p")
    }
    // cramers_v margins cross is bounded (types x 7 + the 1-row n);
    // modularity combines four 1-row/bounded frames.
    for ((df, maxCross) <- Seq(
      (q("cramers_v"), 3),
      (q("modularity"), 3),
      // the life table's 1-row report-date broadcast
      (q("nelson_aalen"), 1),
      (q("conformal_interval"), 0),
      (q("best_split"), 0))) {
      val p = plan(df)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"no cartesian product:\n$p")
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length
        <= maxCross, s"bounded crosses only:\n$p")
    }
  }

  test("corrMatrix scans the three measure columns once, nothing else") {
    val p = plan(q("corr_matrix"))
    val scans = p.collect { case s: FileSourceScanExec => s }
    assert(scans.map(_.requiredSchema.fieldNames.toSet) ==
      Seq(Set("l_quantity", "l_extendedprice", "l_discount")),
      s"one pruned scan computes every moment:\n$p")
  }

  test("cdcChunks: the lag window and the chunk regroup share one doc-keyed exchange") {
    val df = q("cdc_chunks")
    val p = df.queryExecution.executedPlan
    val exchanges = p.toString.split("\n").count(_.contains("Exchange hashpartitioning"))
    // doc-keyed window+regroup share one exchange; the source rollup
    // adds its own — anything beyond that is a regression.
    assert(exchanges <= 3, s"got $exchanges hash exchanges:\n$p")
    val pp = plan(df)
    assert(pp.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      pp.collect { case j: CartesianProductExec => j }.isEmpty)
  }

  test("khopReach frontier hops stay equijoin + left-anti, no all-pairs") {
    val p = plan(q("khop_reach"))
    assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
      s"no cartesian:\n$p")
    // per-hop 1-row reached-count frames ride broadcasts; the only
    // BNLJs allowed are those bounded 1-row crosses (3 hops)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 3,
      s"only the per-hop 1-row count crosses:\n$p")
  }

  test("round-10 third wave: drift/skyline/audit plans are join-free or bounded") {
    // Pure map+window+aggregate pipelines: no join of any kind.
    for (df <- Seq[DataFrame](
      q("ks_test"),
      q("rolling_corr"),
      q("disorder_audit"))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"map+window+aggregate only:\n$p")
    }
    // pareto: the bounded score-grid frame broadcasts back as an
    // EQUIJOIN on q4; the fact side must never window (the O(n^2)
    // UnboundedFollowing frame the x100 rehearsal caught).
    val pf = plan(q("pareto_frontier"))
    assert(pf.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      pf.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(pf.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.length == 1, s"one window, on the bounded grid frame only:\n$pf")
    // cluster_topics: the kmeans assignment's bounded vec x centroid
    // crosses (2 iterations) + the 1-row totals cross.
    val ct = plan(q("cluster_topics"))
    assert(ct.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(ct.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 3,
      s"only the bounded kmeans/totals crosses:\n$ct")
  }

  test("round-10 fourth wave: economics/audit/eval plans bounded as designed") {
    for (df <- Seq[DataFrame](
      q("contract_audit"),
      q("forecast_backtest"),
      q("script_mix"))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"single-scan aggregate pipeline:\n$p")
    }
    // cohort_ltv: sizes broadcast is an EQUIJOIN on cohort_day.
    val cl = plan(q("cohort_ltv"))
    assert(cl.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      cl.collect { case j: CartesianProductExec => j }.isEmpty)
    // rich_club: three per-k pairs of 1-row count crosses.
    val rc = plan(q("rich_club"))
    assert(rc.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(rc.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 3,
      s"only the per-k 1-row count crosses:\n$rc")
  }

  test("round-10 fifth wave: rec/cadence/sweep/curve plans bounded as designed") {
    // Join-free map+window+aggregate pipelines.
    for (df <- Seq[DataFrame](
      q("return_time"),
      q("peak_concurrency"),
      q("binary_segmentation"),
      q("lorenz_curve"))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"no join of any kind:\n$p")
    }
    // item_cosine: user-keyed equijoins only (the affinity shape).
    val ic = plan(q("item_cosine"))
    assert(ic.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      ic.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(ic.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "rank <= k must rewrite to WindowGroupLimit")
    // heaps_curve: the 1-row bounds + 10-row threshold crosses only.
    val hc = plan(q("heaps_curve"))
    assert(hc.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(hc.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 2,
      s"only the bounds/threshold crosses:\n$hc")
  }

  test("round-10 sixth wave: backtests and sweeps stay bounded") {
    // One-pass sweeps and the KS-style folds: no joins at all.
    for (df <- Seq[DataFrame](
      q("session_sweep"),
      q("watermark_loss"))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
        p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"one window pass + fold only:\n$p")
    }
    // markov: |types|-row rule broadcast + 1-row baseline cross.
    val ma = plan(q("markov_accuracy"))
    assert(ma.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(ma.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"only the 1-row global-top cross:\n$ma")
    // quantize_recall: two knn-shaped bounded query broadcasts.
    val qr = plan(q("quantize_recall"))
    assert(qr.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(qr.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 2,
      s"one bounded query BNLJ per side:\n$qr")
    assert(qr.collect { case w: WindowGroupLimitExec => w }.nonEmpty)
  }

  test("dupInflation: two aggregates, join- and window-free, text never shuffled") {
    val p = plan(q("dup_inflation"))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      p.collect { case j: CartesianProductExec => j }.isEmpty &&
      p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.isEmpty,
      s"pure aggregation pipeline:\n$p")
    // The duplicate mass dies in the map-side partial of the first
    // aggregate: every exchange carries only fixed-width agg keys.
    val exchanges = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.forall(e => !e.child.schema.fieldNames.contains("text")),
      s"text must be absorbed before any exchange:\n$p")
  }

  test("bandingSweep: pair mass is counted, never enumerated — no join, one sig pass") {
    val p = plan(q("banding_sweep"))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      p.collect { case j: CartesianProductExec => j }.isEmpty &&
      p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.isEmpty &&
      p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.isEmpty,
      s"window + rollup only — a join would mean enumeration:\n$p")
    // all four configs ride ONE MinHash signature pass: one doc scan
    assert(p.collect { case s: FileSourceScanExec => s }.length == 1,
      s"a per-config union would re-scan and re-sign 4x:\n$p")
  }

  test("round-12 tranche: stats plans are one fact aggregate + bounded-frame arithmetic") {
    // anova_f: ONE fact aggregate on (type, arm); no join at all.
    val af = plan(q("anova_f"))
    assert(af.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      af.collect { case j: CartesianProductExec => j }.isEmpty,
      s"anova_f joins nothing:\n$af")
    // chi2_residuals: the margins are windows over the bounded cell
    // frame, like the parent contingency query — no join, no cross.
    val cr = plan(q("chi2_residuals"))
    assert(cr.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      cr.collect { case j: CartesianProductExec => j }.isEmpty,
      s"chi2_residuals joins nothing:\n$cr")
    // cohen_kappa: every join (marginals full-outer, totals) rides
    // the bounded ≤ sources·langs² cell frame behind the checkpoint —
    // nothing fact-sized crosses.
    val ck = plan(q("cohen_kappa"))
    assert(ck.collect { case j: CartesianProductExec => j }.isEmpty,
      s"cohen_kappa must not cross:\n$ck")
    // l_diversity / user_growth: aggregate-only (user_growth's one
    // join is the bounded daily-frame left join).
    val ld = plan(q("l_diversity"))
    assert(ld.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      ld.collect { case j: CartesianProductExec => j }.isEmpty,
      s"l_diversity joins nothing:\n$ld")
    val ug = plan(q("user_growth"))
    assert(ug.collect { case j: CartesianProductExec => j }.isEmpty,
      s"user_growth must not cross:\n$ug")
    // margin_mining: the deliberate exact bipartite — exactly ONE
    // nested loop (the broadcast A×B score join), documented as the
    // verification contract; everything downstream is windows +
    // equijoins over the materialized score frame.
    val mm = plan(q("margin_mining"))
    assert(mm.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1 &&
      mm.collect { case j: CartesianProductExec => j }.isEmpty,
      s"margin_mining: one bipartite nested loop only:\n$mm")
    // apriori_triples: user-keyed equijoins + pair semi-joins only.
    val at = plan(q("apriori_triples"))
    assert(at.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      at.collect { case j: CartesianProductExec => j }.isEmpty,
      s"apriori_triples: equijoin/semi-join only:\n$at")
    // kcenter_select: the FINAL round's plan holds at most one 1-row
    // center broadcast (earlier rounds already materialized behind
    // their checkpoints); never a cartesian.
    val kc = plan(q("kcenter_select"))
    assert(kc.collect { case j: CartesianProductExec => j }.isEmpty &&
      kc.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"kcenter_select: only the 1-row center broadcast crosses:\n$kc")
    // did_readout / qini_curve / brier_decomposition: one fact
    // aggregate each; only brier's 1-row totals broadcast crosses,
    // and qini's windows ride the bounded decile frame + __bkt.
    for ((name, df, maxBnlj) <- Seq(
      ("did_readout", q("did_readout"), 0),
      ("qini_curve", q("qini_curve"), 0),
      ("brier_decomposition",
        q("brier_decomposition"), 1))) {
      val p = plan(df)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty &&
        p.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= maxBnlj,
        s"$name bounded as designed:\n$p")
    }
    import org.apache.spark.sql.execution.window.WindowExec
    val qn = plan(q("qini_curve"))
    assert(qn.collect { case w: WindowExec => w }
      .forall(w => w.partitionSpec.nonEmpty ||
        w.child.toString.contains("decile")),
      s"qini: user-scale rank rides __bkt; globals only on the decile frame:\n$qn")
  }

  test("round-11 tranche: merge/test/rank-eval plans bounded as designed") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // merge_upsert: ONE conditional-struct-max aggregate — no join of
    // any kind (the naive MERGE would full-outer-join two scans).
    val mu = plan(q("merge_upsert"))
    assert(mu.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      mu.collect { case j: CartesianProductExec => j }.isEmpty &&
      mu.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"one-aggregate MERGE:\n$mu")
    // mannwhitney: value-grid windows + bounded fold, join-free.
    val mw = plan(q("mannwhitney_test"))
    assert(mw.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      mw.collect { case j: CartesianProductExec => j }.isEmpty,
      s"grid windows only:\n$mw")
    // spearman: rank frames re-enter as equijoins, nothing all-pairs,
    // and no single-partition window (the two-phase prefix sum).
    val sm = plan(q("spearman_matrix"))
    assert(sm.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      sm.collect { case j: CartesianProductExec => j }.isEmpty,
      s"equijoin rank frames only:\n$sm")
    assert(sm.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.forall(_.partitionSpec.nonEmpty),
      s"grid cumsums must ride the __bkt decomposition:\n$sm")
    // rp_recall: the two bounded 8-query BNLJs, rank pruned
    // partition-locally.
    val rp = plan(q("rp_recall"))
    assert(rp.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(rp.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 2,
      s"one bounded query BNLJ per space:\n$rp")
    assert(rp.collect { case w: WindowGroupLimitExec => w }.nonEmpty)
    // linear_attribution: purchases ⋈ clicks is a user EQUIJOIN (the
    // range predicate rides it as a filter, never a cross), share
    // windows partition by purchase id.
    val la = plan(q("linear_attribution"))
    assert(la.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      la.collect { case j: CartesianProductExec => j }.isEmpty,
      s"user-keyed equijoin only:\n$la")
    // seasonal_decompose: one fact aggregate, everything after rides
    // the bounded daily frame (windows + one bounded equijoin).
    val sd = plan(q("seasonal_decompose"))
    assert(sd.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      sd.collect { case j: CartesianProductExec => j }.isEmpty,
      s"bounded-frame decomposition:\n$sd")
    // asof_nearest: the union-and-carry stays JOIN-FREE (both
    // direction passes are windows over one union) — a range join or
    // per-row subquery shape would regress the 100 TB contract.
    val an = plan(graft.operators.AsofJoin.nearestAttribution(spark, Sf))
    assert(an.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      an.collect { case j: CartesianProductExec => j }.isEmpty &&
      an.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"two-pass union-and-carry only:\n$an")
    // session_campaign_overlap: the bucket EQUIJOIN carries the pair
    // generation; only the 1-row day0 bounds cross.
    val sco = plan(EventAnalytics.sessionCampaignOverlap(spark, Sf))
    assert(sco.collect { case j: CartesianProductExec => j }.isEmpty)
    // 1-row day0 rides three branches (campaign synthesis, campaign
    // bucketing, session bucketing) — all bounded broadcasts.
    assert(sco.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 3,
      s"only the 1-row day0 crosses:\n$sco")
  }

  test("two-phase decomposition: no fact-scale single-partition window remains") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    def windows(p: SparkPlan) = p.collect { case w: WindowExec => w }
    def groupsOnBkt(p: SparkPlan): Boolean = p.collectFirst {
      case a: HashAggregateExec
        if a.groupingExpressions.exists(_.toString.contains("__bkt")) => a
      case a: ObjectHashAggregateExec
        if a.groupingExpressions.exists(_.toString.contains("__bkt")) => a
      case a: SortAggregateExec
        if a.groupingExpressions.exists(_.toString.contains("__bkt")) => a
    }.nonEmpty

    // Global rank / running sum (round-10 verdict's three global
    // windows): every window partitions by the range bucket — ZERO
    // empty-partitionSpec windows on the fact/user-scale side.
    val co = plan(q("curriculum_order"))
    assert(windows(co).forall(_.partitionSpec.nonEmpty),
      s"curriculum_order must have no single-partition window:\n$co")
    // r18: the rank window is gone entirely (partition-local sort +
    // within-partition row index — one full-frame re-shuffle removed).
    assert(co.collect {
      case s: org.apache.spark.sql.execution.SortExec if !s.global => s
    }.nonEmpty, s"rank must ride a partition-local sort:\n$co")

    val pc = plan(q("peak_concurrency"))
    assert(windows(pc).forall(_.partitionSpec.nonEmpty),
      s"peak_concurrency sweep must have no single-partition window:\n$pc")
    assert(windows(pc).exists(_.partitionSpec.exists(_.toString.contains("__bkt"))),
      s"running sum must ride the __bkt-partitioned local window:\n$pc")

    // lorenz: the user-scale rank is __bkt-partitioned; the only
    // global windows left (grand total + cumulative share) sit ABOVE
    // the 10-row decile aggregate — bounded by construction.
    val lz = plan(q("lorenz_curve"))
    // r18: the user-scale rank is a partition-local sort (no window,
    // no re-shuffle); only the bounded decile-frame globals remain.
    assert(lz.collect {
      case s: org.apache.spark.sql.execution.SortExec if !s.global => s
    }.nonEmpty, s"user-scale rank must ride a partition-local sort:\n$lz")
    windows(lz).filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.collectFirst {
        case a: HashAggregateExec
          if a.groupingExpressions.exists(_.toString.contains("decile")) => a
      }.nonEmpty,
        s"global windows may only ride the bounded decile frame:\n$lz")
    }

    // Round-12 closures of the last three weak plans:
    // rfm_segments — ONE melted two-phase rank (r18: the three chained
    // axis ranks folded onto one range exchange); every window must
    // ride a __bkt partition (the user frame never single-tasks).
    val rfm = plan(q("rfm_segments"))
    assert(windows(rfm).forall(_.partitionSpec.nonEmpty),
      s"rfm_segments must have no single-partition window:\n$rfm")
    // The melted rank rides the frozen bucketed checkpoint's
    // partition-local sort (r18: no window, no re-shuffle); the forall
    // above pins that no axis regressed to a global window.
    assert(rfm.collect {
      case s: org.apache.spark.sql.execution.SortExec if !s.global => s
    }.nonEmpty, s"the melted rank must ride a partition-local sort:\n$rfm")

    // coverage_curve — the vocabulary rank+cumsum share ONE frozen
    // range exchange; no global window over the type frame.
    val cc = plan(q("coverage_curve"))
    assert(windows(cc).forall(_.partitionSpec.nonEmpty),
      s"coverage_curve must have no single-partition window:\n$cc")
    assert(windows(cc).exists(_.partitionSpec.exists(_.toString.contains("__bkt"))),
      s"rank+cumsum must ride the __bkt-partitioned window:\n$cc")

    // contentRanked consumers — the per-stratum rank decomposes
    // through (stratum, __bkt); any window WITHOUT __bkt must sit
    // above the bounded (stratum, __bkt) offsets aggregate.
    for ((name, df) <- Seq(
      "stratified_sample" -> q("stratified_sample"),
      "kfold_assign" -> q("kfold_assign"),
      "mix_sources" -> SparkEntry.queries("mix_sources")(spark, Sf))) {
      val p = plan(df)
      assert(windows(p).forall(_.partitionSpec.nonEmpty),
        s"$name: no single-partition window:\n$p")
      assert(windows(p).exists(w =>
        w.partitionSpec.exists(_.toString.contains("__bkt"))),
        s"$name: the stratum rank must partition by (stratum, __bkt):\n$p")
      windows(p)
        .filter(!_.partitionSpec.exists(_.toString.contains("__bkt")))
        .foreach { w => assert(groupsOnBkt(w.child),
          s"$name: a stratum-only window must ride the bounded offsets frame:\n$p") }
    }

    // Type-keyed lags (parallelism = the 5-value type vocabulary):
    // the fact-scale lag partitions by (type, __bkt); any window
    // partitioned WITHOUT __bkt must sit above the bounded
    // (type, __bkt) aggregate (the boundary-carry frame).
    for ((name, df) <- Seq(
      "disorder_audit" -> q("disorder_audit"),
      "interarrival_percentiles" ->
        q("interarrival_percentiles"))) {
      val p = plan(df)
      assert(windows(p).forall(_.partitionSpec.nonEmpty),
        s"$name: no single-partition window:\n$p")
      assert(windows(p).exists(_.partitionSpec.exists(_.toString.contains("__bkt"))),
        s"$name: the lag must partition by (type, __bkt):\n$p")
      windows(p)
        .filter(!_.partitionSpec.exists(_.toString.contains("__bkt")))
        .foreach { w => assert(groupsOnBkt(w.child),
          s"$name: a type-only window must ride the bounded carry frame:\n$p") }
    }
  }

  test("round-12 fifth tranche: logrank/kendall/pr_auc plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    // logrank: one user-keyed fact aggregate; the only crossing join
    // is the 1-row report_date broadcast; the global risk-set window
    // rides the bounded duration frame (post-aggregate child).
    val lr = plan(q("logrank_test"))
    assert(lr.collect { case j: CartesianProductExec => j }.isEmpty &&
      lr.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"logrank: only the 1-row report_date broadcast crosses:\n$lr")
    // kendall: the grid self-join must be an EQUIJOIN on the pair key
    // (never a nested loop over the grid), and no window at all.
    val km = plan(q("kendall_matrix"))
    assert(km.collect { case j: CartesianProductExec => j }.isEmpty &&
      km.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"kendall: grid self-join stays an equijoin:\n$km")
    assert(km.collect { case w: WindowExec => w }.isEmpty,
      s"kendall: concordance is pure aggregation, no windows:\n$km")
    // pr_auc: join-free; every window partitions by source and rides
    // the score-distinct frame (child aggregates on (source, score)).
    val pa = plan(q("pr_auc"))
    assert(pa.collect { case j: CartesianProductExec => j }.isEmpty &&
      pa.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"pr_auc joins nothing:\n$pa")
    assert(pa.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"pr_auc: no single-partition window:\n$pa")
  }

  test("round-12 sixth tranche: sketch-audit/twap/ate plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    // quantile_sketch_err: ONE fact aggregate (exact + sketch legs in
    // the same group-by), then constant-size stack — no joins, no
    // windows anywhere.
    val qs = plan(q("quantile_sketch_err"))
    assert(qs.collect { case j: CartesianProductExec => j }.isEmpty &&
      qs.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      qs.collect { case w: WindowExec => w }.isEmpty,
      s"quantile_sketch_err is one aggregate:\n$qs")
    // twap_concurrency: sessionize's per-user window, a ≤2× map-side
    // day explode, one day-keyed aggregate — join-free, every window
    // user-partitioned.
    val tw = plan(q("twap_concurrency"))
    assert(tw.collect { case j: CartesianProductExec => j }.isEmpty &&
      tw.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"twap joins nothing:\n$tw")
    assert(tw.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"twap: no single-partition window:\n$tw")
    // stratified_ate: the decile rank rides the two-phase exchange
    // (__bkt) like qini; the only crossing join is the 1-row total
    // broadcast.
    val sa = plan(q("stratified_ate"))
    assert(sa.collect { case j: CartesianProductExec => j }.isEmpty &&
      sa.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"stratified_ate: only the 1-row total broadcast crosses:\n$sa")
    assert(sa.collect { case w: WindowExec => w }
      .forall(w => w.partitionSpec.nonEmpty ||
        w.child.toString.contains("__bkt")),
      s"stratified_ate: user-scale rank rides __bkt:\n$sa")
  }

  test("round-12 seventh tranche: centrality/attribution plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    // betweenness/harmonic: every BFS/backward step is an EQUIJOIN on
    // vocabulary-bounded checkpointed frames — no nested loop, no
    // cartesian; the only window is undirectedEdges' per-user lag.
    for ((name, df) <- Seq(
      "betweenness_sampled" -> q("betweenness_sampled"),
      "harmonic_centrality" -> q("harmonic_centrality"))) {
      val p = plan(df)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty &&
        p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$name: equijoins only:\n$p")
      assert(p.collect { case w: WindowExec => w }
        .forall(_.partitionSpec.nonEmpty),
        s"$name: no single-partition window:\n$p")
    }
    // markov_attribution: exactly the three deliberate bounded
    // crossings — the (types+1)-row variant knockout expansion and
    // the two 1-row base/total broadcasts; the absorption iteration
    // itself is equijoins on constant-size frames.
    val ma = plan(q("markov_attribution"))
    val crossings =
      ma.collect { case j: CartesianProductExec => j }.length +
        ma.collect { case j: BroadcastNestedLoopJoinExec => j }.length
    assert(crossings <= 3,
      s"markov_attribution: only the bounded variant/base/total crossings:\n$ma")
  }

  test("round-12 eighth tranche: effect-size/ablation/decay plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    // cliffs_delta: join-free, every window on the (type, value-grid)
    // frame is type-partitioned.
    val cdp = plan(q("cliffs_delta"))
    assert(cdp.collect { case j: CartesianProductExec => j }.isEmpty &&
      cdp.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"cliffs_delta joins nothing:\n$cdp")
    assert(cdp.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"cliffs_delta: no single-partition window:\n$cdp")
    // source_ablation: one scan + the 1-row global broadcast; no
    // windows at all.
    val sab = plan(q("source_ablation"))
    assert(sab.collect { case j: CartesianProductExec => j }.isEmpty &&
      sab.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"source_ablation: only the 1-row global broadcast crosses:\n$sab")
    assert(sab.collect { case w: WindowExec => w }.isEmpty,
      s"source_ablation is window-free:\n$sab")
    // decay_attribution: user-keyed equijoin, per-purchase windows.
    val dat = plan(q("decay_attribution"))
    assert(dat.collect { case j: CartesianProductExec => j }.isEmpty &&
      dat.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"decay_attribution: equijoin only:\n$dat")
    assert(dat.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"decay_attribution: no single-partition window:\n$dat")
  }

  test("round-12 ninth tranche: shapley/ktruss plans bounded as designed") {
    // shapley: the coalition math crosses only the n-row channel
    // frame against the 2ⁿ-row v frame (twice: φ and touched); the
    // v(S∪c) lookup is an EQUIJOIN on umask = smask|bit.
    val sh = plan(q("shapley_attribution"))
    val shCross =
      sh.collect { case j: CartesianProductExec => j }.length +
        sh.collect { case j: BroadcastNestedLoopJoinExec => j }.length
    assert(shCross <= 3,
      s"shapley: only the bounded channel-frame crossings:\n$sh")
    // ktruss: every peel round is equijoins on the bounded edge
    // frame; the only window is undirectedEdges' per-user lag.
    import org.apache.spark.sql.execution.window.WindowExec
    val kt = plan(q("ktruss"))
    assert(kt.collect { case j: CartesianProductExec => j }.isEmpty &&
      kt.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"ktruss: equijoins only:\n$kt")
    assert(kt.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"ktruss: no single-partition window:\n$kt")
  }

  test("round-12 tenth tranche: growth/ccnet/sampling plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    // growth_accounting: one user-keyed dedup + lag/lead window;
    // only the 1-row max-day broadcast crosses.
    val ga = plan(q("growth_accounting"))
    assert(ga.collect { case j: CartesianProductExec => j }.isEmpty &&
      ga.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"growth_accounting: only the max-day broadcast crosses:\n$ga")
    assert(ga.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"growth_accounting: no single-partition window:\n$ga")
    // ccnet_buckets: lm_quality's 1-row totals broadcast is the only
    // crossing; the cumulative windows ride the lang-partitioned
    // score GRID, never a document frame.
    val cb = plan(q("ccnet_buckets"))
    assert(cb.collect { case j: CartesianProductExec => j }.isEmpty &&
      cb.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"ccnet_buckets: only the grams-total broadcast crosses:\n$cb")
    assert(cb.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"ccnet_buckets: no single-partition window:\n$cb")
    // consistent_sample: two map-side filters, one semi-join, six
    // 1-row count broadcasts assembling the 3-row report.
    val cs = plan(q("consistent_sample"))
    assert(cs.collect { case j: CartesianProductExec => j }.isEmpty &&
      cs.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 6,
      s"consistent_sample: only 1-row count broadcasts cross:\n$cs")
  }

  test("round-12 eleventh tranche: pvm/ivf-audit plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    // price_volume_mix: broadcast part dim (equijoin) + the 1-row
    // date-bounds broadcast; one fact aggregate, no windows.
    val pv = plan(q("price_volume_mix"))
    assert(pv.collect { case j: CartesianProductExec => j }.isEmpty &&
      pv.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"price_volume_mix: only the 1-row bounds broadcast crosses:\n$pv")
    assert(pv.collect { case w: WindowExec => w }.isEmpty,
      s"price_volume_mix is window-free:\n$pv")
    // ivf_balance: the one corpus × 16-centroid assignment broadcast
    // (the annIvfOf-exempted shape); per-vector windows partitioned.
    val ib = plan(graft.operators.Similarity.ivfBalanceOf(embeddings))
    assert(ib.collect { case j: CartesianProductExec => j }.isEmpty &&
      ib.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"ivf_balance: only the centroid broadcast crosses:\n$ib")
    assert(ib.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"ivf_balance: no single-partition window:\n$ib")
    // nprobe_sweep: five Q-or-centroid-bounded broadcast legs (the
    // knn query set + four IVF assignments), nothing unbounded.
    val ns = plan(graft.operators.Similarity.nprobeSweepOf(embeddings))
    assert(ns.collect { case j: CartesianProductExec => j }.isEmpty &&
      ns.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 16,
      s"nprobe_sweep: only bounded audit legs cross:\n$ns")
  }

  test("round-12 twelfth tranche: tvd/dim/dormancy plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    // source_word_tvd: the only crossing is the bounded source-list
    // pair frame; the top-K pick is a TakeOrdered inside the
    // checkpointed profile subtree.
    // (the top-K TakeOrdered sits behind the profile frame's lazy
    // checkpoint leaf, so it is not visible in this plan tree)
    val tv = plan(q("source_word_tvd"))
    assert(tv.collect { case j: CartesianProductExec => j }.isEmpty &&
      tv.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"source_word_tvd: only the source-pair cross:\n$tv")
    // dim_profile: one map-side explode + aggregate — nothing else.
    val dp = plan(q("dim_profile"))
    assert(dp.collect { case j: CartesianProductExec => j }.isEmpty &&
      dp.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      dp.collect { case w: WindowExec => w }.isEmpty,
      s"dim_profile is one exploded aggregate:\n$dp")
    // dormancy_spells: per-user lag + the 1-row total broadcast.
    val ds = plan(q("dormancy_spells"))
    assert(ds.collect { case j: CartesianProductExec => j }.isEmpty &&
      ds.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      s"dormancy_spells: only the 1-row total crosses:\n$ds")
    assert(ds.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"dormancy_spells: no single-partition window:\n$ds")
  }

  test("round-12 thirteenth tranche: fill-rate/abc plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    // order_fill_rate: the line frame pre-aggregates to order grain,
    // then ONE orderkey equijoin — no crossings, no windows.
    val fr = plan(q("order_fill_rate"))
    assert(fr.collect { case j: CartesianProductExec => j }.isEmpty &&
      fr.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      fr.collect { case w: WindowExec => w }.isEmpty,
      s"order_fill_rate: one equijoin, no windows:\n$fr")
    // abc_classification: the part rank rides the two-phase exchange
    // (parts SCALE with the corpus in TPC-H) — every window __bkt-
    // partitioned, no crossings.
    val abc = plan(q("abc_classification"))
    assert(abc.collect { case j: CartesianProductExec => j }.isEmpty &&
      abc.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"abc: no crossings:\n$abc")
    assert(abc.collect { case w: WindowExec => w }
      .forall(w => w.partitionSpec.nonEmpty ||
        w.child.toString.contains("__bkt")),
      s"abc: the part rank rides __bkt:\n$abc")
  }

  test("round-12 tranches 15-17: index/eval/embedding-health plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // fisher_price_index: two 1-row base-month crosses, the basket
    // join is a part-keyed equijoin.
    val fp = plan(q("fisher_price_index"))
    noCartesian("fisher", fp)
    assert(bnlj(fp).size <= 2, s"fisher: only the 1-row bounds cross:\n$fp")
    // order_reconcile: one line aggregate + ONE orderkey equijoin —
    // no crossings, no windows at all.
    val or = plan(q("order_reconcile"))
    noCartesian("order_reconcile", or)
    assert(bnlj(or).isEmpty &&
      or.collect { case w: WindowExec => w }.isEmpty,
      s"order_reconcile: equijoin only, window-free:\n$or")
    // hellinger: the term join is token-keyed; only the bounded
    // totals-scaffold crosses.
    val hm = plan(q("hellinger_matrix"))
    noCartesian("hellinger", hm)
    assert(bnlj(hm).size <= 1, s"hellinger: scaffold cross only:\n$hm")
    // zipf_slope: the within-source vocabulary rank rides the grouped
    // two-phase exchange — every window partitioned or __bkt-bucketed,
    // never a source-width single task.
    val zs = plan(q("zipf_slope"))
    noCartesian("zipf", zs)
    assert(zs.collect { case w: WindowExec => w }
      .forall(w => w.child.toString.contains("__bkt") ||
        w.partitionSpec.exists(_.toString.contains("__bkt"))),
      s"zipf: the vocab rank rides __bkt:\n$zs")
    // holt/pinball: one 1-row bounds cross each (the day spine);
    // every window partitioned (bounded daily frames).
    Seq("holt" -> plan(q("holt_backtest")),
      "pinball" -> plan(q("pinball_loss"))).foreach {
      case (n, p) =>
        noCartesian(n, p)
        assert(bnlj(p).size <= 1, s"$n: only the day-spine cross:\n$p")
        assert(p.collect { case w: WindowExec => w }
          .forall(_.partitionSpec.nonEmpty), s"$n: windows partitioned:\n$p")
    }
    // isotropy: map-only against the 1-row centroid — no equijoin
    // shuffle, no windows, one bounded cross.
    val ia = plan(q("isotropy_audit"))
    noCartesian("isotropy", ia)
    assert(ia.collect { case w: WindowExec => w }.isEmpty,
      s"isotropy: window-free:\n$ia")
    // hubness: pairs ride the cluster equijoin (never cross-cell);
    // the only crosses are the k-row centroid broadcasts of the
    // assignment; the top-k window is per-point.
    val ha = plan(q("hubness_audit"))
    noCartesian("hubness", ha)
    assert(ha.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty), s"hubness: per-point window:\n$ha")
    // rmst: the life-table risk window is arm-partitioned; the only
    // crosses are the 1-row report-date bound (planned once per
    // consumer subtree: the life table and the per-arm user count).
    val rm = plan(q("rmst_arms"))
    noCartesian("rmst", rm)
    assert(bnlj(rm).size <= 2, s"rmst: 1-row crosses only:\n$rm")
  }

  test("round-12 tranches 18-20: query-shape/dedup/robust plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // pricing_summary: ONE aggregate behind the 1-row date bound — no
    // windows, no equijoin shuffles beyond the bound cross.
    val ps = plan(q("pricing_summary"))
    noCartesian("pricing_summary", ps)
    assert(ps.collect { case w: WindowExec => w }.isEmpty &&
      bnlj(ps).size <= 1, s"pricing_summary: one cross, window-free:\n$ps")
    // idle_customers: the LEFT ANTI probe must actually plan as an
    // anti join (the row exists to exercise that shape).
    val ic = plan(q("idle_customers"))
    noCartesian("idle_customers", ic)
    def antiJoins(p: SparkPlan) = p.collect {
      case j: BroadcastHashJoinExec if j.joinType.toString == "LeftAnti" => j
      case j: SortMergeJoinExec if j.joinType.toString == "LeftAnti" => j
      case j: ShuffledHashJoinExec if j.joinType.toString == "LeftAnti" => j
    }
    assert(antiJoins(ic).nonEmpty, s"idle_customers: anti-join planned:\n$ic")
    // small_order_revenue / ltv_early_signal: pure equijoin shapes.
    Seq("small_order_revenue" -> plan(q("small_order_revenue")),
      "ltv_early_signal" -> plan(q("ltv_early_signal"))).foreach {
      case (n, p) => noCartesian(n, p)
        assert(bnlj(p).isEmpty, s"$n: equijoins only:\n$p")
    }
    // skipgram: map-side pair explode + the 1-row totals cross only.
    val sg = plan(q("skipgram_pairs"))
    noCartesian("skipgram", sg)
    assert(bnlj(sg).size <= 1, s"skipgram: totals cross only:\n$sg")
    // hodges_lehmann / median_ci: every window partitioned (bounded
    // daily/grid frames), no crossings.
    Seq("hodges_lehmann" -> plan(q("hodges_lehmann")),
      "median_ci" -> plan(q("median_ci"))).foreach {
      case (n, p) => noCartesian(n, p)
        assert(p.collect { case w: WindowExec => w }
          .forall(_.partitionSpec.nonEmpty), s"$n: windows partitioned:\n$p")
    }
    // image/crossmodal dedup: the band join is an equijoin over
    // DISTINCT hashes; only bounded 1-row folds cross.
    Seq("image_ahash" -> plan(Multimodal.imageAhashDedupOf(spark, docs)),
      "crossmodal" -> plan(Multimodal.crossmodalDedupAuditOf(spark, docs)))
      .foreach { case (n, p) => noCartesian(n, p) }
    // cluster_stability_ari: k-row/1-row crosses only, no cartesian.
    noCartesian("ari", plan(q("cluster_stability_ari")))
  }

  test("round-12 tranches 21-23: eval/growth/provenance plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // promotion_effect / orders_per_customer_dist: equijoins only.
    Seq("promotion_effect" -> plan(q("promotion_effect")),
      "orders_per_customer_dist" ->
        plan(q("orders_per_customer_dist"))).foreach {
      case (n, p) => noCartesian(n, p)
        assert(bnlj(p).isEmpty, s"$n: equijoins only:\n$p")
    }
    // auc_delong_se: grid windows partitioned by source; no crossings.
    val ad = plan(q("auc_delong_se"))
    noCartesian("auc_delong_se", ad)
    assert(ad.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty), s"delong: grid windows:\n$ad")
    // lift_table: the decile rank rides the two-phase exchange (__bkt
    // windows only besides the bounded 10-row cumsum).
    val lt = plan(q("lift_table"))
    noCartesian("lift_table", lt)
    assert(lt.collect { case w: WindowExec => w }
      .forall(w => w.partitionSpec.nonEmpty ||
        w.child.toString.contains("__bkt") ||
        w.toString.contains("decile")),
      s"lift: rank rides __bkt, cumsum is the 10-row frame:\n$lt")
    // seasonal_strength / dau_stickiness / mutual_knn /
    // ahash_threshold_sweep / cross_source_dup_share: no cartesian.
    Seq(
      "seasonal_strength" -> plan(q("seasonal_strength")),
      "dau_stickiness" -> plan(q("dau_stickiness")),
      "mutual_knn_rate" -> plan(q("mutual_knn_rate")),
      "ahash_threshold_sweep" ->
        plan(Multimodal.ahashThresholdSweepOf(spark, docs)),
      "cross_source_dup_share" ->
        plan(q("cross_source_dup_share")))
      .foreach { case (n, p) => noCartesian(n, p) }
  }

  test("round-13 tranches: stat/forecast/TPC-H/behavior/graph plans bounded as designed") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // Rank/stat tests: windows ride the (type, value) grid — always
    // partitioned; equijoins only.
    Seq("kruskal_wallis" -> plan(q("kruskal_wallis")),
      "welch_test" -> plan(q("welch_test")),
      "ctr_wilson" -> plan(q("ctr_wilson"))).foreach {
      case (n, p) =>
        noCartesian(n, p)
        assert(bnlj(p).isEmpty, s"$n: equijoins only:\n$p")
        assert(p.collect { case w: WindowExec => w }
          .forall(_.partitionSpec.nonEmpty), s"$n: grid windows only:\n$p")
    }
    // Forecast family: the only non-equijoins are the 1-row bounds
    // broadcasts (dense spine / croston bounds / xyz W + totals).
    Seq("holt_winters_backtest" ->
        plan(q("holt_winters_backtest")),
      "croston_backtest" -> plan(q("croston_backtest")),
      "xyz_classification" -> plan(q("xyz_classification")))
      .foreach { case (n, p) =>
        noCartesian(n, p)
        assert(bnlj(p).length <= 3, s"$n: only 1-row bounds broadcasts:\n$p")
      }
    // TPC-H shapes: Q3's top-k must be TakeOrderedAndProject (never a
    // global sort) with both date gates pushed to the scans; Q8/Q19
    // are pure equijoin trees with the Q19 disjunction pruning the
    // part scan.
    val uo = plan(q("unshipped_orders"))
    noCartesian("unshipped_orders", uo)
    assert(uo.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"unshipped_orders: top-k via TakeOrderedAndProject:\n$uo")
    val uoPushed = uo.collect { case f: FileSourceScanExec => f }
      .map(_.metadata("PushedFilters")).mkString
    assert(uoPushed.contains("l_shipdate") && uoPushed.contains("o_orderdate"),
      s"unshipped_orders: date gates pushed: $uoPushed")
    val nms = plan(q("nation_market_share"))
    noCartesian("nation_market_share", nms)
    assert(bnlj(nms).isEmpty, s"nation_market_share: equijoins only:\n$nms")
    val bbr = plan(q("brand_basket_revenue"))
    noCartesian("brand_basket_revenue", bbr)
    assert(bnlj(bbr).isEmpty, s"brand_basket_revenue: equijoins only:\n$bbr")
    val bbrPushed = bbr.collect { case f: FileSourceScanExec => f }
      .map(_.metadata("PushedFilters")).mkString
    assert(bbrPushed.contains("p_brand"),
      s"brand_basket_revenue: the disjunction prunes the part scan: $bbrPushed")
    // Behavior tranche: every consumer of the one gap-session tag keeps
    // user-partitioned windows over exactly ONE user_id hash exchange
    // (exchanges exist only after EnsureRequirements: AQE off); the L28
    // curve and the payment audit stay equijoin/1-row-broadcast.
    def exchangesBelowWindows(df: DataFrame): Seq[ShuffleExchangeExec] = {
      val k = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(k)
      spark.conf.set(k, "false")
      try df.queryExecution.executedPlan.collect { case w: WindowExec => w }
        .flatMap(_.collect { case e: ShuffleExchangeExec => e }).distinct
      finally spark.conf.set(k, prev)
    }
    Seq("sessionize", "top_paths", "entry_conversion",
      "session_depth_conversion", "session_funnel").foreach { n =>
      val p = plan(q(n))
      noCartesian(n, p)
      assert(p.collect { case w: WindowExec => w }
        .forall(_.partitionSpec.nonEmpty), s"$n: user-partitioned windows:\n$p")
      val keys = exchangesBelowWindows(q(n)).map(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions.collect {
          case a: Attribute => a.name }
        case other => Seq(other.toString)
      })
      assert(keys == Seq(Seq("user_id")),
        s"$n: one user_id hash exchange below the windows, got $keys")
    }
    val puc = plan(q("power_user_curve"))
    noCartesian("power_user_curve", puc)
    assert(bnlj(puc).length <= 2, s"power_user_curve: 1-row bounds only:\n$puc")
    val dp = plan(q("duplicate_payments"))
    noCartesian("duplicate_payments", dp)
    assert(bnlj(dp).isEmpty, s"duplicate_payments: custkey equijoin:\n$dp")
    // Graph tranche: textrank's only non-equijoins are the 1-row nn
    // broadcasts; its top-k is TakeOrderedAndProject. The diameter
    // assembly is 1-row broadcast crossJoins over checkpointed BFS
    // results.
    val tk = plan(q("textrank_keywords"))
    noCartesian("textrank_keywords", tk)
    assert(tk.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"textrank: top-k via TakeOrderedAndProject:\n$tk")
    noCartesian("diameter_estimate", plan(q("diameter_estimate")))
  }

  test("round-13 tranches 6-9: query-shape/stat/graph plans bounded as designed") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // Q4/Q7: equijoin/semi trees only.
    Seq("late_orders_by_priority" ->
        plan(q("late_orders_by_priority")),
      "trade_flows" -> plan(q("trade_flows")),
      "repeat_purchase_latency" ->
        plan(q("repeat_purchase_latency"))).foreach {
      case (n, p) => noCartesian(n, p)
        assert(bnlj(p).isEmpty, s"$n: equijoins only:\n$p")
    }
    // Q10: TakeOrdered top-k with the returnflag + window pushed.
    val rr = plan(q("returned_revenue_topk"))
    noCartesian("returned_revenue_topk", rr)
    assert(rr.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"returned_revenue_topk: top-k via TakeOrderedAndProject:\n$rr")
    val rrPushed = rr.collect { case f: FileSourceScanExec => f }
      .map(_.metadata("PushedFilters")).mkString
    assert(rrPushed.contains("l_returnflag") && rrPushed.contains("o_orderdate"),
      s"returned_revenue_topk: gates pushed: $rrPushed")
    // Stat tranche: poisson's exposure is the one 1-row broadcast;
    // cochran/flesch/tokenizer are join-free.
    val pr = plan(q("poisson_rate_test"))
    noCartesian("poisson_rate_test", pr)
    assert(bnlj(pr).length <= 1, s"poisson: 1-row exposure only:\n$pr")
    Seq("cochran_armitage" -> plan(q("cochran_armitage")),
      "flesch_kincaid" -> plan(q("flesch_kincaid")),
      "tokenizer_efficiency" ->
        plan(q("tokenizer_efficiency"))).foreach {
      case (n, p) => noCartesian(n, p)
        assert(bnlj(p).isEmpty &&
          p.collect { case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j }.isEmpty,
          s"$n: join-free:\n$p")
    }
    // pivot_scc: checkpointed BFS results assemble via 1-row
    // broadcasts only.
    noCartesian("pivot_scc", plan(q("pivot_scc")))
  }

  test("round-13 tranches 10-11: funnel/graph/heatmap plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // Funnel tranche: chained-min equijoins, user-partitioned
    // session windows, no nested loops.
    Seq("funnel_stage_latency" -> plan(q("funnel_stage_latency")),
      "gateway_items" -> plan(q("gateway_items"))).foreach {
      case (n, p) => noCartesian(n, p)
        assert(bnlj(p).isEmpty, s"$n: equijoins only:\n$p")
    }
    val sfp = plan(q("session_funnel"))
    noCartesian("session_funnel", sfp)
    assert(sfp.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"session_funnel: user-partitioned windows:\n$sfp")
    // padding_waste: one scan + bounded bucket frame, join-free
    // besides the union of the two readout legs.
    val pw = plan(q("padding_waste"))
    noCartesian("padding_waste", pw)
    assert(bnlj(pw).isEmpty, s"padding_waste: join-free:\n$pw")
    // reciprocity / hourly_heatmap: only 1-row readout broadcasts.
    Seq("reciprocity" -> plan(q("reciprocity")),
      "hourly_heatmap" -> plan(q("hourly_heatmap")))
      .foreach { case (n, p) =>
        noCartesian(n, p)
        assert(bnlj(p).length <= 1, s"$n: 1-row readout broadcast only:\n$p")
      }
    // kfold_balance rides the assignment's stratum windows
    // (partitioned); price_dispersion is an equijoin tree.
    Seq("kfold_balance" ->
        plan(q("kfold_balance")),
      "price_dispersion" -> plan(q("price_dispersion")))
      .foreach { case (n, p) =>
        noCartesian(n, p)
        assert(bnlj(p).isEmpty, s"$n: equijoins only:\n$p")
      }
    // association_rules: the item_affinity equijoin tree + TakeOrdered.
    val ar = plan(q("association_rules"))
    noCartesian("association_rules", ar)
    assert(bnlj(ar).isEmpty, s"association_rules: equijoins only:\n$ar")
  }

  test("round-14 tranches: new-operator plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // join-free map-side counting shapes (the only broadcast is a
    // 1-row readout where present)
    Seq("simpson_diversity" -> plan(q("simpson_diversity")),
      "term_burstiness" -> plan(q("term_burstiness")),
      "winnow_fingerprints" ->
        plan(q("winnow_fingerprints")))
      .foreach { case (n, p) =>
        noCartesian(n, p)
        assert(bnlj(p).length <= 1, s"$n: 1-row readout broadcast only:\n$p")
      }
    // equijoin trees
    Seq("single_sourcing" -> plan(q("single_sourcing")),
      "rake_keywords" -> plan(q("rake_keywords")))
      .foreach { case (n, p) =>
        noCartesian(n, p)
        assert(bnlj(p).isEmpty, s"$n: equijoins only:\n$p")
      }
    // rake's only window is the per-doc stopword cumsum — partitioned
    val rk = plan(q("rake_keywords"))
    assert(rk.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"rake_keywords: doc-partitioned windows only:\n$rk")
    // eigenvector / alignment / pettitt: bounded-frame or 1-row
    // broadcasts only (edge frames, dim sums, day spans)
    Seq("eigenvector_centrality" ->
        plan(q("eigenvector_centrality")),
      "embedding_alignment" -> plan(q("embedding_alignment")),
      "pettitt_changepoint" ->
        plan(q("pettitt_changepoint")))
      .foreach { case (n, p) => noCartesian(n, p) }
    // tranches 5-8: every window partitioned (type/arm/token-keyed —
    // no single-task global sort), no cartesians anywhere
    Seq("brown_forsythe" -> plan(q("brown_forsythe")),
      "mann_kendall" -> plan(q("mann_kendall")),
      "demand_classes" -> plan(q("demand_classes")),
      "wasserstein_drift" ->
        plan(q("wasserstein_drift")),
      "runs_test" -> plan(q("runs_test")),
      "burrows_delta" -> plan(q("burrows_delta")),
      "hub_ablation" -> plan(q("hub_ablation")))
      .foreach { case (n, p) =>
        noCartesian(n, p)
        assert(p.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w }
          .forall(_.partitionSpec.nonEmpty),
          s"$n: partitioned windows only:\n$p")
      }
  }

  test("round-15 tranche: new-operator plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // single-scan single-aggregate shapes: both quality gates ride ONE
    // projection (mcnemar), the CMH user fold carries only the 1-row
    // report-date broadcast
    val mc = plan(q("mcnemar_test"))
    noCartesian("mcnemar_test", mc)
    assert(mc.collect { case f: FileSourceScanExec => f }.length == 1,
      s"mcnemar: both gates must ride ONE scan:\n$mc")
    assert(bnlj(mc).isEmpty, s"mcnemar: join-free:\n$mc")
    val mh = plan(q("mantel_haenszel"))
    noCartesian("mantel_haenszel", mh)
    assert(bnlj(mh).length <= 1,
      s"mantel_haenszel: 1-row report-date broadcast only:\n$mh")
    // manifest-bounded planner: one window, partitioned, no join
    val cp = plan(q("compaction_plan"))
    noCartesian("compaction_plan", cp)
    assert(bnlj(cp).isEmpty, s"compaction_plan: join-free:\n$cp")
    assert(cp.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"compaction_plan: partitioned windows only:\n$cp")
    // FIFO match: windows partitioned by part, the allocation join is
    // an equijoin (range predicate rides as post-filter, never a
    // nested loop)
    val fm = plan(q("fifo_match"))
    noCartesian("fifo_match", fm)
    assert(bnlj(fm).isEmpty, s"fifo_match: equijoin only:\n$fm")
    assert(fm.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"fifo_match: part-keyed windows only:\n$fm")
    // bounded-frame statistics: every cross/theta join runs on
    // aggregate-bounded frames (≤ bins/ladder/calendar rows), never
    // on a fact side; windows partitioned where a fact could flow
    for ((n, p) <- Seq(
      "isotonic_calibration" ->
        plan(q("isotonic_calibration")),
      "jonckheere_trend" ->
        plan(q("jonckheere_trend")),
      "friedman_test" -> plan(q("friedman_test")))) {
      noCartesian(n, p)
      assert(p.collect { case f: FileSourceScanExec => f }.length <= 1,
        s"$n: the fact must ride ONE scan (bounded frames re-derive " +
          s"from the checkpoint, not the parquet):\n$p")
    }
    val fr = plan(q("friedman_test"))
    assert(fr.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"friedman: day-partitioned rank windows only:\n$fr")
    // image/audio folds: map-only to bounded aggregates, the only
    // nested loops are 1-row readout crosses
    for ((n, p) <- Seq(
      "image_phash_dedup" ->
        plan(Multimodal.imagePhashDedupOf(spark, docs)),
      "audio_tone_detect" ->
        plan(Multimodal.audioToneDetect(spark, Sf)))) {
      noCartesian(n, p)
      assert(bnlj(p).length <= 1, s"$n: 1-row readout cross only:\n$p")
    }
    // mcnemar stays one shuffle (the 1-row global aggregate) plus none
    assert(mc.collect { case e: ShuffleExchangeExec => e }.length <= 1,
      s"mcnemar: single global aggregate:\n$mc")
    // yuen: the KW value-grid machinery — partitioned windows, no join
    val yu = plan(q("yuen_test"))
    noCartesian("yuen_test", yu)
    assert(bnlj(yu).isEmpty, s"yuen: join-free:\n$yu")
    assert(yu.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"yuen: (type, arm)-partitioned windows only:\n$yu")
    // capture-recapture: two registered detector pipelines + one
    // doc_id equijoin — nothing unbounded crosses
    val cr = plan(q("dedup_capture_recapture"))
    noCartesian("dedup_capture_recapture", cr)
    // Q21: equijoin + order-keyed windows; status filter reaches the
    // orders scan; top-k is a global-limit, never a full sort
    val bs = plan(q("blocking_suppliers"))
    noCartesian("blocking_suppliers", bs)
    assert(bs.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"blocking: order-keyed windows only:\n$bs")
    assert(bs.collect { case f: FileSourceScanExec => f }
      .exists(_.dataFilters.exists(_.toString.contains("o_orderstatus"))),
      s"blocking: status filter must reach the orders scan:\n$bs")
    assert(bs.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"blocking: top-k must be TakeOrderedAndProject:\n$bs")
    // bland-altman / overdispersion: scan + bounded folds only
    for ((n, p) <- Seq(
      "bland_altman" -> plan(q("bland_altman")),
      "overdispersion_check" ->
        plan(q("overdispersion_check")))) {
      noCartesian(n, p)
      assert(bnlj(p).length <= 1, s"$n: 1-row limits broadcast only:\n$p")
    }
  }

  test("round-16 tranche: new-operator plans bounded as designed") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // Q15: ONE fact aggregate, quarter-partitioned windows on the
    // bounded frame, supplier dim broadcast
    val ts = plan(q("top_supplier_share"))
    noCartesian("top_supplier_share", ts)
    assert(ts.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"top_supplier: quarter-partitioned windows only:\n$ts")
    assert(ts.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"top_supplier: the supplier dim must broadcast:\n$ts")
    // Q18: the HAVING cut drives the joins, customer broadcast,
    // top-k as TakeOrderedAndProject — never a global sort
    val lo = plan(q("large_orders"))
    noCartesian("large_orders", lo)
    assert(lo.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"large_orders: top-100 must be TakeOrderedAndProject:\n$lo")
    assert(lo.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"large_orders: the customer dim must broadcast:\n$lo")
    // Q6: join-free scan-bound aggregate with BOTH band predicates
    // pushed into the parquet scan
    val dw = plan(q("discount_whatif"))
    noCartesian("discount_whatif", dw)
    assert(bnlj(dw).isEmpty, s"discount_whatif: join-free:\n$dw")
    val scans = dw.collect { case f: FileSourceScanExec => f }
    assert(scans.length == 1, s"discount_whatif: one scan:\n$dw")
    assert(scans.head.dataFilters.exists(_.toString.contains("l_discount")) &&
      scans.head.dataFilters.exists(_.toString.contains("l_quantity")),
      s"discount_whatif: band predicates must reach the scan:\n$dw")
    // rank/residual statistics: partitioned windows, no cartesian,
    // the fact on one scan
    for ((n, p) <- Seq(
      "dunn_posthoc" -> plan(q("dunn_posthoc")),
      "durbin_watson" -> plan(q("durbin_watson")))) {
      noCartesian(n, p)
      assert(bnlj(p).isEmpty, s"$n: equijoin/window only:\n$n")
      assert(p.collect { case w: WindowExec => w }
        .forall(_.partitionSpec.nonEmpty),
        s"$n: partitioned windows only:\n$p")
      assert(p.collect { case f: FileSourceScanExec => f }.length <= 1,
        s"$n: the fact must ride ONE scan:\n$p")
    }
    // gate agreement: ONE scan, join-free, a single global aggregate
    for ((n, p) <- Seq(
      "cochran_q_gates" -> plan(q("cochran_q_gates")),
      "fleiss_kappa_gates" -> plan(q("fleiss_kappa_gates")))) {
      noCartesian(n, p)
      assert(bnlj(p).isEmpty, s"$n: join-free:\n$p")
      assert(p.collect { case f: FileSourceScanExec => f }.length == 1,
        s"$n: all three gates must ride ONE scan:\n$p")
      assert(p.collect { case e: ShuffleExchangeExec => e }.length <= 1,
        s"$n: single global aggregate:\n$p")
    }
    // power_mde: the ab_test fold — only the 1-row report-date cross
    val pm = plan(q("power_mde"))
    noCartesian("power_mde", pm)
    assert(bnlj(pm).length <= 1, s"power_mde: 1-row broadcast only:\n$pm")
    // embedding MMD: dim-partitioned windows on the bounded frame,
    // one embedding scan, no join at all
    val em = plan(q("embedding_mmd"))
    noCartesian("embedding_mmd", em)
    assert(bnlj(em).isEmpty, s"embedding_mmd: join-free:\n$em")
    assert(em.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"embedding_mmd: dim-partitioned windows only:\n$em")
    assert(em.collect { case f: FileSourceScanExec => f }.length == 1,
      s"embedding_mmd: one embedding scan:\n$em")
    // audio clipping: map-only codec fold into one bounded aggregate
    val ac = plan(q("audio_clipping_audit"))
    noCartesian("audio_clipping_audit", ac)
    assert(bnlj(ac).isEmpty, s"audio_clipping: join-free:\n$ac")
    // second tranche: paired test, QTE, sentence dedup, provenance
    val wsr = plan(q("wilcoxon_signed_rank"))
    noCartesian("wilcoxon_signed_rank", wsr)
    assert(bnlj(wsr).isEmpty, s"wilcoxon: join-free:\n$wsr")
    assert(wsr.collect { case f: FileSourceScanExec => f }.length == 1,
      s"wilcoxon: one fact scan:\n$wsr")
    val ql = plan(q("quantile_lift"))
    noCartesian("quantile_lift", ql)
    assert(bnlj(ql).length <= 1,
      s"quantile_lift: only the 4-row quantile broadcast:\n$ql")
    assert(ql.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"quantile_lift: (type, arm)-partitioned windows only:\n$ql")
    val sd = plan(q("sentence_dedup"))
    noCartesian("sentence_dedup", sd)
    assert(bnlj(sd).isEmpty, s"sentence_dedup: join-free:\n$sd")
    assert(sd.collect { case f: FileSourceScanExec => f }.length == 1,
      s"sentence_dedup: one scan:\n$sd")
    assert(sd.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"sentence_dedup: hash-partitioned total window only:\n$sd")
    val som = plan(q("source_overlap_matrix"))
    noCartesian("source_overlap_matrix", som)
    assert(bnlj(som).isEmpty,
      s"source_overlap: pair mass explodes map-side, never a joins:\n$som")
  }

  test("round-16 third tranche: the six TPC-H completions bounded as designed") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // Q2: dims broadcast, the min-cost window rides the bounded
    // (part × supplier) frame, top-100 is TakeOrderedAndProject
    val mc = plan(q("min_cost_supplier"))
    noCartesian("min_cost_supplier", mc)
    assert(mc.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"min_cost: the region→nation→supplier chain must broadcast:\n$mc")
    assert(mc.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"min_cost: part-partitioned window only:\n$mc")
    assert(mc.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"min_cost: top-100 must be TakeOrderedAndProject:\n$mc")
    // Q9: no window at all — the profit expression folds into ONE
    // aggregate; the nation chain broadcasts
    val np = plan(q("nation_profit"))
    noCartesian("nation_profit", np)
    assert(bnlj(np).isEmpty, s"nation_profit: equijoins only:\n$np")
    assert(np.collect { case w: WindowExec => w }.isEmpty,
      s"nation_profit: aggregate-only, no window:\n$np")
    assert(np.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"nation_profit: the supplier→nation chain must broadcast:\n$np")
    // Q11: the nation's supplier keys broadcast as a semi-join; the
    // total is a 1-row broadcast (never a single-partition window)
    val ip = plan(q("important_parts"))
    noCartesian("important_parts", ip)
    assert(bnlj(ip).length <= 1,
      s"important_parts: only the 1-row total broadcast:\n$ip")
    assert(ip.collect { case w: WindowExec => w }.isEmpty,
      s"important_parts: no window — the total is a 1-row broadcast:\n$ip")
    // Q12: one fact⋈fact equijoin into one bounded aggregate
    val pm2 = plan(q("priority_ship_mix"))
    noCartesian("priority_ship_mix", pm2)
    assert(bnlj(pm2).isEmpty, s"priority_ship_mix: equijoin only:\n$pm2")
    assert(pm2.collect { case w: WindowExec => w }.isEmpty,
      s"priority_ship_mix: the CASE folds into the aggregate:\n$pm2")
    // Q16: the deficit-book anti-join broadcasts; distinct resolves
    // as an aggregate, never count(DISTINCT) over a wide shuffle
    val psv = plan(q("part_supplier_variety"))
    noCartesian("part_supplier_variety", psv)
    assert(psv.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"part_supplier_variety: broadcast anti-join:\n$psv")
    // Q20: year+prefix cuts reach the scans; the half-share window
    // rides the part-partitioned bounded frame
    val ex = plan(q("excess_shippers"))
    noCartesian("excess_shippers", ex)
    assert(ex.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"excess_shippers: part-partitioned window only:\n$ex")
    val exScans = ex.collect { case f: FileSourceScanExec => f }
    assert(exScans.exists(_.dataFilters.exists(
        _.toString.contains("l_shipdate"))),
      s"excess_shippers: the 1997 cut must reach the fact scan:\n$ex")
  }

  test("round-16 fourth tranche: stats-shelf plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // sign test + TOST: join-free single folds off ONE fact scan
    for ((n, p) <- Seq(
      "sign_test" -> plan(q("sign_test")),
      "tost_equivalence" ->
        plan(q("tost_equivalence")))) {
      noCartesian(n, p)
      assert(bnlj(p).isEmpty, s"$n: join-free:\n$p")
      assert(p.collect { case f: FileSourceScanExec => f }.length == 1,
        s"$n: one fact scan:\n$p")
    }
    // Mood median: type-partitioned cumulative window, the ≤|types|
    // median frame broadcast back — never a per-arm sort
    val mm = plan(q("mood_median"))
    noCartesian("mood_median", mm)
    assert(mm.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"mood_median: partitioned windows only:\n$mm")
    // Cox-Stuart: the half-pairing is POSITION ARITHMETIC on the daily
    // frame — one fact scan, no self-join of the aggregate
    val cs = plan(q("cox_stuart"))
    noCartesian("cox_stuart", cs)
    assert(bnlj(cs).isEmpty, s"cox_stuart: join-free:\n$cs")
    assert(cs.collect { case f: FileSourceScanExec => f }.length == 1,
      s"cox_stuart: the pairing must not re-scan the fact:\n$cs")
    assert(cs.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"cox_stuart: type-partitioned windows only:\n$cs")
    // Ljung-Box: the acf shape — only the 1-row bounds broadcast
    val lb = plan(q("ljung_box"))
    noCartesian("ljung_box", lb)
    // the dev subtree feeds BOTH the num and den folds (the shipped
    // acf_daily shape), so the 1-row bounds broadcast plans twice
    assert(bnlj(lb).length <= 2,
      s"ljung_box: only the 1-row bounds broadcasts:\n$lb")
    assert(lb.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"ljung_box: type-partitioned windows only:\n$lb")
  }

  test("round-16 fifth tranche: katz/novelty plans bounded as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    // Katz: the checkpointed-loop posture — the final plan reads
    // checkpoint RDDs, no fact re-scan, equijoins only
    val kc = plan(q("katz_centrality"))
    noCartesian("katz_centrality", kc)
    assert(bnlj(kc).isEmpty, s"katz: equijoins only:\n$kc")
    // novelty (r17 hot-key-proof shape): the first-seen fold is a
    // map-side-combinable gram aggregate — NO window anywhere (the
    // r16 gram-partitioned window MIN funnelled a viral boilerplate
    // gram's every occurrence through one task); the single pruned
    // scan rides inside the checkpointed (doc, hash[]) frame
    val nn = plan(q("ngram_novelty"))
    noCartesian("ngram_novelty", nn)
    assert(bnlj(nn).isEmpty, s"ngram_novelty: equijoins only:\n$nn")
    assert(nn.collect { case f: FileSourceScanExec => f }.isEmpty,
      s"ngram_novelty: the one scan rides the checkpointed frame:\n$nn")
    assert(nn.collect { case w: WindowExec => w }.isEmpty,
      s"ngram_novelty: hot-key-proof = window-free:\n$nn")
    // curve: same machinery + only the 1-row id-bounds broadcast
    val nc = plan(q("novelty_curve"))
    noCartesian("novelty_curve", nc)
    assert(bnlj(nc).length <= 1,
      s"novelty_curve: only the 1-row bounds broadcast:\n$nc")
    assert(nc.collect { case w: WindowExec => w }.isEmpty,
      s"novelty_curve: hot-key-proof = window-free:\n$nc")
    // median polish: the sweeps read the checkpointed 35-row grid —
    // AT MOST one fact scan may survive into the final plan (the
    // uncheckpointed form planned six), and the only broadcasts are
    // the 1-row effect-median folds
    val mp = plan(q("median_polish"))
    noCartesian("median_polish", mp)
    assert(mp.collect { case f: FileSourceScanExec => f }.length <= 1,
      s"median_polish: the sweeps must not re-scan the fact:\n$mp")
    assert(bnlj(mp).length <= 4,
      s"median_polish: only the 1-row effect-median broadcasts:\n$mp")
    // Breusch-Pagan: the durbin_watson posture — checkpointed daily
    // frame, weekday-mean broadcast back, bounded moment fold
    val bp = plan(q("breusch_pagan"))
    noCartesian("breusch_pagan", bp)
    assert(bp.collect { case f: FileSourceScanExec => f }.length <= 1,
      s"breusch_pagan: the moments must not re-scan the fact:\n$bp")
    // arrival dashboard: one documents scan + the 1-row id bounds
    val aq = plan(q("arrival_quality_mix"))
    noCartesian("arrival_quality_mix", aq)
    assert(aq.collect { case f: FileSourceScanExec => f }.length <= 2,
      s"arrival_quality_mix: one scan + the bounds scan at most:\n$aq")
    assert(bnlj(aq).length <= 1,
      s"arrival_quality_mix: only the 1-row bounds broadcast:\n$aq")
  }

  test("round-17 tranches: new-operator plans bounded as designed") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    def bnlj(p: SparkPlan) =
      p.collect { case j: BroadcastNestedLoopJoinExec => j }
    def noCartesian(name: String, p: SparkPlan): Unit =
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name: no cartesian:\n$p")
    def oneScanNoWindow(name: String, p: SparkPlan, maxScans: Int = 1): Unit = {
      noCartesian(name, p)
      assert(bnlj(p).isEmpty, s"$name: join-free of nested loops:\n$p")
      // repeated identical scans in the PRE-AQE plan are cosmetic:
      // the multiply-referenced frame ends at an exchange, which
      // AQE's ReuseExchange dedupes at runtime (checkpointing such a
      // frame instead MEASURED SLOWER at ×100 — §6 r17); the cap
      // still catches a reference added without an exchange boundary
      assert(p.collect { case f: FileSourceScanExec => f }.length <= maxScans,
        s"$name: at most $maxScans (reused) fact scans:\n$p")
      assert(p.collect { case w: WindowExec => w }.isEmpty,
        s"$name: pure aggregate chain, no windows:\n$p")
    }
    // one map-combinable fact aggregate each, everything after bounded
    oneScanNoWindow("simpson_reversal", plan(q("simpson_reversal")))
    oneScanNoWindow("jackknife_ratio_se",
      plan(q("jackknife_ratio_se")), maxScans = 3)
    oneScanNoWindow("aa_calibration", plan(q("aa_calibration")))
    // ccf: the bounds broadcast is planned once per pair side (same
    // ReuseExchange argument); the best-lag window is pair-partitioned
    val cc = plan(q("ccf_leadlag"))
    noCartesian("ccf_leadlag", cc)
    assert(bnlj(cc).length <= 2, s"ccf: 1-row bounds broadcasts only:\n$cc")
    assert(cc.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      s"ccf: pair-partitioned windows only:\n$cc")
    // reorder point: part dim broadcasts; the (brand, day) aggregate's
    // repeated references reuse its exchange at runtime
    val rp = plan(q("reorder_point"))
    noCartesian("reorder_point", rp)
    assert(rp.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"reorder_point: the part projection must broadcast:\n$rp")
    assert(bnlj(rp).length <= 1, s"reorder_point: bounds broadcast only:\n$rp")
    // epoch shuffle: the two-phase rank must leave NO unpartitioned
    // window (a corpus-wide row_number would be the single-partition
    // anti-pattern the helper exists to avoid) — asserted on the
    // ordering op itself; the audit hides it behind its checkpoint
    val eso = plan(Corpus.epochShuffleOf(
      graft.sources.Tables.documents(spark, Sf)))
    val esw = eso.collect { case w: WindowExec => w }
    assert(esw.nonEmpty && esw.forall(_.partitionSpec.nonEmpty),
      s"epoch_shuffle: every window partitioned:\n$eso")
    val es = plan(q("epoch_shuffle"))
    noCartesian("epoch_shuffle", es)
    // split leakage: composes the pinned pair machinery — still no
    // quadratic join; the 1-row total broadcast is the only BNLJ
    val sl = plan(q("split_leakage"))
    noCartesian("split_leakage", sl)
    assert(bnlj(sl).length <= 1, s"split_leakage: 1-row total only:\n$sl")
    // bot score: the user-keyed lag window must stay partitioned
    // (high-card key — the scalable shape); two pruned fact scans
    // (gaps + type counts, the profile_columns posture)
    val bs = plan(q("bot_score"))
    noCartesian("bot_score", bs)
    val bsw = bs.collect { case w: WindowExec => w }
    assert(bsw.nonEmpty && bsw.forall(_.partitionSpec.nonEmpty),
      s"bot_score: user-partitioned lag only:\n$bs")
    assert(bs.collect { case f: FileSourceScanExec => f }.length <= 2,
      s"bot_score: gaps + type-count scans only:\n$bs")
    // gap report: the day lag rides boundaryCarryLag — every window
    // partitioned, never a |types|-parallelism type-keyed window
    val gr = plan(q("gap_report"))
    noCartesian("gap_report", gr)
    val grw = gr.collect { case w: WindowExec => w }
    assert(grw.forall(_.partitionSpec.nonEmpty),
      s"gap_report: partitioned windows only:\n$gr")
    // trigger dilution: the two 1-row count frames broadcast; no
    // cartesian beyond them, no window at all
    val td = plan(q("trigger_dilution"))
    noCartesian("trigger_dilution", td)
    assert(bnlj(td).length <= 2,
      s"trigger_dilution: two 1-row broadcasts only:\n$td")
    assert(td.collect { case w: WindowExec => w }.isEmpty,
      s"trigger_dilution: aggregate chain, no windows:\n$td")
  }
}
