package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `graft.scale.approx` switch. `false` (default): exact
  * distinct counts / full-buffer percentile grids — the verification
  * contract every oracle hashes against. `true`: the documented
  * sketch swaps (HLL distinct counts, mergeable percentile sketches)
  * — the defaults a 100 TB run flips on, trading a bounded estimate
  * error for fixed-size aggregation state and, where the exact path
  * self-joins on a gram key, for eliminating that join entirely.
  * Read per query from the session conf so a pipeline can flip it at
  * runtime without re-registering anything; ScaleApproxSpec bounds
  * each swap against its exact twin on the sf0.01 corpus.
  */
object Scale {
  val ApproxKey = "graft.scale.approx"

  def approx(spark: SparkSession): Boolean =
    spark.conf.getOption(ApproxKey).exists(_.toBoolean)

  /** Under-parallelized-input guard (r17 optimization round; a
    * blanket loader-level spread was measured net-negative and
    * rejected — this is the operator-local replacement): when a
    * frame's physical parallelism is below half the session's cores
    * AND the caller is about to run compute-dense work on it (decimal
    * moment folds, full-buffer percentiles, per-row resample
    * vectors), hash-spread it by `key` first. No-op whenever the
    * input already parallelizes (a real 100 TB scan, a post-shuffle
    * frame at session partitioning), so there is nothing to tune at
    * scale; the hash exchange is deterministic under retries (no
    * round-robin). Callers pass a high-cardinality key.
    *
    * CALL-SITE CONTRACT: apply this directly on a scan/project
    * subtree only. `df.rdd.getNumPartitions` below forces full
    * physical planning of the subtree at construction time and reads
    * the PRE-AQE partition count — on a post-shuffle frame AQE would
    * re-plan (and usually coalesce) at runtime, so the check would
    * both mis-read the real parallelism and pay a planning pass for
    * nothing. All current call sites sit on scans. */
  def spreadInput(df: DataFrame, key: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target, key: _*)
  }

  /** Build with the approx flag forced ON, restoring the session's
    * prior setting afterwards — the registered `*_approx` twins use
    * this so the 100 TB sketch path is driver-value-checked without
    * the caller owning session state. Sound because the exact/sketch
    * branch is taken at DataFrame-CONSTRUCTION time (the wrappers
    * read the conf while building the plan, not at execution). */
  def withApprox[A](spark: SparkSession)(build: => A): A = {
    val prev = spark.conf.getOption(ApproxKey)
    spark.conf.set(ApproxKey, "true")
    try build
    finally prev match {
      case Some(v) => spark.conf.set(ApproxKey, v)
      case None => spark.conf.unset(ApproxKey)
    }
  }

  // ---------------------------------------------------------------
  // Two-phase global-order decompositions.
  //
  // `Window.orderBy(...)` with no partitionBy requires AllTuples —
  // Spark plans it as Exchange SinglePartition + one reducer task, so
  // every global rank / running sum / global lag funnels the whole
  // frame through one core. The standard decomposition (the
  // range-partitioned sort every distributed sort already does, made
  // explicit for window semantics):
  //   1. `repartitionByRange` on the FULL sort order — the engine's
  //      own sampled RangePartitioner; partition p holds tuples below
  //      partition p+1's, and equal tuples never split, so
  //      concatenating partitions in id order IS the global order;
  //   2. a localCheckpoint FREEZES that assignment (the sampler draws
  //      fresh bounds per action — without the freeze the counts pass
  //      and the rank pass could disagree), and `spark_partition_id`
  //      over the frozen blocks is the bucket id;
  //   3. per-bucket counts/sums (≤ `buckets` rows) collect to the
  //      driver, prefix-summed into offsets, and re-enter the plan as
  //      an array LITERAL indexed by bucket id — no join, no global
  //      window, nothing driver-side is data-sized;
  //   4. rank / running sum = offset(bucket) + the same window
  //      function over Window.partitionBy(__bkt) — `buckets`-way
  //      parallel instead of 1.
  // Output is IDENTICAL to the single-window form whenever `order` is
  // a total order (the callers' contract), whatever bounds the
  // sampler picks — bounds only move rows between buckets, never
  // reorder them. The input frame is narrow by contract (project
  // first); when upstream carries real work (regex, a shuffle) an
  // optional first checkpoint computes it once for the sampler and
  // the exchange — see `bucketed`'s snapshotInput note.
  //
  // (First cut assigned buckets by folding a quantile-sketch boundary
  // array per row — functions.aggregate is an interpreted
  // higher-order function, no codegen, and the ×100 rehearsal priced
  // it at 10× the whole query. The range exchange is the same work
  // the engine compiles natively.)
  // ---------------------------------------------------------------

  private def defaultBuckets(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt.max(1)

  /** Phases 1–2: range-partition on `order`, freeze, tag `__bkt`.
    * `snapshotInput` controls the OPTIONAL first checkpoint that
    * computes upstream once for the sampler + exchange: keep it when
    * upstream carries regex/shuffle work (curriculum's quality score,
    * peak-concurrency's sessionize), drop it when upstream is a
    * pruned scan+project — there the second scan is cheaper than
    * doubling executor storage (the ×1000 OOM lesson: two 10⁸-row
    * MEMORY_AND_DISK checkpoints where one suffices). The SECOND
    * checkpoint is never optional — it freezes the sampled range
    * bounds so every pass sees one assignment. */
  private def bucketed(df: DataFrame, order: Seq[Column], buckets: Int,
                       snapshotInput: Boolean): DataFrame = {
    val in = if (snapshotInput) df.localCheckpoint(false) else df
    in.repartitionByRange(buckets, order: _*)
      .localCheckpoint(false) // freeze the sampled range assignment
      .withColumn("__bkt", spark_partition_id())
  }

  /** Driver-side prefix sums over the bounded per-bucket frame:
    * offsets(i) = Σ totals over buckets < i, as an array literal
    * column indexed by `__bkt`, plus the grand total. */
  private def offsetsOf(perBucket: Array[(Int, Long)]): (Column, Long) = {
    val m = perBucket.toMap
    val maxB = if (m.isEmpty) 0 else m.keys.max
    val offs = new Array[Long](maxB + 1)
    var acc = 0L
    var i = 0
    while (i <= maxB) { offs(i) = acc; acc += m.getOrElse(i, 0L); i += 1 }
    (array(offs.map(lit(_)).toIndexedSeq: _*), acc)
  }

  /** [[twoPhaseRank]] reads each row's within-bucket index off
    * monotonically_increasing_id's low 33 bits: a bucket of 2^33 rows
    * or more would carry into the partition bits and corrupt ranks
    * silently, so refuse it by name before any rank is built. */
  private[graft] def checkRowIndexFits(perBucket: Array[(Int, Long)]): Unit =
    perBucket.find(_._2 >= (1L << 33)).foreach { case (b, n) =>
      throw new IllegalStateException(s"twoPhaseRank: bucket $b holds $n rows, " +
        "past the 2^33-row index field of monotonically_increasing_id; raise `buckets`")
    }

  /** Global dense row_number (1-based, column `__rank`) by the total
    * order `order`, without a single-partition window. Returns the
    * ranked frame (input columns + `__rank`) and the total row count
    * (for [[ntileFromRank]]). */
  def twoPhaseRank(df: DataFrame, order: Seq[Column],
                   buckets: Int = 0,
                   snapshotInput: Boolean = true): (DataFrame, Long) = {
    val b = bucketed(df, order,
      if (buckets > 0) buckets else defaultBuckets(df), snapshotInput)
    val counts = b.groupBy(col("__bkt")).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)) // ≤ buckets rows
    checkRowIndexFits(counts)
    val (offArr, total) = offsetsOf(counts)
    // Partition == bucket on the frozen frame (__bkt IS the partition
    // id), so the within-bucket row number needs NO re-shuffle: the
    // old `row_number() over (partition by __bkt order by ...)` forced
    // a full-frame hashpartitioning(__bkt) ENSURE_REQUIREMENTS
    // exchange onto every consumer (the checkpoint's RangePartitioning
    // can't satisfy the window's hash requirement even though the
    // physical grouping already does). Instead: sort each partition in
    // place (narrow, no exchange) and read the within-partition row
    // index off monotonically_increasing_id's low 33 bits (its upper
    // bits are exactly `__bkt << 33`). The projection sits above the
    // partition-local sort, so ids assign in sorted order; callers
    // pass totally-ordering keys (unique tiebreaks), same determinism
    // contract as the window form. One full shuffle of the ranked
    // frame removed at any scale; ranks are bit-identical.
    (b.sortWithinPartitions(order: _*)
      .withColumn("__rank",
        element_at(offArr, col("__bkt") + 1)
          + (monotonically_increasing_id()
             - shiftleft(col("__bkt").cast("long"), 33)) + lit(1L))
      .drop("__bkt"), total)
  }

  /** Global running sum of `value` (column `__running`) over the total
    * order `order` — the prefix-sum twin of [[twoPhaseRank]]: offsets
    * carry each bucket's value total instead of its row count. */
  def twoPhaseRunningSum(df: DataFrame, order: Seq[Column],
                         value: Column, buckets: Int = 0,
                         snapshotInput: Boolean = true): DataFrame = {
    val b = bucketed(df, order,
      if (buckets > 0) buckets else defaultBuckets(df), snapshotInput)
    val sums = b.groupBy(col("__bkt"))
      .agg(coalesce(sum(value), lit(0L)).cast("long").as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)) // ≤ buckets rows
    val (offArr, _) = offsetsOf(sums)
    val w = Window.partitionBy(col("__bkt")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("__running",
        element_at(offArr, col("__bkt") + 1) + sum(value).over(w))
      .drop("__bkt")
  }

  /** Combined [[twoPhaseRank]] + [[twoPhaseRunningSum]] on ONE frozen
    * range exchange, for callers that need the global rank AND the
    * running sum of `value` over the SAME total order
    * (coverage_curve's rank-by-count + cumulative occurrences): one
    * bucketed pass, one bounded per-bucket aggregate carrying both
    * the row count and the value total, both offset arrays from the
    * same ≤-buckets-row collect. Adds `__rank` (1-based long) and
    * `__running`; returns (frame, total rows, grand value total). */
  def twoPhaseRankAndRunningSum(df: DataFrame, order: Seq[Column],
                                value: Column, buckets: Int = 0,
                                snapshotInput: Boolean = true)
      : (DataFrame, Long, Long) = {
    val b = bucketed(df, order,
      if (buckets > 0) buckets else defaultBuckets(df), snapshotInput)
    val per = b.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__c"),
        coalesce(sum(value), lit(0L)).cast("long").as("__s"))
      .collect() // ≤ buckets rows
    val (cntArr, totalRows) = offsetsOf(per.map(r => r.getInt(0) -> r.getLong(1)))
    val (sumArr, totalVal) = offsetsOf(per.map(r => r.getInt(0) -> r.getLong(2)))
    val w = Window.partitionBy(col("__bkt")).orderBy(order: _*)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (b.withColumn("__rank",
        element_at(cntArr, col("__bkt") + 1) + row_number().over(w).cast("long"))
      .withColumn("__running",
        element_at(sumArr, col("__bkt") + 1) + sum(value).over(wRun))
      .drop("__bkt"), totalRows, totalVal)
  }

  /** Grouped twin of [[twoPhaseRank]]: row_number over (PARTITION BY
    * `part` ORDER BY `order`) when the part vocabulary is SMALL —
    * plain Window.partitionBy(part) parallelism EQUALS that
    * vocabulary, and real corpora are skewed (one dominant stratum ≈
    * the whole frame through one task). Range-bucket the whole frame
    * on `order` alone (each bucket holds every part's slice of one
    * order range — [[boundaryCarryLag]]'s exchange), row_number
    * locally within (part, bucket), and add the part's prior-bucket
    * row count from a bounded (parts × buckets) offset frame that
    * broadcast-joins back. Sound for the same reason as
    * [[twoPhaseRank]]: the range exchange totally orders `order`
    * across buckets, so within any part, bucket b's rows all precede
    * bucket b+1's. `order` must be a total order WITHIN each part
    * (callers pass a unique doc-id tiebreak).
    *
    * Adds `__rank` (1-based long within part) and `__cnt` (the
    * part's total row count — the `count().over(partitionBy(part))`
    * replacement, riding the same bounded frame instead of a
    * stratum-width window). */
  def groupedTwoPhaseRank(df: DataFrame, part: String, order: Seq[Column],
                          buckets: Int = 0,
                          snapshotInput: Boolean = true): DataFrame = {
    val b = bucketed(df, order,
      if (buckets > 0) buckets else defaultBuckets(df), snapshotInput)
    val counts = b.groupBy(col(part), col("__bkt"))
      .agg(count(lit(1)).as("__c")) // bounded: ≤ parts × buckets rows
    val byPart = Window.partitionBy(col(part)).orderBy(col("__bkt"))
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__c")).over(
        byPart.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__cnt", sum(col("__c")).over(Window.partitionBy(col(part))))
      .select(col(part), col("__bkt"), col("__off"), col("__cnt"))
    val localW = Window.partitionBy(col(part), col("__bkt")).orderBy(order: _*)
    b.withColumn("__rn_local", row_number().over(localW).cast("long"))
      .join(broadcast(offsets), Seq(part, "__bkt"))
      .withColumn("__rank", col("__off") + col("__rn_local"))
      .drop("__bkt", "__rn_local", "__off")
  }

  /** lag(value, 1) over (PARTITION BY `part` ORDER BY `order`) when
    * the partition vocabulary is small (parallelism would equal it):
    * range-bucket the whole frame on `order` (each bucket holds every
    * part's slice of one range), lag locally within (part, bucket),
    * and carry each (part, bucket)'s LAST value (max_by the order
    * struct) to the part's next non-empty bucket through a bounded
    * (parts × buckets) frame that broadcast-joins back. Adds
    * `__prev` (null on each part's first row, like the plain lag). */
  def boundaryCarryLag(df: DataFrame, part: String,
                       order: Seq[Column], value: Column,
                       buckets: Int = 0,
                       snapshotInput: Boolean = true): DataFrame = {
    val b = bucketed(df, order,
      if (buckets > 0) buckets else defaultBuckets(df), snapshotInput)
    val localW = Window.partitionBy(col(part), col("__bkt")).orderBy(order: _*)
    val lasts = b.groupBy(col(part), col("__bkt"))
      .agg(max_by(value, struct(order: _*)).as("__last"))
    val byPart = Window.partitionBy(col(part)).orderBy(col("__bkt"))
    val carry = lasts // bounded: ≤ parts × buckets rows
      .withColumn("__carry", lag(col("__last"), 1).over(byPart))
      .select(col(part), col("__bkt"), col("__carry"))
    b.withColumn("__prev_local", lag(value, 1).over(localW))
      .join(broadcast(carry), Seq(part, "__bkt"))
      .withColumn("__prev", coalesce(col("__prev_local"), col("__carry")))
      .drop("__bkt", "__prev_local", "__carry")
  }

  /** Spark/DuckDB NTILE(tiles) derived from a global 1-based rank and
    * the total row count: the first `total mod tiles` tiles take
    * ⌈total/tiles⌉ rows, the rest ⌊total/tiles⌋ — integer-exact, so
    * it reproduces the window function bit-for-bit. `rankCol` is a
    * column NAME (the expression needs integer `div`). */
  def ntileFromRank(rankCol: String, tiles: Int, total: Long): Column = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    if (total < tiles) col(rankCol).cast("int")
    else {
      val q = total / tiles
      val r = total % tiles
      val cut = r * (q + 1)
      expr(s"""CAST(CASE WHEN $rankCol <= $cut
              |  THEN ($rankCol - 1) div ${q + 1} + 1
              |  ELSE $r + ($rankCol - 1 - $cut) div $q + 1 END AS INT)"""
        .stripMargin)
    }
  }
}
