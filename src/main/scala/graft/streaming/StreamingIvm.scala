package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.functions.TextF
import graft.operators.Behavior

/** Streaming incremental rollup maintenance — the foreachBatch form of
  * the batch IVM merge (`Warehouse.incrementalRollupOf`, SURVEY row
  * 194): every micro-batch is a late-arriving delta that merges into
  * the materialized daily snapshot by partial-aggregate algebra
  * (count and micro-sum are commutative monoids), so after ANY batch
  * split of the stream the snapshot equals the full recompute bit for
  * bit. Per batch the work is one map-combinable delta aggregate plus
  * a rewrite of ONLY the touched day partitions (dynamic partition
  * overwrite — days the batch never mentioned are not read, not
  * written). `n_late` audits how many of a day's events arrived in a
  * batch AFTER the day first materialized — the re-publish signal.
  *
  * The merge frame is eagerly materialized (localCheckpoint) before
  * the write because it READS the same snapshot path the write
  * overwrites — lazy evaluation would otherwise have the scan race
  * its own replacement. The checkpoint is |touched days| rows.
  *
  * At warehouse scale the same shape lands on a transactional table
  * format; the algebra and the touched-partitions bound carry over
  * unchanged. */
object StreamingIvm {

  private val SnapshotSchema = StructType(Seq(
    StructField("n_events", LongType),
    StructField("q", LongType),
    StructField("n_late", LongType),
    StructField("last_batch", LongType), // batch-id fence (see mergeBatch)
    StructField("day", StringType))) // partition column reads back last

  /** Merge one (micro-)batch of raw events into the snapshot at
    * `path`. Exposed for tests and for batch backfill — the streaming
    * sink below calls exactly this.
    *
    * Batch-id fencing (round 10): `batchId >= 0` makes replay
    * EXACTLY-ONCE at day granularity. Each written day partition
    * records the id of the last batch merged into it; a replayed
    * batch (checkpoint restart after a crash) skips every day whose
    * stored `last_batch` already reached its id and re-merges only
    * the days the crashed attempt never committed — so a failure
    * BETWEEN the partition writes and the streaming checkpoint leaves
    * neither double-counts (fenced days skip) nor holes (unfenced
    * days re-merge). This leans on dynamic partition overwrite being
    * atomic per partition at commit time: a day is either its old
    * version (fence value stale → replay re-merges) or its new one
    * (fence value current → replay skips); no third state exists for
    * the filter to mis-read. `batchId < 0` (batch backfill callers)
    * disables the fence — backfill is driven by an orchestrator that
    * owns its own replay story. */
  def mergeBatch(batch: Dataset[Row], path: String,
                 batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    val delta = batch
      .select(to_date(col("ts")).cast("string").as("day"),
        Behavior.micro(col("value")).as("qv"))
      .groupBy("day")
      .agg(count(lit(1)).as("d_n"), sum("qv").as("d_q"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        spark.read.schema(SnapshotSchema).parquet(path)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], SnapshotSchema)
    // Left join keeps partition pruning available on the snapshot
    // side (delta days are the only keys probed) and marks which days
    // already existed — those deltas are late by definition.
    // Pre-fence snapshots read last_batch as NULL = never fenced.
    val fence =
      if (batchId < 0L) lit(true)
      else col("e_last").isNull || col("e_last") < lit(batchId)
    val merged = delta
      .join(existing.select(col("day"), col("n_events").as("e_n"),
        col("q").as("e_q"), col("n_late").as("e_late"),
        col("last_batch").as("e_last")), Seq("day"), "left")
      .filter(fence)
      .select(col("day"),
        (col("d_n") + coalesce(col("e_n"), lit(0L))).as("n_events"),
        (col("d_q") + coalesce(col("e_q"), lit(0L))).as("q"),
        (coalesce(col("e_late"), lit(0L)) +
          when(col("e_n").isNotNull, col("d_n")).otherwise(0L)).as("n_late"),
        lit(batchId).as("last_batch"))
      .localCheckpoint() // break lineage from `path` before overwriting it
    if (!merged.isEmpty)
      merged.write
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .partitionBy("day")
        .parquet(path)
  }

  /** The streaming sink: raw events in, maintained snapshot at `path`.
    * Passes the micro-batch id through to [[mergeBatch]]'s fence, so
    * a checkpoint-restart replay is exactly-once per day partition —
    * no transactional table format needed for this algebra. */
  def ivmRollupSink(events: DataFrame, path: String): DataStreamWriter[Row] =
    events.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        mergeBatch(batch, path, id)
      }

  /** Read the maintained snapshot in the batch report's shape
    * (`day, n_events, revenue, n_late` — `Warehouse.incrementalRollupOf`'s
    * column contract). */
  def snapshot(spark: org.apache.spark.sql.SparkSession,
               path: String): DataFrame =
    spark.read.schema(SnapshotSchema).parquet(path)
      .select(col("day"), col("n_events"),
        TextF.microsTo4dp(col("q")).as("revenue"), col("n_late"))
      .orderBy("day")
}
