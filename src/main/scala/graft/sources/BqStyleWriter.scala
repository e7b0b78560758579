package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** BigQuery-connector-shaped writer facade over the warehouse sinks —
  * the operational surface of the reference's load jobs
  * (main.py:89-109 WRITE_APPEND; native_CTR_alerts.py:182-213
  * delete-date-then-append), packaged as one interface with BQ's own
  * vocabulary so a pipeline written against a BigQuery client ports
  * line-for-line: a write DISPOSITION (`WRITE_APPEND` /
  * `WRITE_TRUNCATE` / `WRITE_EMPTY`), a table spec with the optional
  * `$YYYYMMDD` PARTITION DECORATOR, and date partitioning on a
  * declared field. The storage side stays honest sandbox parquet
  * (no network): partitions are `<warehouse>/<table>/<field>=<iso>`
  * directories, and the decorator load is the metadata-only dynamic
  * partition overwrite — the reference's DELETE-scan-then-append
  * expressed in the only form that works at 100 TB.
  *
  * Semantics matched to BigQuery load jobs:
  *  - `table$20240115` scopes the job to exactly that partition, and
  *    the DISPOSITION applies within it (as in BQ): `WRITE_APPEND`
  *    appends into the decorated partition, `WRITE_TRUNCATE` replaces
  *    only it (dynamic partition overwrite — the reference's
  *    DELETE-scan-then-append in the only form that works at 100 TB),
  *    and `WRITE_EMPTY` errors when the partition already holds data.
  *    Rows outside the decorated date — including NULL partition
  *    values — are rejected before anything writes (BQ errors the
  *    load job the same way).
  *  - Undecorated: `WRITE_APPEND` appends; `WRITE_TRUNCATE` replaces
  *    the whole table; `WRITE_EMPTY` succeeds only when the table
  *    does not yet exist (BQ's duplicate-guard disposition).
  *  - partitioned tables require `partitionField`; the decorator form
  *    requires a partitioned table.
  */
object BqStyleWriter {

  sealed trait Disposition
  case object WriteAppend extends Disposition
  case object WriteTruncate extends Disposition
  case object WriteEmpty extends Disposition

  private val Decorator = """^([A-Za-z0-9_.-]+)\$(\d{8})$""".r

  private def isoOf(yyyymmdd: String): String =
    s"${yyyymmdd.substring(0, 4)}-${yyyymmdd.substring(4, 6)}-${yyyymmdd.substring(6, 8)}"

  private def exists(df: DataFrame, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Run one load job. `tableSpec` is `name` or `name$YYYYMMDD`. */
  def load(df: DataFrame, warehouse: String, tableSpec: String,
           disposition: Disposition = WriteAppend,
           partitionField: Option[String] = None): Unit = tableSpec match {
    case Decorator(name, day) =>
      val field = partitionField.getOrElse(throw new IllegalArgumentException(
        s"partition decorator $tableSpec requires partitionField"))
      val iso = isoOf(day)
      // BQ rejects a decorated load containing out-of-partition rows;
      // a silent filter would hide a pipeline bug, so check-and-throw.
      // Null-safe compare: a NULL partition value must be rejected
      // too (BQ refuses NULL partition keys in a decorated load),
      // and `=!=` would let it slip through as NULL. `isEmpty`, not
      // `limit(1).count()`: the count's limit stages name their
      // generated counter field by a global id, so each load would
      // compile the check anew.
      val stray = !df.filter(!(col(field).cast("string") <=> lit(iso))).isEmpty
      if (stray) throw new IllegalArgumentException(
        s"rows outside decorated partition $iso in load to $tableSpec")
      val partDir = s"$warehouse/$name/$field=$iso"
      disposition match {
        case WriteEmpty if exists(df, partDir) =>
          throw new IllegalStateException(
            s"WRITE_EMPTY: partition $iso of $name already holds data")
        case WriteTruncate =>
          Sinks.idempotentDailyAppend(df, s"$warehouse/$name", field)
        case _ => // WriteAppend, or WriteEmpty onto a fresh partition
          df.write.mode(SaveMode.Append).partitionBy(field)
            .parquet(s"$warehouse/$name")
      }
    case name =>
      val path = s"$warehouse/$name"
      disposition match {
        case WriteEmpty if exists(df, path) =>
          throw new IllegalStateException(
            s"WRITE_EMPTY: table $name already exists and is non-empty")
        case WriteTruncate =>
          partitionField match {
            case Some(f) => df.write.mode(SaveMode.Overwrite)
              .partitionBy(f).parquet(path)
            case None => df.write.mode(SaveMode.Overwrite).parquet(path)
          }
        case _ => // WriteAppend, or WriteEmpty onto a fresh table
          partitionField match {
            case Some(f) => df.write.mode(SaveMode.Append)
              .partitionBy(f).parquet(path)
            case None => df.write.mode(SaveMode.Append).parquet(path)
          }
      }
  }
}
