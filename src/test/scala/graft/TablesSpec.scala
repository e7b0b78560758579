package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables` remembers each path's inferred parquet schema: a reread
  * starts no job, and a changed table or session setting is read as
  * it now is. */
class TablesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** A fresh directory holding a copy of the test data's events table. */
  private def eventsCopy(): String = {
    val dir = tmp("graft-tables-events")
    Files.copy(Paths.get(s"$Sf/events.parquet"), Paths.get(s"$dir/events.parquet"))
    dir
  }

  test("a second Tables.events read of an unchanged table starts no job") {
    val dir = eventsCopy()
    val (first, inferring) = jobsStartedBy(Tables.events(spark, dir))
    assert(inferring == 1, "the first read infers the schema with one job")
    val (second, rereading) = jobsStartedBy(Tables.events(spark, dir))
    assert(rereading == 0)
    assert(second.schema == first.schema)
    assert(second.count() == first.count())
  }

  test("a table rewritten at the same path with other columns reads with its new schema") {
    val dir = tmp("graft-tables-rewrite")
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq((2L, 2.5, true)).toDF("id", "score", "kept")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables(spark, dir, "t")
    assert(back.columns.toSeq == Seq("id", "score", "kept"))
    assert(back.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 2.5, true)))
  }

  test("a file or date= partition added to a table is read") {
    val dir = tmp("graft-tables-grow")
    val path = s"$dir/daily.parquet"
    def day(v: Long, d: String) =
      Seq(v).toDF("v").withColumn("date", to_date(lit(d)))
        .write.mode("append").partitionBy("date").parquet(path)
    def read() = Tables(spark, dir, "daily")
      .select(col("v"), col("date").cast("string")).as[(Long, String)].collect().toSet
    day(1L, "2024-01-01")
    assert(read() == Set((1L, "2024-01-01")))
    day(2L, "2024-01-01")
    assert(read() == Set((1L, "2024-01-01"), (2L, "2024-01-01")),
      "a file added to a partition must be read")
    day(3L, "2024-01-02")
    assert(read() == Set((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-02")),
      "a new date= partition must be read")
    val (again, jobs) = jobsStartedBy(Tables(spark, dir, "daily"))
    assert(jobs == 0, "an unchanged partitioned table rereads without inference")
    assert(again.schema("date").dataType == DateType)
    assert(read().size == 3)
  }

  /** A table whose `ts` is parquet TIMESTAMP(NANOS), the legacy events
    * encoding, which Spark cannot write: parquet's example writer can. */
  private def nanosTable(): String = {
    val dir = tmp("graft-tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1723500000123456789L))
    finally w.close()
    dir
  }

  test("a session setting that changes the parquet type mapping is read under its new value") {
    val dir = nanosTable()
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.get(nanosAsLong) == "true")
    assert(Tables(spark, dir, "events").schema("ts").dataType == LongType)
    try {
      spark.conf.set(nanosAsLong, "false")
      val e = intercept[Exception](Tables(spark, dir, "events"))
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    } finally spark.conf.set(nanosAsLong, "true")
    assert(Tables(spark, dir, "events").schema("ts").dataType == LongType)

    // The test data's ts is TIMESTAMP(MICROS) not adjusted to UTC.
    val micros = eventsCopy()
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(Tables(spark, micros, "events").schema("ts").dataType == TimestampNTZType)
    try {
      spark.conf.set(ntz, "false")
      assert(Tables(spark, micros, "events").schema("ts").dataType == TimestampType)
    } finally spark.conf.unset(ntz)
    assert(Tables(spark, micros, "events").schema("ts").dataType == TimestampNTZType)
  }
}
