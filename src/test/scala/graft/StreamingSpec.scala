package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreamJob

class StreamingSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def ts(hhmm: String) = Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("windowedCtr maintains per-user hourly click/view ratios over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")

    val query = EventStreamJob.windowedCtr(events).writeStream
      .format("memory").queryName("ctr_test").outputMode("complete").start()
    try {
      input.addData(
        (ts("10:05"), 1L, "view"), (ts("10:10"), 1L, "view"),
        (ts("10:20"), 1L, "click"),
        (ts("10:15"), 2L, "view"),
        (ts("11:05"), 1L, "click")) // second window: click with no views
      query.processAllAvailable()

      val out = spark.table("ctr_test")
        .select(date_format(col("window_start"), "HH:mm").as("w"),
          col("user_id"), col("clicks"), col("impressions"), col("ctr"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double])))
        .toMap

      assert(out(("10:00", 1L)) == ((1L, 2L, Some(0.5))))
      assert(out(("10:00", 2L)) == ((0L, 1L, Some(0.0))))
      assert(out(("11:00", 1L))._1 == 1L)
      assert(out(("11:00", 1L))._3.isEmpty, "0 impressions must give NULL ctr, not a division error")
    } finally query.stop()
  }

  test("clickViewJoin attributes clicks to the same user's view within the hour") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = EventStreamJob.clickViewJoin(
      views.toDF().toDF("user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts"))

    val query = joined.writeStream
      .format("memory").queryName("ssjoin_test").outputMode("append").start()
    try {
      views.addData(
        (1L, ts("10:00")), (1L, ts("10:10")), // TWO views before the click
        (2L, ts("10:00")))
      clicks.addData(
        (1L, ts("10:30")), // within the hour → attributed ONCE, last touch
        (1L, ts("12:30")), // > 1h after any view → dropped
        (3L, ts("10:15"))) // no view at all → dropped
      query.processAllAvailable()
      // advance both watermarks past every buffered row so the join and
      // the chained max-aggregate both finalize
      views.addData((9L, ts("23:00")))
      clicks.addData((9L, ts("23:00")))
      query.processAllAvailable()

      val out = spark.table("ssjoin_test")
        .select(col("user_id"),
          date_format(col("view_ts"), "HH:mm").as("v"),
          date_format(col("click_ts"), "HH:mm").as("c"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(out.toSeq == Seq((1L, "10:10", "10:30")),
        "one row per click, attributed to the most recent in-window view")
    } finally query.stop()
  }

  test("the Misra-Gries udaf maintains a streaming heavy-hitter sketch across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val sketch = org.apache.spark.sql.functions.udaf(
      new graft.operators.MisraGries(3), org.apache.spark.sql.Encoders.STRING)
    val agg = input.toDF().toDF("token")
      .agg(sketch(col("token")).as("sketch"))
      .select(explode(col("sketch")).as(Seq("token", "est")))
    val query = agg.writeStream
      .format("memory").queryName("mg_stream_test").outputMode("complete").start()
    try {
      input.addData(Seq.fill(6)("hot") ++ Seq("a", "b"): _*)
      query.processAllAvailable()
      input.addData(Seq.fill(5)("hot") ++ Seq("c", "d", "e", "f"): _*)
      query.processAllAvailable()

      val out = spark.table("mg_stream_test").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // 17 tokens total, k=3: 'hot' (11 > 17/3) must be in the sketch
      // with an estimate that never exceeds its true count
      assert(out.size <= 3)
      assert(out.contains("hot"), s"frequency-11/17 item must survive: $out")
      assert(out("hot") <= 11L)
    } finally query.stop()
  }

  test("built-in dropDuplicatesWithinWatermark agrees with the custom TTL dedup contract") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val deduped = input.toDF().toDF("key", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("key")
    val query = deduped.writeStream
      .format("memory").queryName("ddww_test").outputMode("append").start()
    try {
      input.addData(("a", ts("10:00")), ("a", ts("10:30")), ("b", ts("10:10")))
      query.processAllAvailable()
      input.addData(("a", ts("10:45"))) // within the watermark window → dropped
      query.processAllAvailable()
      val out = spark.table("ddww_test")
        .select("key").collect().map(_.getString(0)).sorted
      assert(out.toSeq == Seq("a", "b"))
    } finally query.stop()
  }

  test("dailyWarehouseSink lands day-grained batches idempotently via partition overwrite") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val path = java.nio.file.Files.createTempDirectory("graft-stream-wh")
      .toFile.getAbsolutePath + "/table"
    val query = EventStreamJob.dailyWarehouseSink(
      input.toDF().toDF("ts", "user_id", "event_type"), path).start()
    try {
      input.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, "view"),
        (Timestamp.valueOf("2026-01-02 10:00:00"), 2L, "view"))
      query.processAllAvailable()
      // a later batch re-delivers day 2 (replay/backfill) with the
      // corrected rows — the day must be REPLACED, not appended
      input.addData((Timestamp.valueOf("2026-01-02 11:00:00"), 3L, "click"))
      query.processAllAvailable()

      val back = spark.read.parquet(path)
      assert(back.count() == 2, "day-1 untouched, day-2 replaced")
      val day2 = back.filter(col("date") === "2026-01-02")
        .select("user_id").collect().map(_.getLong(0)).toSeq
      assert(day2 == Seq(3L))
    } finally query.stop()
  }

  test("windowedCtr finalizes windows at the watermark and drops later events") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")

    val query = EventStreamJob.windowedCtr(events).writeStream
      .format("memory").queryName("ctr_late").outputMode("append").start()
    try {
      input.addData((ts("10:05"), 1L, "view"), (ts("10:20"), 1L, "click"))
      query.processAllAvailable()
      assert(spark.table("ctr_late").isEmpty,
        "append mode must not emit before the watermark passes the window")

      // 13:30 event → watermark 11:30 → the 10:00 window finalizes
      input.addData((ts("13:30"), 2L, "view"))
      query.processAllAvailable()
      val emitted = spark.table("ctr_late")
        .select(date_format(col("window_start"), "HH:mm"), col("user_id"),
          col("clicks"), col("impressions")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(emitted.toSet == Set(("10:00", 1L, 1L, 1L)))

      // later than the watermark → dropped, the finalized window stays as-is
      input.addData((ts("10:40"), 1L, "view"))
      query.processAllAvailable()
      val after = spark.table("ctr_late").count()
      assert(after == emitted.length, "late event must not re-emit or mutate the window")
    } finally query.stop()
  }

  test("windowedReach counts distinct users per window with sketch state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    val query = EventStreamJob.windowedReach(events).writeStream
      .format("memory").queryName("reach_test").outputMode("complete").start()
    try {
      input.addData(
        (ts("10:05"), 1L, "view"), (ts("10:10"), 1L, "view"), // dup user
        (ts("10:20"), 2L, "view"), (ts("10:25"), 3L, "view"),
        (ts("10:30"), 1L, "click"),
        (ts("11:05"), 9L, "view"))
      query.processAllAvailable()
      // incremental sketch merge across micro-batches: user 4 arrives
      // later in the same window
      input.addData((ts("10:40"), 4L, "view"))
      query.processAllAvailable()
      val out = spark.table("reach_test")
        .select(date_format(col("window_start"), "HH:mm").as("w"),
          col("event_type"), col("approx_users"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // rsd 2% is exact at these cardinalities
      assert(out(("10:00", "view")) == 4L, s"got $out")
      assert(out(("10:00", "click")) == 1L)
      assert(out(("11:00", "view")) == 1L)
    } finally query.stop()
  }

  test("windowedPercentiles maintains the sketch incrementally across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val query = EventStreamJob.windowedPercentiles(events).writeStream
      .format("memory").queryName("pct_test").outputMode("complete").start()
    try {
      // first micro-batch: values 1..8 for one window
      input.addData((1 to 8).map(i => (ts("10:05"), i.toLong, "view", i.toDouble)): _*)
      query.processAllAvailable()
      // second micro-batch extends the SAME window's sketch: 9..100
      input.addData((9 to 100).map(i => (ts("10:30"), i.toLong, "view", i.toDouble)): _*)
      query.processAllAvailable()
      val out = spark.table("pct_test")
        .select(date_format(col("window_start"), "HH:mm").as("w"),
          col("event_type"), col("p50"), col("p99"), col("n_events"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
      // accuracy 10000 >> n → the sketch is exact here
      val (p50, p99, n) = out(("10:00", "view"))
      assert(n == 100L, s"got $out")
      assert(p50 == 50.0, s"median over the merged batches must be exact: $p50")
      assert(p99 == 99.0, s"p99: $p99")
    } finally query.stop()
  }

  test("StreamingSessionize closes sessions on the gap and finalizes at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")

    val query = graft.streaming.StreamingSessionize.sessions(events).writeStream
      .format("memory").queryName("sess_test").outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then a 40-min
      // silence INSIDE the next batch closes it inline.
      input.addData((1L, ts("10:00")), (1L, ts("10:10")), (2L, ts("10:05")))
      query.processAllAvailable()
      assert(spark.table("sess_test").isEmpty,
        "open sessions must not emit before the gap certifies them closed")

      // 10:50 is 40 min after user 1's last event → closes session 1
      // inline; ALSO advances the watermark to 10:20.
      input.addData((1L, ts("10:50")))
      query.processAllAvailable()
      val first = spark.table("sess_test").as[graft.streaming.StreamingSessionize.Session]
        .collect()
      assert(first.map(s => (s.user_id, s.n_events, s.duration_sec)).toSet ==
        Set((1L, 2L, 600.0)), s"got ${first.toSeq}")

      // Far-future event pushes the watermark past everything + gap →
      // the remaining open sessions (user 2, user 1's second) time out.
      input.addData((3L, ts("23:00")))
      query.processAllAvailable()
      val all = spark.table("sess_test").as[graft.streaming.StreamingSessionize.Session]
        .collect().map(s => (s.user_id, s.n_events)).toSet
      assert(all == Set((1L, 2L), (1L, 1L), (2L, 1L)), s"got $all")
    } finally query.stop()
  }

  test("StreamingSessionize extends a session backward for a late in-watermark event") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val query = graft.streaming.StreamingSessionize.sessions(events).writeStream
      .format("memory").queryName("sess_late").outputMode("append").start()
    try {
      input.addData((5L, ts("10:10")))
      query.processAllAvailable() // watermark now 09:40
      // 10:05 is late but above the watermark and within the gap — the
      // batch twin would fold it into the same session, so start_ts
      // must move back to 10:05.
      input.addData((5L, ts("10:05")))
      query.processAllAvailable()
      input.addData((6L, ts("23:00"))) // close everything
      query.processAllAvailable()
      val out = spark.table("sess_late").as[graft.streaming.StreamingSessionize.Session]
        .collect().filter(_.user_id == 5L)
      assert(out.map(s => (s.n_events, s.duration_sec)).toSeq == Seq((2L, 300.0)),
        s"late event must extend the session backward: ${out.toSeq}")
    } finally query.stop()
  }

  test("StreamingSessionize folds shuffle-ordered in-batch events by event time") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val query = graft.streaming.StreamingSessionize.sessions(events).writeStream
      .format("memory").queryName("sess_order").outputMode("append").start()
    try {
      // Arrival order scrambled; event-time order is 9:00, 9:10 | 11:00.
      input.addData((7L, ts("11:00")), (7L, ts("09:10")), (7L, ts("09:00")))
      query.processAllAvailable()
      val out = spark.table("sess_order").as[graft.streaming.StreamingSessionize.Session]
        .collect().map(s => (s.n_events, s.duration_sec)).toSet
      assert(out == Set((2L, 600.0)),
        s"the 9:00+9:10 pair must close as one session: ${out}")
    } finally query.stop()
  }

  test("StreamingDedup.firstSeen emits each key once across batches with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String)]
    val docs = input.toDF().toDF("key", "ts", "payload")

    val query = graft.streaming.StreamingDedup.firstSeen(docs).writeStream
      .format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      input.addData(("hashA", ts("10:00"), "first-a"), ("hashB", ts("10:01"), "first-b"))
      query.processAllAvailable()
      input.addData(("hashA", ts("10:05"), "dup-a"), ("hashC", ts("10:06"), "first-c"))
      query.processAllAvailable()

      // hashD arrives twice IN ONE batch, later-timestamp first — the
      // earliest by event time must win, not iterator order
      input.addData(("hashD", ts("10:10"), "late-d"), ("hashD", ts("10:08"), "first-d"))
      query.processAllAvailable()

      // hashE: two docs with the IDENTICAL timestamp in one batch —
      // the payload tiebreak must pick the same winner every run
      input.addData(("hashE", ts("10:12"), "tie-z"), ("hashE", ts("10:12"), "tie-a"))
      query.processAllAvailable()

      val out = spark.table("dedup_test")
        .select("key", "payload").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out == Map("hashA" -> "first-a", "hashB" -> "first-b",
        "hashC" -> "first-c", "hashD" -> "first-d", "hashE" -> "tie-a"),
        "duplicates within the TTL horizon must be suppressed, earliest payload kept")
    } finally query.stop()
  }

  test("StreamingDedupTws (transformWithState) honors the firstSeen contract on RocksDB") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState only runs on the RocksDB state store; scope
    // the provider to this query and restore whatever was set before.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(String, Timestamp, String)]
    val docs = input.toDF().toDF("key", "ts", "payload")
    val query = graft.streaming.StreamingDedupTws.firstSeen(docs).writeStream
      .format("memory").queryName("dedup_tws_test").outputMode("append").start()
    try {
      input.addData(("hashA", ts("10:00"), "first-a"), ("hashB", ts("10:01"), "first-b"))
      query.processAllAvailable()
      // duplicate within the TTL horizon + one new key
      input.addData(("hashA", ts("10:05"), "dup-a"), ("hashC", ts("10:06"), "first-c"))
      query.processAllAvailable()
      // in-batch disorder + identical-timestamp tie (the exact cases
      // the flatMapGroupsWithState twin pins)
      input.addData(("hashD", ts("10:10"), "late-d"), ("hashD", ts("10:08"), "first-d"))
      query.processAllAvailable()
      input.addData(("hashE", ts("10:12"), "tie-z"), ("hashE", ts("10:12"), "tie-a"))
      query.processAllAvailable()
      val out = spark.table("dedup_tws_test")
        .select("key", "payload").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out == Map("hashA" -> "first-a", "hashB" -> "first-b",
        "hashC" -> "first-c", "hashD" -> "first-d", "hashE" -> "tie-a"),
        "the new-API operator must match StreamingDedup.firstSeen exactly")
    } finally {
      query.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("StreamingEwma smooths closed windows and flags a spike against history") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("event_type", "ts", "value")
    val query = graft.streaming.StreamingEwma.smoothed(events).writeStream
      .format("memory").queryName("ewma_test").outputMode("append").start()
    try {
      // window 10:00 total 10; window 11:00 total 40 (spike vs ewma 10);
      // the 11:00 event CLOSES 10:00 inline
      input.addData(
        ("click", ts("10:05"), 4.0), ("click", ts("10:40"), 6.0),
        ("click", ts("11:10"), 40.0))
      query.processAllAvailable()
      // 13:00 event closes 11:00 (watermark also moves)
      input.addData(("click", ts("13:30"), 5.0))
      query.processAllAvailable()
      val out = spark.table("ewma_test")
        .select(date_format(col("window_start"), "HH:mm").as("w"),
          col("total"), col("ewma_prev"), col("spike")).collect()
        .map(r => r.getString(0) ->
          (r.getDouble(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))
        .toMap
      assert(out("10:00") == ((10.0, None, false)),
        "the first window has no history and cannot spike")
      assert(out("11:00") == ((40.0, Some(10.0), true)),
        "40 > 2 x ewma(10) must flag")
    } finally query.stop()
  }

  test("enrichWithDim joins streaming facts to a static dimension, keeping orphans") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    val dim = Seq((1L, "premium"), (2L, "free")).toDF("key", "segment")

    val query = EventStreamJob.enrichWithDim(events, dim).writeStream
      .format("memory").queryName("enrich_test").outputMode("append").start()
    try {
      input.addData(
        (ts("10:05"), 1L, "view"),
        (ts("10:06"), 2L, "click"),
        (ts("10:07"), 99L, "view")) // no dimension row
      query.processAllAvailable()
      val out = spark.table("enrich_test")
        .select(col("user_id"), col("segment")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(out(1L) == Some("premium") && out(2L) == Some("free"))
      assert(out(99L).isEmpty,
        "a fact with no dimension row must survive with NULL attributes, not vanish")
    } finally query.stop()
  }

  test("StreamingTopK maintains exact per-group top-k on MapState across batches") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(String, Timestamp, Long)]
    val events = input.toDF().toDF("event_type", "ts", "user_id")
    val query = graft.streaming.StreamingTopK.topUsers(events, k = 2).writeStream
      .format("memory").queryName("topk_test").outputMode("append").start()
    try {
      input.addData(("click", ts("10:00"), 1L), ("click", ts("10:01"), 1L),
        ("click", ts("10:02"), 2L), ("view", ts("10:03"), 9L))
      query.processAllAvailable()
      // batch 2 flips the click leader and grows a third candidate
      input.addData(("click", ts("10:10"), 2L), ("click", ts("10:11"), 2L),
        ("click", ts("10:12"), 3L))
      query.processAllAvailable()
      val rows = spark.table("topk_test").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      // final snapshot per group = max seq
      val lastSeq = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val finalTop = rows.filter(r => r._2 == lastSeq(r._1))
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(t => (t._4, t._5)).toSeq).toMap
      assert(finalTop("click") == Seq((2L, 3L), (1L, 2L)),
        s"user 2 overtakes with 3 clicks: $finalTop")
      assert(finalTop("view") == Seq((9L, 1L)),
        "a group with fewer than k users reports what it has")
      // batch-1 snapshot must show the old leader (tie 2-1 broken... user 1
      // leads 2 clicks to 1)
      val firstClick = rows.filter(r => r._1 == "click" && r._2 == 1L)
        .sortBy(_._3).map(t => (t._4, t._5)).toSeq
      assert(firstClick == Seq((1L, 2L), (2L, 1L)))
    } finally {
      query.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("StreamingFunnel finalizes per-user chains at the watermark, late view included") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val events = input.toDF().toDF("user_id", "event_type", "ts")
    val query = graft.streaming.StreamingFunnel.funnelUsers(events).writeStream
      .format("memory").queryName("funnel_test").outputMode("append").start()
    try {
      input.addData(
        // u1 converts fully, each step inside its 60-min window
        (1L, "view", ts("10:00")), (1L, "click", ts("10:30")),
        (1L, "purchase", ts("11:15")),
        // u2's click misses the deadline (> 60 min after the view)
        (2L, "view", ts("10:00")), (2L, "click", ts("11:30")),
        // u3 never views — never enters the funnel
        (3L, "click", ts("10:15")),
        // u5's click arrives BEFORE its view (batch split below)
        (5L, "click", ts("10:40")))
      query.processAllAvailable()
      // the qualifying view lands late but within the watermark
      input.addData((5L, "view", ts("10:30")))
      query.processAllAvailable()
      // sentinel pushes the watermark past every chain's deadline
      input.addData((9L, "view", ts("17:00")))
      query.processAllAvailable()

      val out = spark.table("funnel_test").collect()
        .map(r => r.getLong(0) -> ((Option(r.getTimestamp(2)).isDefined,
          Option(r.getTimestamp(3)).isDefined))).toMap
      assert(out.keySet == Set(1L, 2L, 5L),
        s"u3 (no view) and u9 (still open) must not emit: ${out.keySet}")
      assert(out(1L) == ((true, true)), "u1 completes the funnel")
      assert(out(2L) == ((false, false)), "u2's late click must not count")
      assert(out(5L) == ((true, false)),
        "u5's out-of-order view must still anchor the chain")

      val report = graft.streaming.StreamingFunnel
        .funnelReport(spark.table("funnel_test")).collect()
        .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
      assert(report.toSeq == Seq(
        ("view", 3L, 100.0), ("click", 2L, 66.67), ("purchase", 1L, 33.33)),
        s"got ${report.toSeq}")
    } finally query.stop()
  }

  test("StreamingIvm maintains the snapshot as the exact full recompute across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val path = java.nio.file.Files.createTempDirectory("graft-stream-ivm")
      .toFile.getAbsolutePath + "/snapshot"
    val query = graft.streaming.StreamingIvm.ivmRollupSink(
      input.toDF().toDF("ts", "value"), path).start()
    try {
      input.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), 1.5),
        (Timestamp.valueOf("2026-01-01 11:00:00"), 2.5),
        (Timestamp.valueOf("2026-01-02 10:00:00"), 1.0))
      query.processAllAvailable()
      // batch 2: a late day-2 event plus a brand-new day
      input.addData(
        (Timestamp.valueOf("2026-01-02 12:00:00"), 3.0),
        (Timestamp.valueOf("2026-01-03 09:00:00"), 2.0))
      query.processAllAvailable()

      val snap = graft.streaming.StreamingIvm.snapshot(spark, path).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
      assert(snap == Map(
        "2026-01-01" -> ((2L, 4.0, 0L)),   // untouched by batch 2
        "2026-01-02" -> ((2L, 4.0, 1L)),   // merged, one late event audited
        "2026-01-03" -> ((1L, 2.0, 0L))),  // new day, nothing late
        s"snapshot ⊕ delta must equal the full recompute: $snap")
    } finally query.stop()
  }

  test("driftMonitor: windowed TVD vs the frozen reference, merged across batches") {
    implicit val sqlCtx = spark.sqlContext
    // Reference for "view": values {0, 0, 10, 10} with bins=2 →
    // bounds [0,10], width 5, p = [0.5, 0.5]. "purchase" has NO
    // reference → must be dropped.
    val reference = Seq(
      ("view", 0.0), ("view", 0.0), ("view", 10.0), ("view", 10.0))
      .toDF("event_type", "value")
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStreamJob.driftMonitor(events, reference, bins = 2)
      .writeStream.format("memory").queryName("drift_test")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("10:05"), "view", 1.0), (ts("10:10"), "view", 1.0),
        (ts("10:15"), "view", 1.0), (ts("10:20"), "view", 9.0),
        (ts("10:25"), "purchase", 3.0)) // no reference → excluded
      query.processAllAvailable()
      def snap = spark.table("drift_test")
        .select(col("event_type"), col("n_events"), col("n_ref"), col("tvd"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      // q = [3/4, 1/4] vs p = [1/2, 1/2] → TVD = (0.25 + 0.25)/2... no:
      // ½(|0.75-0.5| + |0.25-0.5|) = ½(0.25+0.25) = 0.25
      assert(snap == Map("view" -> ((4L, 4L, 0.25))), s"batch 1: $snap")
      // Batch 2 merges into the SAME window: one more high value plus
      // out-of-range values clamping into the edge bins (-5 → bin 0,
      // 100 → bin 1): q = [4/7, 3/7] → TVD = |4/7-1/2| = 0.0714
      input.addData(
        (ts("10:40"), "view", 9.0),
        (ts("10:45"), "view", -5.0), (ts("10:50"), "view", 100.0))
      query.processAllAvailable()
      val s2 = snap
      assert(s2("view")._1 == 7L, s"batch 2 must merge into the window: $s2")
      assert(math.abs(s2("view")._3 - 0.0714) < 1e-9,
        s"clamped values count as edge-bin drift: $s2")
      assert(!s2.contains("purchase"), "unreferenced types stay excluded")
    } finally query.stop()
  }

  test("StreamingIvm survives a mid-write crash: checkpoint replay leaves no double-count, no hole") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val base = java.nio.file.Files.createTempDirectory("graft-ivm-crash")
      .toFile.getAbsolutePath
    val path = s"$base/snapshot"
    val ckpt = s"$base/checkpoint"
    // Injected faults around the REAL mergeBatch call (the production
    // sink body plus a crash switch): afterWrite models dying between
    // the partition writes and the checkpoint commit; beforeWrite
    // models dying before any write happened.
    @volatile var failAfterWrite = false
    @volatile var failBeforeWrite = false
    def startQuery() = input.toDF().toDF("ts", "value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (failBeforeWrite) {
          failBeforeWrite = false
          throw new RuntimeException("injected crash BEFORE write")
        }
        graft.streaming.StreamingIvm.mergeBatch(batch, path, id)
        if (failAfterWrite) {
          failAfterWrite = false
          throw new RuntimeException("injected crash AFTER write")
        }
      }.start()

    def snap = graft.streaming.StreamingIvm.snapshot(spark, path).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap

    var query = startQuery()
    try {
      input.addData((Timestamp.valueOf("2026-01-01 10:00:00"), 1.5))
      query.processAllAvailable()
      // ---- crash AFTER the write, BEFORE the checkpoint commit ----
      failAfterWrite = true
      input.addData(
        (Timestamp.valueOf("2026-01-01 12:00:00"), 2.5), // late for day 1
        (Timestamp.valueOf("2026-01-02 09:00:00"), 1.0)) // new day
      intercept[Exception](query.processAllAvailable())
      assert(snap == Map(
        "2026-01-01" -> ((2L, 4.0, 1L)), "2026-01-02" -> ((1L, 1.0, 0L))),
        "the crashed attempt DID write — the fence must now defend it")
      // restart from the checkpoint: the uncommitted batch replays
      // with the same id and must be skipped day-for-day
      query = startQuery()
      query.processAllAvailable()
      assert(snap == Map(
        "2026-01-01" -> ((2L, 4.0, 1L)), "2026-01-02" -> ((1L, 1.0, 0L))),
        s"replay after a post-write crash must not double-count: $snap")
      // ---- crash BEFORE any write ----
      failBeforeWrite = true
      input.addData((Timestamp.valueOf("2026-01-03 08:00:00"), 2.0))
      intercept[Exception](query.processAllAvailable())
      query = startQuery()
      query.processAllAvailable()
      assert(snap == Map(
        "2026-01-01" -> ((2L, 4.0, 1L)), "2026-01-02" -> ((1L, 1.0, 0L)),
        "2026-01-03" -> ((1L, 2.0, 0L))),
        s"replay after a pre-write crash must leave no hole: $snap")
      // liveness after both recoveries: a further late event still merges
      input.addData((Timestamp.valueOf("2026-01-02 23:00:00"), 0.5))
      query.processAllAvailable()
      assert(snap("2026-01-02") == ((2L, 1.5, 1L)),
        s"post-recovery batches must keep merging: $snap")
    } finally query.stop()
  }

  test("qualityMonitor tracks per-source intake health across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val docs = input.toDF().toDF("ts", "source", "text")
    val query = EventStreamJob.qualityMonitor(docs).writeStream
      .format("memory").queryName("qmon_test").outputMode("complete").start()
    try {
      val good = ("the quick brown fox jumps over a lazy dog and keeps " * 4).trim
      input.addData(
        (ts("10:05"), "s1", good),
        (ts("10:10"), "s1", "x!!!"),            // short + punct-noisy → low
        (ts("10:20"), "s2", good + " cafÃ©"))   // artifact carrier
      query.processAllAvailable()
      input.addData((ts("10:40"), "s1", good))  // second batch merges into the window
      query.processAllAvailable()

      val out = spark.table("qmon_test")
        .select(date_format(col("window_start"), "HH:mm").as("w"),
          col("source"), col("n_docs"), col("low_quality"),
          col("artifact_hits"), col("mean_quality"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
      val s1 = out(("10:00", "s1"))
      assert(s1._1 == 3L && s1._2 == 1L && s1._3 == 0L,
        s"3 docs, one below the bar, no artifacts: $s1")
      assert(s1._4 > 0.5 && s1._4 < 1.0, s"mean drawn down by the bad doc: $s1")
      val s2 = out(("10:00", "s2"))
      assert(s2._1 == 1L && s2._3 == 1L, s"artifact counted: $s2")
    } finally query.stop()
  }

  test("streaming cusum fires on the first regime-shift day and matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("event_type", "ts", "value")
    def day(d: Int, v: Double) =
      ("click", Timestamp.valueOf(f"2026-01-$d%02d 12:00:00"), v)
    // 3-day baseline at 10/day, then a sustained jump to 30:
    // μ0 = 10, S_4 = 20 > h·μ0 = 10 → changepoint day 4
    val rows = (1 to 3).map(day(_, 10.0)) ++ Seq(day(4, 30.0), day(5, 30.0),
      day(6, 30.0))

    val query = graft.streaming.StreamingCusum
      .alarms(events, baseline = 3, h = 1L).writeStream
      .format("memory").queryName("cusum_test").outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      // push the watermark past day 6 so nothing stays buffered
      input.addData(day(9, 30.0))
      query.processAllAvailable()
      val got = spark.table("cusum_test").collect()
      assert(got.length == 1, s"exactly one alarm (fired latch): ${got.toSeq}")
      val a = got.head
      // the batch twin on the same finished dataset names the same day
      val batchDf = rows.toDF("event_type", "ts", "value")
      val b = graft.operators.EventAnalytics
        .cusumChangepointOf(batchDf, baseline = 3, h = 1L).collect().head
      assert(a.getDate(1).toString == b.getDate(1).toString,
        s"stream ${a.getDate(1)} vs batch ${b.getDate(1)}")
      assert(a.getDouble(2) == b.getDouble(2) &&
        a.getDouble(3) == b.getDouble(3) && a.getDouble(4) == b.getDouble(4),
        s"stream $a vs batch $b")
    } finally query.stop()
  }

  test("streaming sprt: a planted lift crosses Wald's A at trial 12 and latches") {
    implicit val sqlCtx = spark.sqlContext
    val pool = (0L until 100L)
    val armOf = pool.toDF("user_id")
      .select(col("user_id"), graft.operators.Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val treated = pool.filter(armOf(_) == 1L).take(15)
    val input = MemoryStream[(String, Timestamp, Long)]
    val events = input.toDF().toDF("event_type", "ts", "user_id")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val query = graft.streaming.StreamingSprt.decisions(events).writeStream
      .format("memory").queryName("sprt_lift").outputMode("append").start()
    try {
      // 15 treated purchases + an unmonitored view: ln(1.3) per trial
      // crosses A = ln 18 = 2.8904 at the 12th (12·0.262364 = 3.1484)
      input.addData(
        (treated.map(u => ("purchase", t0, u)) :+ (("view", t0, 999L))): _*)
      query.processAllAvailable()
      val got = spark.table("sprt_lift").collect()
      assert(got.length == 1, s"one decision: ${got.toSeq}")
      val d = got.head
      assert(d.getString(0) == "purchase" && d.getString(1) == "accept_h1",
        s"$d")
      assert(d.getLong(2) == 12L && d.getLong(3) == 12L, s"$d")
      assert(d.getDouble(4) == 3.1484, s"$d")
      // the decision latches: further trials emit nothing
      input.addData(treated.take(5).map(u => ("purchase", t0, u)): _*)
      query.processAllAvailable()
      assert(spark.table("sprt_lift").count() == 1)
    } finally query.stop()
  }

  test("streaming sprt: a control-heavy stream accepts H0; a short balanced one stays open") {
    implicit val sqlCtx = spark.sqlContext
    val pool = (0L until 100L)
    val armOf = pool.toDF("user_id")
      .select(col("user_id"), graft.operators.Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val treated = pool.filter(armOf(_) == 1L).take(5)
    val control = pool.filter(armOf(_) == 0L).take(10)
    val input = MemoryStream[(String, Timestamp, Long)]
    val events = input.toDF().toDF("event_type", "ts", "user_id")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val query = graft.streaming.StreamingSprt.decisions(events).writeStream
      .format("memory").queryName("sprt_null").outputMode("append").start()
    try {
      // 3 + 3 balanced: llr = 3(ln1.3 + ln0.7) = −0.2829 — no boundary
      input.addData((treated.take(3).map(u => ("purchase", t0, u))
        ++ control.take(3).map(u => ("purchase", t0, u))): _*)
      query.processAllAvailable()
      assert(spark.table("sprt_null").isEmpty, "balanced stream stays open")
      // 7 more control-only: cumulative llr falls through B = −2.2513
      input.addData(control.drop(3).take(7).map(u => ("purchase", t0, u)): _*)
      query.processAllAvailable()
      val got = spark.table("sprt_null").collect()
      assert(got.length == 1, s"${got.toSeq}")
      assert(got.head.getString(1) == "accept_h0", s"${got.head}")
    } finally query.stop()
  }

  test("streaming cusum: a baseline-quiet type never alarms; state survives idle days") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("event_type", "ts", "value")
    def day(d: Int, v: Double) =
      ("view", Timestamp.valueOf(f"2026-01-$d%02d 12:00:00"), v)

    val query = graft.streaming.StreamingCusum
      .alarms(events, baseline = 3, h = 1L).writeStream
      .format("memory").queryName("cusum_quiet_test").outputMode("append").start()
    try {
      // steady 10/day for 6 days: S stays 0, no alarm ever
      input.addData((1 to 6).map(day(_, 10.0)): _*)
      query.processAllAvailable()
      assert(spark.table("cusum_quiet_test").isEmpty)
      // after an idle gap (timeout closed day 6) the shift still fires
      input.addData(day(12, 40.0), day(13, 40.0))
      query.processAllAvailable()
      input.addData(day(16, 40.0))
      query.processAllAvailable()
      val got = spark.table("cusum_quiet_test").collect()
      assert(got.length == 1 && got.head.getDate(1).toString == "2026-01-12",
        s"the first post-gap shift day must alarm: ${got.toSeq}")
    } finally query.stop()
  }

  test("streaming interarrival: bucketed quantiles match hand-computed gaps across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val events = input.toDF().toDF("event_type", "ts")
    def ts(t: String) = Timestamp.valueOf(s"2026-01-01 $t")

    val query = graft.streaming.StreamingInterarrival.snapshots(events)
      .writeStream.format("memory").queryName("ia_test")
      .outputMode("append").start()
    try {
      // Gaps: 1s, 1s, 2s (batch 1) then +4s continuing the chain.
      input.addData(("a", ts("10:00:00")), ("a", ts("10:00:01")),
        ("a", ts("10:00:02")), ("a", ts("10:00:04")))
      query.processAllAvailable()
      input.addData(("a", ts("10:00:08")))
      query.processAllAvailable()
      val rows = spark.table("ia_test").collect()
        .filter(_.getString(0) == "a").sortBy(_.getLong(1))
      assert(rows.last.getLong(1) == 4L, s"4 gaps total: ${rows.toSeq}")
      assert(rows.last.getLong(2) == 0L, "no late events")
      // Gaps µs: 1e6 (b20), 1e6, 2e6 (b21), 4e6 (b22). p50 -> 2nd gap
      // -> bucket 20 bound 2^20 µs = 1.0486 s; p99 -> bucket 22 bound
      // 4.1943 s.
      assert(rows.last.getDouble(3) == 1.0486, s"p50: ${rows.last}")
      assert(rows.last.getDouble(5) == 4.1943, s"p99: ${rows.last}")
    } finally query.stop()
  }

  test("streaming interarrival: out-of-order events count as late, not as gaps") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val events = input.toDF().toDF("event_type", "ts")
    def ts(t: String) = Timestamp.valueOf(s"2026-01-01 $t")

    val query = graft.streaming.StreamingInterarrival.snapshots(events)
      .writeStream.format("memory").queryName("ia_late_test")
      .outputMode("append").start()
    try {
      input.addData(("b", ts("10:00:00")), ("b", ts("10:00:10")))
      query.processAllAvailable()
      // Older than the newest processed event: no reconstructable
      // neighbor gap without unbounded buffering -> n_late.
      input.addData(("b", ts("10:00:05")))
      query.processAllAvailable()
      val last = spark.table("ia_late_test").collect()
        .filter(_.getString(0) == "b").maxBy(_.getLong(2))
      assert(last.getLong(1) == 1L && last.getLong(2) == 1L,
        s"one real gap, one late: $last")
    } finally query.stop()
  }

  test("native session_window merges gap sessions and closes them at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    def ts(t: String) = Timestamp.valueOf(s"2026-01-01 $t")

    val query = graft.streaming.EventStreamJob.sessionWindowCounts(events)
      .writeStream.format("memory").queryName("sw_test")
      .outputMode("append").start()
    try {
      // User 1: events at 10:00 and 10:20 (one session, gap < 30m),
      // then 11:30 (new session). User 2: a single event.
      input.addData((1L, ts("10:00:00")), (1L, ts("10:20:00")),
        (2L, ts("10:05:00")), (1L, ts("11:30:00")))
      query.processAllAvailable()
      // Advance the watermark far enough to close every session.
      input.addData((9L, ts("18:00:00")))
      query.processAllAvailable()
      val got = spark.table("sw_test").collect()
        .map(r => (r.getLong(2), r.getTimestamp(0).toString, r.getLong(3)))
        .toSet
      assert(got.contains((1L, "2026-01-01 10:00:00.0", 2L)),
        s"merged 2-event session: $got")
      assert(got.contains((1L, "2026-01-01 11:30:00.0", 1L)),
        "the 70-minute gap starts a second session")
      assert(got.contains((2L, "2026-01-01 10:05:00.0", 1L)))
    } finally query.stop()
  }

  test("StreamingConcurrency: closed-day peaks equal the batch sweep, carry across midnight") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    // Two days of events incl. a midnight-spanning session (user 1)
    // and overlapping day-2 sessions — the carry and the exclusive-end
    // tie rule both matter.
    val events = Seq(
      (1L, "2026-01-01 23:40:00"), (1L, "2026-01-01 23:55:00"),
      (1L, "2026-01-02 00:10:00"), // spans midnight: open at 00:00
      (2L, "2026-01-01 10:00:00"), (2L, "2026-01-01 10:20:00"),
      (3L, "2026-01-01 10:10:00"),
      (2L, "2026-01-02 00:05:00"), (3L, "2026-01-02 00:05:00"),
      (4L, "2026-01-02 09:00:00"))
      .zipWithIndex.map { case ((u, s), i) => (i.toLong, u, t(s)) }
      .toDF("event_id", "user_id", "ts")
    val batch = graft.operators.EventAnalytics.peakConcurrencyOf(events)
      .collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap

    val sessions = graft.operators.EventAnalytics.sessionizeOf(events)
      .select(col("user_id"), timestamp_micros(col("start_us")).as("start_ts"),
        timestamp_micros(col("end_us")).as("end_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))

    val input = MemoryStream[(Long, Timestamp, Timestamp)]
    val stream = input.toDF().toDF("user_id", "start_ts", "end_ts")
    val query = graft.streaming.StreamingConcurrency.dayPeaks(stream)
      .writeStream.format("memory").queryName("conc_test")
      .outputMode("append").start()
    try {
      input.addData(sessions.toIndexedSeq: _*)
      query.processAllAvailable()
      // The in-batch watermark (max end 09:00 − 30 min = day-2 08:30)
      // already certifies day 1's midnight, and ONLY day 1's.
      val early = spark.table("conc_test").collect()
        .map(_.getDate(0).toString).toSet
      assert(early == Set("2026-01-01"),
        s"day 1 closes on the first watermark advance, day 2 stays open: $early")
      // A far-future dummy session certifies both real days closed.
      input.addData((9L, t("2026-01-10 00:00:00"), t("2026-01-10 00:05:00")))
      query.processAllAvailable()
      val streamed = spark.table("conc_test").collect()
        .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed.keySet == Set("2026-01-01", "2026-01-02"),
        s"both real days close, the dummy day stays open: $streamed")
      streamed.foreach { case (day, got) =>
        assert(got == batch(day), s"$day: streamed $got vs batch ${batch(day)}")
      }
      // The midnight carry is the whole point: day 2 peaks at 3
      // concurrent (user 1's midnight-spanning session still open
      // while users 2 and 3 fire at the same instant), which a
      // carry-free per-day sweep would under-report.
      assert(streamed("2026-01-02")._2 == 3L)
    } finally query.stop()
  }

  test("StreamingTwap: closed-day session-seconds equal the batch integral, midnight split exact") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    // the concurrency fixture: a midnight-spanning session (user 1),
    // overlaps, and a single-event (zero-length) session — the split
    // and the zero-seconds row both matter
    val events = Seq(
      (1L, "2026-01-01 23:40:00"), (1L, "2026-01-01 23:55:00"),
      (1L, "2026-01-02 00:10:00"),
      (2L, "2026-01-01 10:00:00"), (2L, "2026-01-01 10:20:00"),
      (3L, "2026-01-01 10:10:00"),
      (2L, "2026-01-02 00:05:00"), (3L, "2026-01-02 00:05:00"),
      (4L, "2026-01-02 09:00:00"))
      .zipWithIndex.map { case ((u, s), i) => (i.toLong, u, t(s)) }
      .toDF("event_id", "user_id", "ts")
    val batch = graft.operators.EventAnalytics.twapConcurrencyOf(events)
      .collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val sessions = graft.operators.EventAnalytics.sessionizeOf(events)
      .select(col("user_id"), timestamp_micros(col("start_us")).as("start_ts"),
        timestamp_micros(col("end_us")).as("end_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
    val input = MemoryStream[(Long, Timestamp, Timestamp)]
    val stream = input.toDF().toDF("user_id", "start_ts", "end_ts")
    val query = graft.streaming.StreamingTwap.dayTwap(stream)
      .writeStream.format("memory").queryName("twap_test")
      .outputMode("append").start()
    try {
      input.addData(sessions.toIndexedSeq: _*)
      query.processAllAvailable()
      // far-future dummy closes both real days
      input.addData((9L, t("2026-01-10 00:00:00"), t("2026-01-10 00:05:00")))
      query.processAllAvailable()
      val streamed = spark.table("twap_test").collect()
        .map(r => r.getDate(0).toString ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(streamed.keySet == Set("2026-01-01", "2026-01-02"),
        s"both real days close, the dummy day stays open: $streamed")
      streamed.foreach { case (day, got) =>
        assert(got == batch(day), s"$day: streamed $got vs batch ${batch(day)}")
      }
      // the midnight-spanning session contributes 5 min to day 1 and
      // 10 min to day 2 — day 2's seconds include the carry piece
      assert(streamed("2026-01-01")._1 == 3L &&
        streamed("2026-01-02")._1 == 4L, s"$streamed")
    } finally query.stop()
  }

  test("StreamingConcurrency: µs-grain handoffs keep the exclusive-end order (no ms collapse)") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    // Timestamp.getTime truncates to ms; the sub-ms grain lives in
    // getNanos. These three sessions differ ONLY below the
    // millisecond: user 1 hands off to user 2 (1's exclusive end ==
    // 2's start µs — never concurrent), users 2 and 3 overlap → true
    // peak 2. An ms-truncated sweep collapses every marker onto one
    // µs and reads 3 — exactly the divergence from the batch twin's
    // exact unix_micros sweep this pins against.
    val sessions = Seq(
      (1L, t("2026-01-01 10:00:00.000001"), t("2026-01-01 10:00:00.000003")),
      (2L, t("2026-01-01 10:00:00.000004"), t("2026-01-01 10:00:00.000009")),
      (3L, t("2026-01-01 10:00:00.000005"), t("2026-01-01 10:00:00.000007")))
    val input = MemoryStream[(Long, Timestamp, Timestamp)]
    val stream = input.toDF().toDF("user_id", "start_ts", "end_ts")
    val query = graft.streaming.StreamingConcurrency.dayPeaks(stream)
      .writeStream.format("memory").queryName("conc_us_test")
      .outputMode("append").start()
    try {
      input.addData(sessions.toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData((9L, t("2026-01-10 00:00:00"), t("2026-01-10 00:05:00")))
      query.processAllAvailable()
      val streamed = spark.table("conc_us_test").collect()
        .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed("2026-01-01") == ((3L, 2L)),
        s"µs handoff must not collapse to a false peak: $streamed")
    } finally query.stop()
  }

  test("StreamingGrowth: closed-day new-user counts match the batch curve; no TTL recount") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp)]
    val query = graft.streaming.StreamingGrowth
      .newUsersPerDay(input.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("growth_test")
      .outputMode("append").start()
    try {
      // Day 1: u1, u2 (u1 twice — in-batch disorder: the later event
      // arrives first in the tuple order). Day 2: u1 RETURNS (must not
      // recount), u3 is new.
      input.addData(
        (1L, t("2026-01-01 12:00:00")), (1L, t("2026-01-01 09:00:00")),
        (2L, t("2026-01-01 10:00:00")))
      query.processAllAvailable()
      input.addData((1L, t("2026-01-02 08:00:00")), (3L, t("2026-01-02 09:00:00")))
      query.processAllAvailable()
      // cross-batch disorder: u3's EARLIER day-1 event arrives after
      // its day-2 emission — append mode cannot retract; the
      // documented contract keeps u3 on day 2.
      input.addData((3L, t("2026-01-01 23:00:00")))
      query.processAllAvailable()
      input.addData((9L, t("2026-01-10 00:00:00"))) // watermark closes all
      query.processAllAvailable()
      val streamed = spark.table("growth_test").collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(streamed.get("2026-01-01").contains(2L), s"$streamed")
      assert(streamed.get("2026-01-02").contains(1L),
        s"u1 returns un-recounted, u3 stays day-2 per the contract: $streamed")
      // The batch twin on the same series WITHOUT the cross-batch
      // disorder event agrees day-for-day (n_new_users column).
      val batch = graft.operators.Behavior.userGrowthOf(
        Seq((1L, t("2026-01-01 09:00:00")), (1L, t("2026-01-01 12:00:00")),
          (2L, t("2026-01-01 10:00:00")), (1L, t("2026-01-02 08:00:00")),
          (3L, t("2026-01-02 09:00:00")))
          .toDF("user_id", "ts")).collect()
        .map(r => r.getDate(0).toString -> r.getLong(2)).toMap
      assert(batch == Map("2026-01-01" -> 2L, "2026-01-02" -> 1L),
        s"batch curve: $batch")
      assert(batch.forall { case (d, n) => streamed.get(d).contains(n) },
        s"streamed ≡ batch on the in-order series: $batch vs $streamed")
    } finally query.stop()
  }

  // --- checkpoint-restart audits for the newest stateful operators
  // (rows 196/220/264): each op survives a stop/restart from its
  // checkpoint with out-of-order replay arriving AFTER the restart,
  // and the union of pre- and post-restart emissions equals the
  // uninterrupted run's answer. Row 211's fencing test covers the
  // crash-mid-write case; these cover clean-restart state recovery.

  private def restartDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  // The memory sink refuses checkpoint recovery, so the restart
  // audits collect through foreachBatch (which supports it) into a
  // synchronized buffer — same rows, restart-safe.
  private def collectingSink(df: org.apache.spark.sql.DataFrame,
                             ckpt: String,
                             buf: scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]) =
    df.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect()
        buf.synchronized { buf ++= rows }
        ()
      }.start()

  test("StreamingFunnel survives a checkpoint restart with out-of-order replay") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val ckpt = restartDir("graft-funnel-restart")
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def start() = collectingSink(graft.streaming.StreamingFunnel
      .funnelUsers(input.toDF().toDF("user_id", "event_type", "ts")).toDF(),
      ckpt, buf)
    var query = start()
    try {
      input.addData(
        (11L, "view", ts("09:00")), (11L, "click", ts("09:20")),
        (12L, "view", ts("09:10")))
      query.processAllAvailable()
    } finally { query.stop() }
    // Down: u11's purchase and u12's OUT-OF-ORDER click (event-time
    // BEFORE its view — must not count as a step) arrive while the
    // query is off; the restarted query must resume u11/u12's open
    // chains from state, not re-anchor them.
    input.addData((11L, "purchase", ts("10:00")), (12L, "click", ts("09:05")))
    query = start()
    try {
      query.processAllAvailable()
      input.addData((99L, "view", ts("17:00"))) // sentinel closes all
      query.processAllAvailable()
      val out = buf.synchronized { buf.toSeq }
        .map(r => r.getLong(0) -> ((Option(r.getTimestamp(2)).isDefined,
          Option(r.getTimestamp(3)).isDefined))).toMap
      assert(out.keySet == Set(11L, 12L),
        s"both pre-restart chains must finalize after the restart: ${out.keySet}")
      assert(out(11L) == ((true, true)),
        "u11's post-restart purchase must extend the RESTORED chain")
      assert(out(12L) == ((false, false)),
        "u12's out-of-order click (event-time before its view) must not count")
    } finally query.stop()
  }

  test("StreamingGrowthAccounting: in-order classes equal the batch decomposition, churn both ways") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    // u1 active days 1, 2, 4 (the gap churn must materialize AT
    // ARRIVAL of day 4); u2 active day 2 only (its churn must
    // materialize BY TIMEOUT); u9 is the watermark sentinel whose own
    // trailing churn stays open — exactly the batch twin's edge fence.
    val events = Seq(
      (1L, t("2024-01-01 10:00:00")), (1L, t("2024-01-02 10:00:00")),
      (1L, t("2024-01-04 10:00:00")),
      (2L, t("2024-01-02 09:00:00")),
      (9L, t("2024-01-10 12:00:00")))
    val input = MemoryStream[(Long, Timestamp)]
    val query = graft.streaming.StreamingGrowthAccounting
      .classified(input.toDF().toDF("user_id", "ts")).toDF()
      .writeStream.format("memory").queryName("ga_test")
      .outputMode("append").start()
    try {
      input.addData(events.toIndexedSeq: _*)
      query.processAllAvailable()
      val streamed = spark.table("ga_test").collect()
        .groupBy(r => (r.getTimestamp(0).toInstant.toString.take(10),
          r.getString(1)))
        .map { case (k, rows) => k -> rows.length.toLong }
      val batch = graft.operators.Behavior.growthAccountingOf(
        events.zipWithIndex.map { case ((u, ts0), i) => (i.toLong, u, ts0) }
          .toDF("event_id", "user_id", "ts")
          .withColumn("event_type", lit("view")))
        .collect().flatMap { r =>
          val day = r.getDate(0).toString
          Seq("new" -> r.getLong(2), "retained" -> r.getLong(3),
            "resurrected" -> r.getLong(4), "churned" -> r.getLong(5))
            .collect { case (c, n) if n > 0 => (day, c) -> n }
        }.toMap
      assert(streamed == batch,
        s"streamed ≡ batch decomposition:\n$streamed\nvs\n$batch")
    } finally query.stop()
  }

  test("StreamingTwap restarts mid-day and the restored integrals stay exact") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp, Timestamp)]
    val ckpt = restartDir("graft-twap-restart")
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def start() = collectingSink(graft.streaming.StreamingTwap
      .dayTwap(input.toDF().toDF("user_id", "start_ts", "end_ts")).toDF(),
      ckpt, buf)
    var query = start()
    try {
      input.addData((1L, t("2026-01-01 10:00:00"), t("2026-01-01 10:20:00")))
      query.processAllAvailable()
    } finally { query.stop() }
    // down: the midnight-spanning session — its day-1 piece must merge
    // into the RESTORED day-1 state, its day-2 piece into fresh state —
    // plus a plain day-2 session.
    input.addData(
      (2L, t("2026-01-01 23:50:00"), t("2026-01-02 00:10:00")),
      (3L, t("2026-01-02 09:00:00"), t("2026-01-02 09:05:00")))
    query = start()
    try {
      query.processAllAvailable()
      input.addData((9L, t("2026-01-10 00:00:00"), t("2026-01-10 00:05:00")))
      query.processAllAvailable()
      val streamed = buf.synchronized { buf.toSeq }
        .map(r => r.getDate(0).toString ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      // day 1: 1200 s (u1) + 600 s (u2's pre-midnight piece) = 1800 s;
      // day 2: 600 s (u2's carry) + 300 s (u3) = 900 s
      assert(streamed("2026-01-01") ==
        ((2L, 1800.0, math.floor(1800e6 / 86400e6 * 1e4 + 0.5) / 1e4)),
        s"$streamed")
      assert(streamed("2026-01-02") ==
        ((2L, 900.0, math.floor(900e6 / 86400e6 * 1e4 + 0.5) / 1e4)),
        s"$streamed")
    } finally query.stop()
  }

  test("streaming cusum restarts mid-baseline and still matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val ckpt = restartDir("graft-cusum-restart")
    def day(d: Int, v: Double) =
      ("click", Timestamp.valueOf(f"2026-01-$d%02d 12:00:00"), v)
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def start() = collectingSink(graft.streaming.StreamingCusum
      .alarms(input.toDF().toDF("event_type", "ts", "value"),
        baseline = 3, h = 1L).toDF(), ckpt, buf)
    var query = start()
    try {
      // Two baseline days, then stop — μ0 is NOT yet established, so
      // the whole decision depends on restored per-day partial sums.
      input.addData(day(1, 10.0), day(2, 10.0))
      query.processAllAvailable()
    } finally query.stop()
    // Remaining days arrive shuffled (out-of-order within the batch),
    // including a second same-day event for day 3 that must merge
    // into the restored daily total (6 + 4 = the baseline 10).
    input.addData(day(5, 30.0), day(3, 6.0), day(4, 30.0), day(3, 4.0),
      day(6, 30.0))
    query = start()
    try {
      query.processAllAvailable()
      input.addData(day(9, 30.0)) // watermark past day 6
      query.processAllAvailable()
      val got = buf.synchronized { buf.toArray }
      assert(got.length == 1, s"exactly one alarm across the restart: ${got.toSeq}")
      val rows = Seq(day(1, 10.0), day(2, 10.0), day(3, 6.0), day(3, 4.0),
        day(4, 30.0), day(5, 30.0), day(6, 30.0))
      val b = graft.operators.EventAnalytics
        .cusumChangepointOf(rows.toDF("event_type", "ts", "value"),
          baseline = 3, h = 1L).collect().head
      val a = got.head
      assert(a.getDate(1).toString == b.getDate(1).toString &&
        a.getDouble(2) == b.getDouble(2) && a.getDouble(3) == b.getDouble(3),
        s"stream $a vs batch $b")
    } finally query.stop()
  }

  test("StreamingConcurrency restarts with open sessions and still matches the batch sweep") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      (1L, "2026-01-01 23:40:00"), (1L, "2026-01-01 23:55:00"),
      (1L, "2026-01-02 00:10:00"),
      (2L, "2026-01-01 10:00:00"), (2L, "2026-01-01 10:20:00"),
      (3L, "2026-01-01 10:10:00"),
      (2L, "2026-01-02 00:05:00"), (3L, "2026-01-02 00:05:00"),
      (4L, "2026-01-02 09:00:00"))
      .zipWithIndex.map { case ((u, s), i) => (i.toLong, u, t(s)) }
      .toDF("event_id", "user_id", "ts")
    val batch = graft.operators.EventAnalytics.peakConcurrencyOf(events)
      .collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    val sessions = graft.operators.EventAnalytics.sessionizeOf(events)
      .select(col("user_id"), timestamp_micros(col("start_us")).as("start_ts"),
        timestamp_micros(col("end_us")).as("end_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      .sortBy(_._3.getTime)
    val (early, late) = sessions.splitAt(sessions.length / 2)
    val input = MemoryStream[(Long, Timestamp, Timestamp)]
    val ckpt = restartDir("graft-conc-restart")
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def start() = collectingSink(graft.streaming.StreamingConcurrency
      .dayPeaks(input.toDF().toDF("user_id", "start_ts", "end_ts")).toDF(),
      ckpt, buf)
    val query0 = start()
    try {
      input.addData(early.toIndexedSeq: _*)
      query0.processAllAvailable()
    } finally query0.stop()
    // The day-1 markers (incl. the midnight-spanning session's open
    // end) are in state; the remaining sessions arrive REVERSED
    // (latest first) after the restart, plus the far-future closer.
    input.addData(late.reverse.toIndexedSeq: _*)
    val query = start()
    try {
      query.processAllAvailable()
      input.addData((9L, t("2026-01-10 00:00:00"), t("2026-01-10 00:05:00")))
      query.processAllAvailable()
      val streamed = buf.synchronized { buf.toSeq }
        .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed.keySet == Set("2026-01-01", "2026-01-02"),
        s"both days close across the restart: $streamed")
      streamed.foreach { case (day, got) =>
        assert(got == batch(day), s"$day: streamed $got vs batch ${batch(day)}")
      }
    } finally query.stop()
  }

  test("streaming croston: the z/p fold matches the batch recursion after each closed demand day") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String)]
    val events = input.toDF().toDF("event_type", "ts", "props")
    def p(d: Int, k: Long = 2L) =
      ("purchase", Timestamp.valueOf(f"2026-01-$d%02d 12:00:00"), s"""{"k": $k}""")

    val query = graft.streaming.StreamingCroston.rates(events).writeStream
      .format("memory").queryName("croston_test").outputMode("append").start()
    try {
      // demand days 1, 3, 5, 7 (one purchase each), split across
      // batches; day 9 closes day 7 via arrival, day 13 pushes the
      // watermark so nothing stays buffered.
      input.addData(p(1), p(3))
      query.processAllAvailable()
      input.addData(p(5), p(7), p(9))
      query.processAllAvailable()
      input.addData(p(13))
      query.processAllAvailable()
      val got = spark.table("croston_test").collect()
        .map(r => r.getDate(1).toString ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      // seed: z=1000, p=1000 (documented stream seed) → rate 1000;
      // then gap-2 updates: p 1000→1500→1750→1875... day 1 closes with
      // the seed; day 3/5/7 fold gap 2: p=(2000+1000)>>1=1500, then
      // 1750, then 1875; z stays 1000. Rates: 1000000/p.
      assert(got("2026-01-01") == ((1L, 1000L, 1000L, 1000L)), s"$got")
      assert(got("2026-01-03") == ((2L, 1000L, 1500L, 666L)), s"$got")
      assert(got("2026-01-05") == ((3L, 1000L, 1750L, 571L)), s"$got")
      assert(got("2026-01-07") == ((4L, 1000L, 1875L, 533L)), s"$got")
      // day 9 closed by the day-13 watermark push (timeout path)
      assert(got.contains("2026-01-09"), s"timeout must close day 9: $got")
    } finally query.stop()
  }

  test("streaming croston: a middle demand day (d0 < d < d1, both buckets held) keeps BOTH neighbors' counts") {
    // The both-buckets middle-insertion branch: batch A delivers days
    // D and D+2, the next batch (same query run, no restart) delivers
    // a still-watermark-legal D+1. The forced close of D must NOT
    // drop the shifted D+2 bucket — all three days emit, with D's two
    // purchases and D+2's one purchase both counted.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String)]
    val events = input.toDF().toDF("event_type", "ts", "props")
    def p(d: Int, hm: String = "12:00") =
      ("purchase", Timestamp.valueOf(f"2026-01-$d%02d $hm:00"), """{"k": 7}""")

    val query = graft.streaming.StreamingCroston.rates(events).writeStream
      .format("memory").queryName("croston_middle_test")
      .outputMode("append").start()
    try {
      // day 1 twice (so a dropped-count bug is visible in z) + day 3;
      // watermark after this batch = Jan 2 12:00
      input.addData(p(1), p(1, "13:00"), p(3))
      query.processAllAvailable()
      // day 2 at 13:00 — legal (> wm Jan 2 12:00), lands BETWEEN the
      // two held buckets: close(day 1) shifts day 3 down; the late day
      // must slot BELOW it, not overwrite it
      input.addData(p(2, "13:00"))
      query.processAllAvailable()
      // frontier pushes: each arrival force-closes the oldest bucket
      input.addData(p(5))
      query.processAllAvailable()
      input.addData(p(9))
      query.processAllAvailable()
      input.addData(p(13))
      query.processAllAvailable()
      val got = spark.table("croston_middle_test").collect()
        .map(r => r.getDate(1).toString ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      // fold over demand days 1(×2),2,3,5,9: seed z=2000 (two
      // purchases), p=1000; gap-1 closes keep p=1000; then gap 2
      // (p=(2000+1000)>>1=1500) and gap 4 (p=(4000+1500)>>1=2750).
      assert(got == Map(
        "2026-01-01" -> ((1L, 2000L, 1000L, 2000L)),
        "2026-01-02" -> ((2L, 1500L, 1000L, 1500L)),
        // day 3's purchase survives the middle insertion's close
        "2026-01-03" -> ((3L, 1250L, 1000L, 1250L)),
        "2026-01-05" -> ((4L, 1125L, 1500L, 750L)),
        "2026-01-09" -> ((5L, 1062L, 2750L, 386L))), s"$got")
    } finally query.stop()
  }

  test("streaming croston: an arrival >= 2 days behind the buffered frontier is late-DROPPED, not merged") {
    // The documented residual divergence vs the batch fold: once the
    // two-bucket frontier {D, D+2} has crossed a batch boundary, the
    // global watermark is >= start(D), so a second purchase for day D
    // arriving 2 days behind the frontier is filtered as late data —
    // day D must close with ONE purchase (z = 1000), not two.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String)]
    val events = input.toDF().toDF("event_type", "ts", "props")
    def p(d: Int, hm: String = "09:00") =
      ("purchase", Timestamp.valueOf(f"2026-01-$d%02d $hm:00"), """{"k": 5}""")

    val query = graft.streaming.StreamingCroston.rates(events).writeStream
      .format("memory").queryName("croston_latedrop_test")
      .outputMode("append").start()
    try {
      input.addData(p(1), p(3))          // frontier {1, 3}; wm -> Jan 2 09:00
      query.processAllAvailable()
      input.addData(p(1, "10:00"))       // 2 days behind day-3 frontier: late
      query.processAllAvailable()
      input.addData(p(7))                // push: force-close 1 and 3
      query.processAllAvailable()
      input.addData(p(11))               // wm push: timeout closes day 7
      query.processAllAvailable()
      val got = spark.table("croston_latedrop_test").collect()
        .map(r => r.getDate(1).toString -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(got.get("2026-01-01").map(_._2).contains(1000L),
        s"the 2-day-late twin purchase must be watermark-dropped: $got")
      assert(got.keySet == Set("2026-01-01", "2026-01-03", "2026-01-07"), s"$got")
    } finally query.stop()
  }

  test("streaming dup payments: pairs match the batch twin's gap rollup across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double, Timestamp)]
    val orders = input.toDF()
      .toDF("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // the batch spec's planted frame: cust 1 near-pair gap 1 (100.00
    // vs 100.50), a 2%-off decoy, an out-of-window day-20 twin;
    // cust 2 exact same-day pair.
    val b1 = Seq((1L, 1L, 100.00, t(1)), (2L, 5L, 200.00, t(1)),
      (2L, 6L, 200.00, t(1)))
    val b2 = Seq((1L, 2L, 100.50, t(2)), (1L, 4L, 150.00, t(3)),
      (1L, 3L, 100.00, t(21)))

    val query = graft.streaming.StreamingDupPayments.pairs(orders)
      .writeStream
      .format("memory").queryName("dup_pay_test").outputMode("append").start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      val got = spark.table("dup_pay_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4)))
      assert(got.toSet == Set((2L, 5L, 6L, 0L, 200.0), (1L, 1L, 2L, 1L, 100.0)),
        s"got ${got.toSeq}")
      // the gap rollup equals the batch twin's on the same orders
      val batch = graft.operators.Warehouse.duplicatePaymentsOf(
        (b1 ++ b2).toDF("o_custkey", "o_orderkey", "o_totalprice",
          "o_orderdate")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val stream = got.groupBy(_._4).map { case (g, ps) =>
        g -> ((ps.length.toLong, ps.map(_._5).sum)) }
      assert(stream == batch, s"stream $stream vs batch $batch")
    } finally query.stop()
  }

  test("StreamingCroston survives a checkpoint restart and closes a 1-day-disordered demand day in order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String)]
    val ckpt = restartDir("graft-croston-restart")
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def p(d: Int, hm: String = "12:00") =
      ("purchase", Timestamp.valueOf(f"2026-01-$d%02d $hm:00"), """{"k": 2}""")
    def start() = collectingSink(graft.streaming.StreamingCroston
      .rates(input.toDF().toDF("event_type", "ts", "props")).toDF(),
      ckpt, buf)
    var query = start()
    try {
      // demand days 1 and 3 open; day 3 at 09:00 keeps the watermark
      // at Jan 2 09:00 so the down-time day-2 arrival stays legal
      input.addData(p(1), p(3, "09:00"))
      query.processAllAvailable()
    } finally { query.stop() }
    // Down: day 2 — a demand day BETWEEN the two restored buckets
    // (the frontier-disorder case the two-bucket buffer exists for:
    // it must close as its OWN demand day, not fold into an open
    // one) — plus day 5 pushing the frontier.
    input.addData(p(2), p(5))
    query = start()
    try {
      query.processAllAvailable()
      input.addData(p(9))
      query.processAllAvailable()
      input.addData(p(13)) // watermark push: timeout closes day 9
      query.processAllAvailable()
      val got = buf.synchronized { buf.toSeq }
        .map(r => r.getDate(1).toString ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      // the uninterrupted fold over demand days 1,2,3,5,9:
      // seed (z=1000, p=1000); gap-1 closes keep p=1000; then gap 2
      // (p=(2000+1000)>>1=1500) and gap 4 (p=(4000+1500)>>1=2750)
      assert(got == Map(
        "2026-01-01" -> ((1L, 1000L, 1000L, 1000L)),
        // the down-time day-2 arrival must close as its OWN demand
        // day (frontier disorder), not fold into an open bucket
        "2026-01-02" -> ((2L, 1000L, 1000L, 1000L)),
        "2026-01-03" -> ((3L, 1000L, 1000L, 1000L)),
        "2026-01-05" -> ((4L, 1000L, 1500L, 666L)),
        // closed by timeout from restored state
        "2026-01-09" -> ((5L, 1000L, 2750L, 363L))), s"$got")
    } finally query.stop()
  }

  test("StreamingDupPayments survives a checkpoint restart: the restored window still pairs and still expires") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double, Timestamp)]
    val ckpt = restartDir("graft-duppay-restart")
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    def start() = collectingSink(graft.streaming.StreamingDupPayments
      .pairs(input.toDF()
        .toDF("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"))
      .toDF(), ckpt, buf)
    var query = start()
    try {
      input.addData((1L, 1L, 100.00, t(1)), (2L, 5L, 200.00, t(1)),
        (2L, 6L, 200.00, t(1)))
      query.processAllAvailable()
    } finally { query.stop() }
    // Down: the 1%-near twin of cust 1's restored order (must pair
    // against RESTORED state) and a day-21 order outside the window
    // (must not pair, and must evict the old window entries).
    input.addData((1L, 2L, 100.50, t(2)), (1L, 3L, 100.00, t(21)))
    query = start()
    try {
      query.processAllAvailable()
      // after the prune, only the day-21 entry is live: a day-22
      // exact twin pairs with it and ONLY it
      input.addData((1L, 4L, 100.00, t(22)))
      query.processAllAvailable()
      val got = buf.synchronized { buf.toSeq }
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      assert(got == Set((2L, 5L, 6L, 0L, 200.0), (1L, 1L, 2L, 1L, 100.0),
        (1L, 3L, 4L, 1L, 100.0)),
        s"restored window must pair the near-twin and expire for day 22: $got")
    } finally query.stop()
  }

  test("streaming page-hinkley: an upward level shift fires at the hand-traced trial and latches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val events = input.toDF().toDF("event_type", "ts", "event_id", "value")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val query = graft.streaming.StreamingPageHinkley
      .alarms(events, delta = 0.0, lambda = 10.0).writeStream
      .format("memory").queryName("ph_up").outputMode("append").start()
    try {
      // 10 at 1.0 (m stays 0), then 3.0s: the integer-mean trace puts
      // m - min m over 1e7 micro exactly at trial 17 (hand-traced:
      // m = 1818182, 3484849, 5023311, 6451883, 7785217, 9035217,
      // 10211688).
      val steady = (1 to 10).map(i => ("m", t0, i.toLong, 1.0))
      val drift = (11 to 17).map(i => ("m", t0, i.toLong, 3.0))
      input.addData(steady ++ drift: _*)
      query.processAllAvailable()
      val got = spark.table("ph_up").collect()
      assert(got.length == 1, s"one alarm: ${got.toSeq}")
      val a = got.head
      assert(a.getString(0) == "m" && a.getString(1) == "up", s"$a")
      assert(a.getLong(2) == 17L, s"fires exactly at trial 17: $a")
      assert(a.getDouble(3) == 1.8235, s"running mean at alarm: $a")
      assert(a.getDouble(4) == 10.2117, s"PH gap at alarm: $a")
      // latch: further drift emits nothing
      input.addData((18 to 25).map(i => ("m", t0, i.toLong, 3.0)): _*)
      query.processAllAvailable()
      assert(spark.table("ph_up").count() == 1)
    } finally query.stop()
  }

  test("streaming page-hinkley: a downward shift fires 'down'; a steady type stays quiet") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val events = input.toDF().toDF("event_type", "ts", "event_id", "value")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val query = graft.streaming.StreamingPageHinkley
      .alarms(events, delta = 0.0, lambda = 10.0).writeStream
      .format("memory").queryName("ph_down").outputMode("append").start()
    try {
      // type "d": 10 at 3.0 then 0.5s — max m - m crosses 1e7 at
      // trial 16 (hand-traced m: -2272727, -4356060, -6279136,
      // -8064850, -9731516, -11294016); type "s" steady at 2.0
      // through both batches never fires.
      val d = (1 to 10).map(i => ("d", t0, i.toLong, 3.0)) ++
        (11 to 16).map(i => ("d", t0, i.toLong, 0.5))
      val s = (1 to 20).map(i => ("s", t0, (100 + i).toLong, 2.0))
      input.addData(d ++ s: _*)
      query.processAllAvailable()
      val got = spark.table("ph_down").collect()
      assert(got.length == 1, s"only the shifted type alarms: ${got.toSeq}")
      val a = got.head
      assert(a.getString(0) == "d" && a.getString(1) == "down", s"$a")
      assert(a.getLong(2) == 16L, s"fires exactly at trial 16: $a")
      assert(a.getDouble(3) == 2.0625, s"running mean at alarm: $a")
      assert(a.getDouble(4) == 11.294, s"PH gap at alarm: $a")
    } finally query.stop()
  }

  test("streaming tost: the gauge certifies equivalence, then revokes it when the arm drifts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val events = input.toDF().toDF("event_type", "ts", "user_id", "value")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val query = graft.streaming.StreamingTost.gauges(events).writeStream
      .format("memory").queryName("tost_gauge").outputMode("append").start()
    try {
      // batch 1: every user contributes 8.0 and 12.0 → both arm
      // means EXACTLY 10, margin 1.0 → equivalent (the batch twin's
      // same-mean fixture)
      val same = (1L to 100L).flatMap(u =>
        Seq(("buy", t0, u, 8.0), ("buy", t0, u, 12.0)))
      input.addData(same: _*)
      query.processAllAvailable()
      val g1 = spark.table("tost_gauge").collect()
      assert(g1.length == 1, s"one gauge row per batch: ${g1.toSeq}")
      assert(g1.head.getDouble(3) == 0.0 && g1.head.getDouble(4) == 1.0,
        s"mean diff / margin: ${g1.head}")
      assert(g1.head.getBoolean(7), s"same-mean arms certify: ${g1.head}")
      // the final gauge must agree with the BATCH twin on the union
      val batchDf = same.toDF("event_type", "t", "user_id", "value")
        .select(lit(1L).as("event_id"), col("user_id"), col("event_type"),
          col("t").as("ts"), col("value"))
      val b = graft.operators.Behavior.tostEquivalenceOf(batchDf).collect()(0)
      assert(b.getBoolean(7) && b.getDouble(3) == 0.0 &&
        b.getDouble(4) == 1.0, s"batch twin agrees: $b")
      assert(g1.head.getDouble(5) == b.getDouble(5) &&
        g1.head.getDouble(6) == b.getDouble(6),
        s"z pair streamed ≡ batch: ${g1.head} vs $b")
      // batch 2: the treated arm drifts +50 — equivalence is LOST
      // and the gauge SAYS so (running readout, not a latch)
      val arms = (1L to 100L).toDF("user_id")
        .select(col("user_id"),
          graft.operators.Behavior.arm2(col("user_id")).as("arm"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val treated = (1L to 100L).filter(arms(_) == 1L).take(20)
      input.addData(treated.map(u => ("buy", t0, u, 60.0)): _*)
      query.processAllAvailable()
      val g2 = spark.table("tost_gauge").collect()
      assert(g2.length == 2, s"a second gauge row: ${g2.toSeq}")
      val last = g2.maxBy(_.getLong(2))
      assert(!last.getBoolean(7), s"drift revokes the certificate: $last")
      assert(last.getDouble(3) > 1.0, s"the lift is visible: $last")
    } finally query.stop()
  }

  test("streaming tost: under two observations per arm the gauge stays silent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val events = input.toDF().toDF("event_type", "ts", "user_id", "value")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val query = graft.streaming.StreamingTost.gauges(events).writeStream
      .format("memory").queryName("tost_quiet").outputMode("append").start()
    try {
      // one user per arm, one event each: n0 = n1 = 1 — no variance,
      // no gauge
      val arms = (1L to 10L).toDF("user_id")
        .select(col("user_id"),
          graft.operators.Behavior.arm2(col("user_id")).as("arm"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val u0 = (1L to 10L).find(arms(_) == 0L).get
      val u1 = (1L to 10L).find(arms(_) == 1L).get
      input.addData(("buy", t0, u0, 5.0), ("buy", t0, u1, 5.0))
      query.processAllAvailable()
      assert(spark.table("tost_quiet").isEmpty, "needs n ≥ 2 per arm")
    } finally query.stop()
  }

  test("AlertSink.foreachBatchPoster posts one message per non-empty micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: com.sun.net.httpserver.HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"

    // a streaming alert frame: (app_name, alert_count, report) rows
    val input = MemoryStream[(String, Long, String)]
    val alerts = input.toDF().toDF("app_name", "alert_count", "report")
    val query = alerts.writeStream
      .foreachBatch(graft.sources.AlertSink.foreachBatchPoster(url))
      .outputMode("append").start()
    try {
      input.addData(("app_0", 1L, "- user_3 is above 25% of 7-day avg"))
      query.processAllAvailable()
      input.addData(("app_1", 1L, "- user_4 is below 25% of 7-day avg"))
      query.processAllAvailable()

      assert(bodies.size == 2, "one message per non-empty batch")
      val all = bodies.toArray.map(_.toString).mkString("\n")
      assert(all.contains("App name: app_0") && all.contains("App name: app_1"))
      assert(all.contains("batch "), "messages are stamped with the batch id")
    } finally { query.stop(); server.stop(0) }
  }

  test("streaming srm: an all-one-arm stream latches at the minN crossing") {
    implicit val sqlCtx = spark.sqlContext
    val pool = (0L until 600L)
    val armOf = pool.toDF("user_id")
      .select(col("user_id"), graft.operators.Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val arm0 = pool.filter(armOf(_) == 0L).take(250).toVector
    val input = MemoryStream[(String, Timestamp, Long, Long)]
    val events = input.toDF().toDF("event_type", "ts", "event_id", "user_id")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val query = graft.streaming.StreamingSrm.alarms(events).writeStream
      .format("memory").queryName("srm_test").outputMode("append").start()
    try {
      // 250 arm-0 events: chi2 = n at every step, so the alarm fires
      // exactly at the 200th observation in (ts, event_id) fold order
      input.addData(arm0.zipWithIndex.map { case (u, i) =>
        ("click", t0, i.toLong, u) }: _*)
      query.processAllAvailable()
      val got = spark.table("srm_test").collect()
      assert(got.length == 1, s"one latched alarm: ${got.toSeq}")
      val a = got.head
      assert(a.getString(0) == "click" &&
        (a.getLong(2), a.getLong(3), a.getDouble(4)) == ((200L, 0L, 200.0)),
        s"crossing pinned at minN with every event on arm 0: $a")
      // latch: more skewed traffic emits nothing new
      input.addData(arm0.take(20).zipWithIndex.map { case (u, i) =>
        ("click", t0, 1000L + i, u) }: _*)
      query.processAllAvailable()
      assert(spark.table("srm_test").count() == 1)
    } finally query.stop()
  }

  test("streaming srm: balanced traffic never alarms") {
    implicit val sqlCtx = spark.sqlContext
    val pool = (0L until 600L)
    val armOf = pool.toDF("user_id")
      .select(col("user_id"), graft.operators.Behavior.arm2(col("user_id")).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a0 = pool.filter(armOf(_) == 0L).take(150)
    val a1 = pool.filter(armOf(_) == 1L).take(150)
    val interleaved = a0.zip(a1).flatMap { case (x, y) => Seq(x, y) }
    val input = MemoryStream[(String, Timestamp, Long, Long)]
    val events = input.toDF().toDF("event_type", "ts", "event_id", "user_id")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val query = graft.streaming.StreamingSrm.alarms(events).writeStream
      .format("memory").queryName("srm_balanced").outputMode("append").start()
    try {
      input.addData(interleaved.zipWithIndex.map { case (u, i) =>
        ("click", t0, i.toLong, u) }: _*)
      query.processAllAvailable()
      assert(spark.table("srm_balanced").isEmpty,
        "a 50/50 stream must stay quiet at any n")
    } finally query.stop()
  }
}
