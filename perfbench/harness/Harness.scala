package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{Sessions, SparkEntry}
import graft.functions.VariantF
import graft.operators.{CtrAlerts, Dedup}
import graft.sources.{BqStyleWriter, Readers}
import graft.streaming.EventStreamJob

/** One benchmark process: one Spark session at local[cores], one
  * closed-loop client. Prints `READY` once the session is warm, then
  * runs a cold pass of the workload's operations, which also writes
  * every output for the checker outside its timed region, and a fixed
  * number of warm passes. Everything it measures goes to the result
  * file given as `out=`.
  *
  * Arguments are `key=value`: workload, inputs, work, out, warm_passes,
  * trace (0|1), ops (name:Family,... for the query workloads),
  * setup_only (1 = exit after READY).
  */
object Harness {

  /** One operation: wall time to build and to run it, and the process
    * CPU time over both (every thread: tasks, driver, JIT, GC). */
  final case class Sample(pass: Int, op: String, family: String,
                          buildNs: Long, execNs: Long, cpuNs: Long, rows: Long)

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val spark = setup(inputs, work)
    println("READY")
    System.out.flush()
    if (a.get("setup_only").contains("1")) { spark.stop(); return }

    val run = new Run(spark, workload, inputs, work, a("warm_passes").toInt,
      a("trace") == "1", a.getOrElse("ops", ""), a.getOrElse("run_id", workload))
    val fields = try run.execute() finally spark.stop()
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.print(Json.obj(fields: _*)) finally w.close()
  }

  /** A warm session: built, every input's footer read, one job run
    * (scheduler, codegen compiler, parquet reader all initialised). */
  def setup(inputs: String, work: String): SparkSession = {
    val spark = Sessions.builder(Runtime.getRuntime.availableProcessors.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    listInputs(inputs).foreach(p => spark.read.parquet(p).schema)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  def listInputs(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted

  /** Largest join output (rows) in the executed plan, through AQE
    * stages and subqueries. */
  def largestJoinRows(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case x: AdaptiveSparkPlanExec => Seq(x.executedPlan)
        case x: QueryStageExec => Seq(x.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner ++ p.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Join"))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value)
      .foldLeft(0L)(math.max)
  }

  /** The daily report rows as delivered (nested dimension values and a
    * variant-typed metric payload). */
  val ReportSchema: StructType = {
    val v = new StructType().add("value", StringType)
    new StructType()
      .add("dimensionValues", new StructType()
        .add("DATE", v).add("EVENT_ID", v).add("EVENT_TYPE", v)
        .add("TS_MICROS", v)
        .add("USER", new StructType().add("displayLabel", StringType).add("value", StringType)))
      .add("metricValues", new StructType().add("VALUE",
        StructType(Seq("integerValue", "microsValue", "decimalValue", "doubleValue", "value")
          .map(StructField(_, StringType)))))
      .add("props", StringType)
  }

  /** Report rows → flat `events` rows plus the ISO `date` partition. */
  def flatten(raw: DataFrame): DataFrame = {
    val d = col("dimensionValues")
    val v = col("metricValues.VALUE")
    raw.select(
      d.getField("EVENT_ID").getField("value").cast("long").as("event_id"),
      timestamp_micros(d.getField("TS_MICROS").getField("value").cast("long")).as("ts"),
      d.getField("USER").getField("value").cast("long").as("user_id"),
      d.getField("EVENT_TYPE").getField("value").as("event_type"),
      // Money arrives as micros or as a decimal/double/plain value; the
      // integer chain reads the former, the float chain the rest.
      round(when(v.getField("microsValue").isNotNull,
        VariantF.getIntFromStruct(v) / lit(1e6))
        .otherwise(VariantF.getFloatFromStruct(v)), 2).as("value"),
      col("props"),
      VariantF.yyyymmddToIso(d.getField("DATE").getField("value")).as("date"))
  }
}

final class Run(spark: SparkSession, workload: String, inputs: String,
                work: String, warmPasses: Int, trace: Boolean, opsArg: String,
                runId: String) {
  import Harness._

  private val etl = workload == "etl_backfill"
  private val tracer = new Tracer(runId)
  private val listener = new LayerListener
  if (trace) spark.sparkContext.addSparkListener(listener)
  private val samples = ArrayBuffer[Sample]()
  private val hostSamples = ArrayBuffer[Double]()
  HostSpeed.warm()
  private val errors = ArrayBuffer[String]()
  private val failures = ArrayBuffer[String]()
  private val outputs = ArrayBuffer[Map[String, Any]]()
  private val passes = ArrayBuffer[Map[String, Any]]()
  private val tracedWindows = ArrayBuffer[(Long, Long)]()
  private val buildWindows = ArrayBuffer[(Long, Long)]()
  // Per traced pass, summed; divided by the traced pass count at the end.
  private val layer = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
  private val streamBatches = ArrayBuffer[Double]()
  private val stateRows = ArrayBuffer[Double]()
  private val stateBytes = ArrayBuffer[Double]()
  private var streamRows = 0L
  private var streamMs = 0L
  private var tracedPasses = 0
  private var pass = 0
  private var verifying = false
  // Checks that run inside an ETL pass are excluded from its time.
  private var untimedNs = 0L
  private var untimedCpuNs = 0L

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private val queryOps: Seq[(String, String)] =
    opsArg.split(",").filter(_.nonEmpty).toSeq.map { s =>
      val Array(n, f) = s.split(":", 2); n -> f
    }

  private case class Op(name: String, body: () => Unit)

  private def ops: Seq[Op] =
    if (etl) deliveries.zipWithIndex.map { case ((day, redo), i) =>
      Op(s"deliver:$i", () => deliver(i, day, redo)) }
    else queryOps.map { case (n, f) => Op(n, () => query(n, f)) }

  private def timed[T](body: => T): (T, Long) = {
    val t = System.nanoTime(); val r = body; (r, System.nanoTime() - t)
  }

  private def untimed[T](body: => T): T = {
    val c = os.getProcessCpuTime
    val (r, ns) = timed(body)
    untimedNs += ns
    untimedCpuNs += os.getProcessCpuTime - c
    r
  }

  // ---- interactive_panel ----

  private def query(name: String, family: String): Unit = {
    val fn = SparkEntry.queries(name)
    val cpu0 = os.getProcessCpuTime
    val (df, buildNs) = timed(tracer.span(s"build:$name")(fn(spark, inputs)))
    if (tracer.on) {
      val s = tracer.spans.last
      buildWindows += ((s.startUs / 1000, s.endUs / 1000 + 1))
    }
    val (rows, execNs) = timed(tracer.span(s"exec:$name")(df.queryExecution.toRdd.count()))
    samples += Sample(pass, name, family, buildNs, execNs, os.getProcessCpuTime - cpu0, rows)
    if (tracer.on) {
      layer("operators.build_s") += buildNs / 1e9
      layer(s"operators.$family.s") += (buildNs + execNs) / 1e9
      val ph = df.queryExecution.tracker.phases
      for (p <- Seq("analysis", "optimization", "planning"))
        layer(s"catalyst.${p}_s") += ph.get(p).map(_.durationMs).getOrElse(0L) / 1e3
      layer("rows.join_out") += largestJoinRows(df).toDouble
      layer("rows.result") += rows.toDouble
    }
    if (verifying) untimed {
      val path = s"$work/out/$name"
      fn(spark, inputs).coalesce(1).write.mode("overwrite").parquet(path)
      outputs += Map("op" -> name, "path" -> path,
        "oracle_sql" -> SparkEntry.oracleSql.get(name))
    }
  }

  // ---- etl_backfill ----

  private lazy val deliveries: Seq[(String, Boolean)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$inputs/deliveries.json")), "UTF-8")
    """\{"day": "(\d{8})", "redelivery": (true|false)\}""".r
      .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toBoolean).toSeq
  }

  private def passDir = s"$work/etl/pass$pass"
  private def warehouse = s"$passDir/wh"
  private def table = s"$warehouse/events.parquet"
  private var streamQuery: Option[org.apache.spark.sql.streaming.StreamingQuery] = None

  /** (rows, order-independent sum of row hashes) over the event columns. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props").map(col)
    val r = df.select(count(lit(1)), sum(shiftrightunsigned(xxhash64(cols: _*), 20))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def rowCount(path: String): Long =
    if (new java.io.File(path).exists) spark.read.parquet(path).count() else 0L

  /** One day's report file arrives: ingest, flatten, load its partition,
    * stream it, and every 7th delivery (and after the last) run the
    * trailing-7-day spike detector over the warehouse so far. */
  private def deliver(i: Int, day: String, redo: Boolean): Unit = {
    val landing = s"$inputs/landing/$day"
    val iso = s"${day.take(4)}-${day.slice(4, 6)}-${day.drop(6)}"
    val t0 = System.nanoTime()
    val cpu0 = os.getProcessCpuTime
    val (u0, uc0) = (untimedNs, untimedCpuNs)
    def step[T](name: String)(body: => T): T = {
      val (r, ns) = timed(tracer.span(name)(body))
      if (tracer.on) layer(s"step.$name") += ns / 1e9
      r
    }
    val before = if (verifying && redo) untimed(rowCount(table)) else 0L
    val raw = step("ingest") {
      val r = Readers.readJsonl(spark, landing, Some(ReportSchema)).cache()
      r.count(); r
    }
    val rows = try {
      val flat = flatten(raw)
      step("load") {
        BqStyleWriter.load(flat, warehouse, s"events.parquet$$$day",
          BqStyleWriter.WriteTruncate, Some("date"))
      }
      if (tracer.on) layer("sources.files_written") +=
        Option(new java.io.File(s"$table/date=$iso").listFiles).toSeq.flatten
          .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      if (verifying) untimed {
        val back = spark.read.parquet(table).filter(col("date") === iso)
        if (fingerprint(back) != fingerprint(flat))
          failures += s"deliver:$i warehouse day $iso does not read back as loaded"
        val after = if (redo) rowCount(table) else 0L
        if (after != before)
          failures += s"deliver:$i re-delivered day $iso changed warehouse rows $before -> $after"
      }
      step("stream")(stream(i, s"$landing/report.jsonl"))
      if ((i + 1) % 7 == 0 || i == deliveries.size - 1) step("alert") {
        val alerts = CtrAlerts.ctrSpike(spark, warehouse)
        alerts.queryExecution.toRdd.count()
        if (verifying) untimed {
          val path = s"$work/out/alerts/$i"
          alerts.coalesce(1).write.mode("overwrite").parquet(path)
          outputs += Map("op" -> s"ctr_spike:$i", "path" -> path,
            "oracle_sql" -> SparkEntry.oracleSql.get("ctr_spike"),
            "delivered" -> deliveries.take(i + 1).map(_._1).distinct)
        }
      }
      raw.count()
    } finally raw.unpersist()
    samples += Sample(pass, s"deliver:$i", "EtlDay", 0L,
      System.nanoTime() - t0 - (untimedNs - u0),
      os.getProcessCpuTime - cpu0 - (untimedCpuNs - uc0), rows)
  }

  /** The pass's one streaming query (EventStreamJob's windowed CTR, in
    * complete mode so the result covers every delivery, redeliveries
    * included) is fed one delivery at a time: the file is linked into
    * the stream's source directory and the query drains it. */
  private def stream(i: Int, file: String): Unit = {
    val src = s"$passDir/stream-in"
    new java.io.File(src).mkdirs()
    java.nio.file.Files.createLink(java.nio.file.Paths.get(s"$src/$i.jsonl"),
      java.nio.file.Paths.get(file))
    val q = streamQuery.getOrElse {
      val started = EventStreamJob.windowedCtr(flatten(
          spark.readStream.schema(ReportSchema).json(src)))
        .writeStream.outputMode("complete").format("memory").queryName("ctr_stream")
        .option("checkpointLocation", s"$passDir/checkpoint")
        .start()
      streamQuery = Some(started)
      started
    }
    val seen = q.recentProgress.length
    q.processAllAvailable()
    val progress = q.recentProgress.drop(seen)
    streamRows += progress.map(_.numInputRows).sum
    streamMs += progress.map(_.batchDuration).sum
    if (tracer.on) {
      streamBatches ++= progress.map(_.batchDuration / 1e3)
      progress.lastOption.foreach { p =>
        stateRows += p.stateOperators.map(_.numRowsTotal).sum.toDouble
        stateBytes += p.stateOperators.map(_.memoryUsedBytes).sum.toDouble
      }
    }
    if (i == deliveries.size - 1) {
      q.stop()
      streamQuery = None
      if (verifying) untimed {
        val path = s"$work/out/stream"
        spark.table("ctr_stream").coalesce(1).write.mode("overwrite").parquet(path)
        outputs += Map("op" -> s"ctr_stream:$i", "path" -> path,
          "files" -> deliveries.map(d => s"$inputs/landing/${d._1}/report.jsonl"))
      }
      spark.catalog.dropTempView("ctr_stream")
    }
  }

  private def inputBytesPerPass: Long =
    if (!etl) 0L
    else deliveries.map { case (d, _) =>
      new java.io.File(s"$inputs/landing/$d/report.jsonl").length }.sum

  // ---- passes ----

  private def runPass(p: Int, traced: Boolean): Double = {
    pass = p
    if (etl) deleteTree(new java.io.File(passDir))
    tracer.on = traced
    val cg0 = codegen
    val cpu0 = os.getProcessCpuTime
    val (u0, uc0) = (untimedNs, untimedCpuNs)
    val t0 = System.currentTimeMillis()
    val (_, ns) = timed(tracer.span(s"pass:$p") {
      ops.foreach { op =>
        // Not in traced passes, where it would count as driver gap.
        if (!traced) untimed(hostSamples += HostSpeed.sample())
        try tracer.span(s"op:${op.name}")(op.body())
        catch {
          case e: Throwable =>
            errors += s"${op.name} pass $p: ${e.toString.linesIterator.next().take(300)}"
            spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        }
      }
    })
    streamQuery.foreach(_.stop())
    streamQuery = None
    val t1 = System.currentTimeMillis()
    val wall = (ns - (untimedNs - u0)) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0 - (untimedCpuNs - uc0)) / 1e9
    if (trace && (traced || p == 0)) {
      val cg1 = codegen
      val prefix = if (traced) "codegen." else "codegen.cold_"
      layer(prefix + "classes") += cg1._1 - cg0._1
      layer(prefix + "compile_s") += (cg1._2 - cg0._2) / 1e3
    }
    if (traced) {
      tracedWindows += ((t0, t1))
      tracedPasses += 1
    }
    tracer.on = false
    passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu)
    wall
  }

  /** (classes compiled, compile ms) so far, from Spark's codegen
    * histogram; its reservoir holds every sample up to 1028, beyond
    * that the time is mean × count. */
  private def codegen: (Double, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val ms = if (snap.size == n) snap.getValues.sum.toDouble else snap.getMean * n
    (n.toDouble, ms)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Rows per second of a bare projection through a graft.plans kernel
    * (median of three), over the workload's own documents/embeddings. */
  private def kernels(): Unit = {
    def rate(df: DataFrame, c: Column): Double = {
      val in = df.localCheckpoint(eager = true)
      val n = in.count()
      val times = (1 to 3).map { _ =>
        timed(in.select(c.as("k")).write.format("noop").mode("overwrite").save())._2
      }.sorted
      in.unpersist()
      n / (times(1) / 1e9)
    }
    val docs = s"$inputs/documents.parquet"
    if (new java.io.File(docs).exists)
      layer("plans.minhash_rows_per_s") = tracer.span("kernel:minhash")(rate(
        spark.read.parquet(docs).select("text"),
        Dedup.minhashSignature(Dedup.shingleHashes(col("text")))))
    val emb = s"$inputs/embeddings.parquet"
    if (new java.io.File(emb).exists) {
      val rnd = new scala.util.Random(17)
      val signs = IndexedSeq.fill(64)(IndexedSeq.fill(16)(if (rnd.nextBoolean()) 1.0 else -1.0))
      layer("plans.matvec_rows_per_s") = tracer.span("kernel:matvec")(rate(
        spark.read.parquet(emb).select(col("embedding").cast("array<double>").as("e")),
        graft.plans.ColumnBridge.column(graft.plans.MatVecSigns(
          graft.plans.ColumnBridge.expression(col("e")), signs))))
    }
  }

  /** The cold pass also writes every output for the checker, outside
    * its timed region. Query workloads then run `warmPasses` warm
    * passes: a count, not a deadline, so every run stops at the same
    * point of the JVM's warm-up however fast the host runs that day (a
    * trace run alternates untraced and traced passes, so the cost of
    * tracing is measured in the same process); the backfill is one
    * pass, repeated untraced and then traced in a trace run. */
  def execute(): Seq[(String, Any)] = {
    verifying = true
    runPass(0, traced = false)
    verifying = false
    val jvmJit = jitMs / 1e3
    val jvmGc = gcMs / 1e3
    if (etl) {
      // Traced after an untraced warm repeat, so both are warm.
      if (trace) { runPass(1, traced = false); runPass(2, traced = true) }
    } else {
      for (p <- 1 to (if (trace) warmPasses.max(2) else warmPasses))
        runPass(p, trace && p % 2 == 0)
    }
    val rssMb = peakRssMb
    if (trace) {
      tracer.on = true
      kernels()
      tracer.on = false
    }
    val layers = if (trace) layerMetrics(jvmJit, jvmGc) else Map.empty[String, Double]
    val spansFile = s"$work/spans.jsonl"
    if (trace) {
      listener.jobs.foreach(j => tracer.addChild(s"job:${j.id}", j.startMs * 1000,
        (if (j.endMs < 0) j.startMs else j.endMs) * 1000))
      tracer.write(spansFile)
    }
    Seq(
      "workload" -> workload,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "passes" -> passes,
      "samples" -> samples.map(s => Map("pass" -> s.pass, "op" -> s.op,
        "family" -> s.family, "build_s" -> s.buildNs / 1e9,
        "exec_s" -> s.execNs / 1e9, "cpu_s" -> s.cpuNs / 1e9, "rows" -> s.rows)),
      "host_samples" -> hostSamples,
      "stream_rows" -> streamRows,
      "stream_s" -> streamMs / 1e3,
      "peak_rss_mb" -> rssMb,
      "errors" -> errors,
      "failures" -> failures,
      "outputs" -> outputs,
      "warehouse" -> (if (etl) s"$work/etl/pass0/wh/events.parquet" else ""),
      "layers" -> layers,
      "spans_file" -> (if (trace) spansFile else ""))
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def layerMetrics(jit: Double, gc: Double): Map[String, Double] = {
    Thread.sleep(200) // let the listener bus drain
    val n = tracedPasses.toDouble
    val warm = tracedWindows.toSeq
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val lt = listener.totals(warm).map { case (k, v) => k -> v / n }
    val bytesOut = lt("sources.task_bytes_written")
    val inBytes = inputBytesPerPass.toDouble
    def wall(traced: Boolean) = passes.filter(p => p("traced") == traced && p("pass") != 0)
      .map(_("wall_s").asInstanceOf[Double]).toSeq
    val perPass = layer.toMap.map { case (k, v) =>
      k -> (if (k.startsWith("codegen.cold_") || k.startsWith("plans.")) v else v / n)
    }
    (lt - "sources.task_bytes_written") ++ perPass ++ Map(
      "operators.eager_jobs" -> listener.totals(buildWindows.toSeq)("sched.jobs") / n,
      "operators.CtrAlerts.s" -> (perPass.getOrElse("operators.CtrAlerts.s", 0.0) +
        perPass.getOrElse("step.alert", 0.0)),
      "sched.driver_gap_s" -> listener.driverGapMs(warm) / 1e3 / n,
      "rows.join_per_out" -> (if (layer("rows.result") > 0)
        layer("rows.join_out") / layer("rows.result") else 0.0),
      "sources.read_s" -> perPass.getOrElse("step.ingest", 0.0),
      "sources.write_s" -> perPass.getOrElse("step.load", 0.0),
      "sources.files_read" -> (if (etl) deliveries.size.toDouble else 0.0),
      "sources.bytes_written" -> (if (etl) bytesOut else 0.0),
      "sources.write_amp" -> (if (inBytes > 0) bytesOut / inBytes else 0.0),
      "streaming.batches" -> streamBatches.size / n,
      "streaming.batch_p50_s" -> median(streamBatches.toSeq),
      "streaming.state_rows" -> median(stateRows.toSeq),
      "streaming.state_bytes" -> median(stateBytes.toSeq),
      "jvm.jit_s" -> jit,
      "jvm.gc_s" -> gc,
      "trace.overhead_pct" -> (median(wall(true)) / median(wall(false)) - 1) * 100)
  }
}


/** A fixed piece of JVM work that calls neither graft nor Spark: one
  * thread per core sorts its own copy of the same pseudo-random array,
  * in a buffer allocated once. Its CPU time moves only with how fast
  * the host runs the process, which CPU steal alone does not show:
  * co-tenants also slow the cores they leave us. */
object HostSpeed {
  private val threads = Runtime.getRuntime.availableProcessors
  private val data = {
    val r = new java.util.SplittableRandom(42)
    Array.fill(1 << 17)(r.nextLong())
  }
  private val buffer = ThreadLocal.withInitial(() => new Array[Long](data.length))
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, { (r: Runnable) =>
    val t = new Thread(r, "host-speed"); t.setDaemon(true); t
  })
  private val mx = ManagementFactory.getThreadMXBean
  private val task = new java.util.concurrent.Callable[Long] {
    def call(): Long = {
      val c = mx.getCurrentThreadCpuTime
      val a = buffer.get
      System.arraycopy(data, 0, a, 0, a.length)
      java.util.Arrays.sort(a)
      mx.getCurrentThreadCpuTime - c
    }
  }

  /** CPU-seconds of one sample, summed over the threads. */
  def sample(): Double = Seq.fill(threads)(pool.submit(task)).map(_.get).sum / 1e9

  /** Compiles the kernel before the first sample that counts. */
  def warm(): Unit = (1 to 50).foreach(_ => sample())
}
