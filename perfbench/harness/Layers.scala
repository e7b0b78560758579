package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spans recorded from the benchmark's own code around each call into
  * a layer. Kept in memory; [[write]] dumps them as JSON lines when the
  * run ends. Times are epoch microseconds so they line up with Spark's
  * listener timestamps (epoch milliseconds).
  */
final class Tracer(val runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startUs: Long, var endUs: Long)

  private val offsetUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = System.nanoTime() / 1000 + offsetUs

  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)
  var on = false

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.head, name, nowUs, -1)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endUs = nowUs; stack = stack.tail }
    }

  /** Adds a finished span (a Spark job) under the innermost recorded
    * span that covers its start. */
  def addChild(name: String, startUs: Long, endUs: Long): Unit = {
    val parent = spans.filter(s => s.startUs <= startUs && s.endUs >= startUs)
      .sortBy(s => s.endUs - s.startUs).headOption.map(_.id).getOrElse(-1)
    spans += Span(spans.size, parent, name, startUs, endUs)
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))
    } finally w.close()
  }
}

/** Scheduler, executor, shuffle and storage counters, each kept with
  * its event time so a window's totals can be summed after the fact
  * (listener events arrive asynchronously). */
final class LayerListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Task(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spillDisk: Long,
                        bytesOut: Long)

  val jobs = ArrayBuffer[Job]()
  val stageEnds = ArrayBuffer[Long]()
  val tasks = ArrayBuffer[Task]()
  val blockPuts = ArrayBuffer[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
      m.outputMetrics.bytesWritten)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid)
      blockPuts += System.currentTimeMillis()
  }

  private def in(t: Long, w: Seq[(Long, Long)]) = w.exists { case (s, e) => t >= s && t <= e }

  /** Totals over the given [startMs, endMs] windows. */
  def totals(w: Seq[(Long, Long)]): Map[String, Double] = synchronized {
    val ts = tasks.filter(t => in(t.endMs, w))
    Map(
      "sched.jobs" -> jobs.count(j => in(j.startMs, w)).toDouble,
      "sched.stages" -> stageEnds.count(in(_, w)).toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "exec.task_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spill.disk_bytes" -> ts.map(_.spillDisk).sum.toDouble,
      "storage.blocks_persisted" -> blockPuts.count(in(_, w)).toDouble,
      "sources.task_bytes_written" -> ts.map(_.bytesOut).sum.toDouble)
  }

  /** Wall time of each window not covered by any job. */
  def driverGapMs(w: Seq[(Long, Long)]): Double = synchronized {
    w.map { case (s, e) =>
      val spans = jobs.filter(j => j.endMs >= s && j.startMs <= e)
        .map(j => (math.max(j.startMs, s), math.min(if (j.endMs < 0) e else j.endMs, e)))
        .sortBy(_._1)
      var covered = 0L
      var cur = s
      spans.foreach { case (a, b) =>
        val from = math.max(a, cur)
        if (b > from) { covered += b - from; cur = b }
      }
      (e - s - covered).toDouble
    }.sum
  }
}

/** Just enough JSON writing for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
