package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** One shared local session for every suite (sbt forks a single test
  * JVM). Built with the same confs the Bench/Verify mains use —
  * notably nanosAsLong, which any `events.parquet` read requires. */
object SparkFixture {
  lazy val spark: SparkSession =
    Sessions.builder("4").appName("graft-test").getOrCreate()
}

trait SparkFixture { this: Suite =>
  lazy val spark: SparkSession = SparkFixture.spark
  /** Smallest driver-generated scale factor — correctness only. */
  val Sf = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs that start while it runs. */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { val r = body; ListenerBusDrain(sc); (r, started.get) }
    finally sc.removeSparkListener(listener)
  }
}
