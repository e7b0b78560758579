package org.apache.spark

/** Spark keeps its listener bus package-private. Tests that count
  * listener events wait on it here, so that every event posted so far
  * has reached the listeners before a count is read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
