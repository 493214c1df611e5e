package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so a trace segment's counters are complete when it closes. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
