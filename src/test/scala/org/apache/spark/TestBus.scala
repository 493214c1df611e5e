package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so a listener's view is complete when a spec reads it. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
