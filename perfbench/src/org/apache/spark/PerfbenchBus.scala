package org.apache.spark

/** Waits until the live listener bus has delivered every posted event,
  * so an op's job, stage, task and query-execution events are all seen
  * before the op's trace is closed. The bus is private to Spark, hence
  * this accessor's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
