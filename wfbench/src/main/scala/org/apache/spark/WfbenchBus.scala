package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before
  * reading listener state, so every event of a finished run is counted.
  */
object WfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
