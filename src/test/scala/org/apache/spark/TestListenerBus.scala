package org.apache.spark

/** The listener bus is private to Spark; a test that reads listener state
  * drains it first, so every event posted before the call is counted.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
