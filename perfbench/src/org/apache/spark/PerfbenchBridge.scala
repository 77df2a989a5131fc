package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it before it
  * reads the counters its listener keeps, so late task-end events are not
  * lost from the report. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
