package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it when a
  * span closes so every event of the span is counted before the next
  * span opens. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
