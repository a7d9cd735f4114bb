package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it after
  * each query so every job, task and query-execution event of that query
  * has been delivered before the next query starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
