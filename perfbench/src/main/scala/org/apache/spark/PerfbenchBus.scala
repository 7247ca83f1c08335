package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so that no late event is missing from a count. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
