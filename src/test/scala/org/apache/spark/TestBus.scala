package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps private:
  * a listener's counts are complete only once the bus has delivered
  * every event posted so far. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
