package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (forked test JVM exits at the end —
  * no explicit stop, so suites can't kill each other's session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The result of `body` and the number of Spark jobs it started. The
    * listener bus is drained before and after, so every job start `body`
    * caused is counted and none from before it. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.TestBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}
