package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Spark startup is the
  * dominant cost; suites must not stop it). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while building and running `body`. The listener
    * bus is drained before and after, so jobs of earlier work never
    * count and every job of `body` does. */
  def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusAccess.drain(sc); n.get() }
    finally sc.removeSparkListener(listener)
  }
}
