package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener can be removed without losing the tail of a traced pass. The
  * bus is `private[spark]`, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
