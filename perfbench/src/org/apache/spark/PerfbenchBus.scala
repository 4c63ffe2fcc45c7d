package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts are complete when read (the bus is package-private
  * to Spark, hence this package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
