package org.apache.spark

/** Drains the listener bus, which is private to Spark, so that counts read
  * right after an action include that action's events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
