package org.apache.spark

/** Access to the listener bus, which is private to Spark: the harness
  * waits for every posted event before it reads listener counters. */
object HousebenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
