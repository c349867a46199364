package org.apache.spark

/** Access to the driver's listener bus, which is package-private: a spec
  * drains it before reading listener counters, so the counts include
  * every event of the actions that ran before. */
object SpecAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
