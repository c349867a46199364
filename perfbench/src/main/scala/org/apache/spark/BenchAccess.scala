package org.apache.spark

/** Access to the driver's listener bus, which is package-private: the
  * benchmark drains it before reading listener counters, so a counter
  * snapshot taken right after an action includes that action's events. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
