package org.apache.spark

/** Access to Spark's listener bus, which is package-private: the traced run
  * must read listener counters only after every posted event is delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
