package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * span listener's counters are complete only once every event posted
  * before the end of the run has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
