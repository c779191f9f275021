package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * listener counters are only complete once every posted event has
  * been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
