package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * engine counters are read only after every posted event is delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
