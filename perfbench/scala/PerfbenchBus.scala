package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * per-op counters are read only after every task-end event is delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
