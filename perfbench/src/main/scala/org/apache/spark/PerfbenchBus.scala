package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads its counters only after every event arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
