package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the bench recorder reads a row only after every event arrived. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
