package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run must see every task-end event of a request before it reads
  * the counters that the listener accumulated. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
