package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a test
  * counting jobs through a SparkListener drains the bus before it reads
  * the count. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
