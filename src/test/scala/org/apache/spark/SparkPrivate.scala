package org.apache.spark

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Access to what Spark keeps package-private, for the test base. */
object SparkPrivate {

  /** Drain the listener bus: a test counting jobs through a SparkListener
    * drains it before it reads the count. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether `rdd` is persisted as a local checkpoint: the blocks of an
    * eager result (`Dataset.localCheckpoint`), not a pin. */
  def locallyCheckpointed(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
