package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The cache relation of a graft pin and the frame planned over it, which
  * Spark builds only inside its own packages: a pin owns its relation
  * instead of registering a cache entry that frames of equal plans share. */
object GraftPins {

  /** The cache relation `Dataset.persist` would register for `df`, planned
    * as the CacheManager plans one (final-stage shuffle optimizations off,
    * so the cache keeps its plan's output partitioning) but registered
    * nowhere. Nothing is materialized. It declares no logical ordering:
    * Spark's `newInstance`, which a self-join calls, keeps the ordering's
    * old attributes and canonicalization then fails to map them. Its scan
    * still reports the cached plan's physical ordering and partitioning. */
  def relation(df: DataFrame, level: StorageLevel): InMemoryRelation = {
    val ds = castToImpl(df)
    val session = classic.SparkSession.getOrCloneSessionWithConfigsOff(ds.sparkSession, Seq(
      SQLConf.AUTO_BUCKETED_SCAN_ENABLED, SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
    val cached = session.withActive(InMemoryRelation(level,
      session.sessionState.executePlan(ds.queryExecution.analyzed), None))
    InMemoryRelation(cached.output, cached.cacheBuilder, Nil, cached.statsOfPlanToCache)
  }

  /** The frame whose plan is `plan`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(castToImpl(spark), plan)
}
