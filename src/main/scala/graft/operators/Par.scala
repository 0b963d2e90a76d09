package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism guard shared by the CPU-heavy narrow stages (guide
  * §1.2 step 1 / §2.5 "input skew": one huge unsplittable input leaves the
  * cluster idle; repartition immediately after the read).
  *
  * The per-row text/vector kernels here (regex shingling, md5 hashing,
  * quantize + argmin assignment) are NARROW — they run at whatever
  * parallelism the scan produced. A verification-scale corpus is one
  * single-row-group parquet file, i.e. ONE scan split, so without this
  * guard the most CPU-expensive stage of a dedup/ANN query runs on one
  * core while the other 31 idle (measured: the q109 signature stage was a
  * 6.9 s single-task stage at sf0.1). At 100 TB the scan already has
  * thousands of `maxPartitionBytes` splits, the condition is false and
  * this is a NO-OP — it never adds a shuffle at scale (the round-robin
  * exchange is paid only when the input has fewer splits than the cluster
  * has slots, where it moves less than one split-size of bytes).
  *
  * Results are unaffected: every consumer is a per-row projection feeding
  * partition-order-independent aggregations/joins (the repo-wide
  * exact-integer discipline), and Spark's sort-before-repartition keeps
  * the row→partition assignment deterministic under task retry. */
private[graft] object Par {
  def spread(df: DataFrame): DataFrame = spreadOr(df)(df.repartition(_))

  /** [[spread]] by hash of `keys` instead of round-robin: rows sharing the
    * keys land in one partition, so an aggregation grouped by them (or by
    * a superset of them) right after it needs no exchange of its own. */
  def spreadBy(df: DataFrame, keys: Column*): DataFrame =
    spreadOr(df)(df.repartition(_, keys: _*))

  private def spreadOr(df: DataFrame)(repartition: Int => DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < slots) repartition(slots) else df
  }
}
