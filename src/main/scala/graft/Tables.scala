package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet catalog over a scale-factor directory (TESTDATA.md layout).
  * Plain `spark.read.parquet` → vectorized columnar scan with predicate
  * pushdown + column pruning; at cluster scale the same call splits into
  * `maxPartitionBytes`-sized tasks across executors. */
object Tables {
  val all = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schema memo, keyed on the table path plus the length and
    * modification time of what is there (guide §1/§6: plan the scan once).
    * A bare `spark.read.parquet(path)` runs a 1-task schema-inference JOB
    * on every call — r16 profiling showed every query paying one ~30–50 ms
    * footer-read job PER TABLE READ (two-table joins pay two), pure fixed
    * overhead across all 260 bench queries. The memo holds the file's own
    * inferred schema (the first read of a path's current contents pays the
    * inference), so later reads plan with `.schema(...)` and skip the job.
    * The key costs one file-status call on the driver, not a Spark job, and
    * a path rewritten since — say with another schema — no longer matches
    * its old entry, so it is inferred again instead of being read with
    * stale columns. METADATA only — never rows or results: every query
    * still computes from the parquet input on every run. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val hp = new org.apache.hadoop.fs.Path(path)
    val st = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hp)
    val schema = schemaCache.computeIfAbsent((path, st.getLen, st.getModificationTime),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  /** `events.ts` normalization to a µs `TimestampType` column, whatever
    * precision/type the generated parquet carries:
    *  - ns-precision INT64 (read as LONG under
    *    `spark.sql.legacy.parquet.nanosAsLong=true`): integer-DIV to µs
    *    (not `/` — double division loses precision above 2^53 ns), raw
    *    nanos kept as `ts_ns`;
    *  - µs-precision without timezone (TIMESTAMP_NTZ — the r8 regenerated
    *    data): cast to TimestampType. The session is pinned to UTC, so the
    *    cast preserves the underlying micros bit-for-bit and `unix_micros`
    *    agrees with DuckDB's naive-timestamp epoch;
    *  - already TimestampType: pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already a timestamp (pre-normalized input)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql(...)` works against
    * the catalog — the SQL-first interface the reference never had. */
  def registerAll(s: SparkSession, sfDir: String): Unit = {
    all.filterNot(_ == "events").foreach(n => table(s, sfDir, n).createOrReplaceTempView(n))
    events(s, sfDir).createOrReplaceTempView("events")
  }
}
