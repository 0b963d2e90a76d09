package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Grouping, Joins, Ops}

/** Per-group iteration output row (q09_group_iter). */
case class FlagStat(l_returnflag: String, n_rows: Long, sum_qty: Double)

/** The query registry — see SURVEY.md §7.
  *
  * Every query takes (spark, sfDir) and reads the TESTDATA.md parquet tables.
  * Each has a DuckDB-runnable ANSI-SQL twin in [[oracleSql]] with IDENTICAL
  * output column names (the driver sorts columns by name before hashing).
  * Determinism rules used throughout (SURVEY §2.2, §7 risk list):
  *  - every query ends in an explicit ORDER BY (hash-stable row order);
  *  - float aggregates are exact-by-construction: sums over integral-valued
  *    doubles (l_quantity), or cents-rounded BIGINT sums (prices), or
  *    min/max/median (order-independent) — never a raw SUM over arbitrary
  *    doubles, whose result depends on partition-level addition order;
  *  - SQL null semantics (not the reference's NaN quirks).
  */
object SparkEntry {

  /** Flagship (the reference's own benchmark pipeline, `compare.py:25-34`):
    * join → drop_duplicates → groupby mean, on real tables.
    * orders ⋈ lineitem on orderkey, dedup to one lineitem per order,
    * per-customer mean quantity. Driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val o = Tables.orders(spark, dir).withColumnRenamed("o_orderkey", "l_orderkey")
    val l = Tables.lineitem(spark, dir)
    val joined = Joins.join(l, o, Seq("l_orderkey"), "inner", broadcastRight = true)
    val deduped = Ops.dropDuplicates(joined, Seq("l_orderkey"), "first", Seq(col("l_linenumber")))
    Grouping.groupby(deduped, Seq("o_custkey")).agg(Seq("l_quantity" -> "mean"))
  }

  /** Registry: merged from the per-domain Queries* slices (r10 split —
    * SparkEntry.scala had grown to 6.2k lines; navigation beat monolith).
    * Key sets are disjoint by construction (asserted in ApiSpec). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesRelational.queries ++
    QueriesText.queries ++
    QueriesDedup.queries ++
    QueriesAnn.queries ++
    QueriesGraph.queries ++
    QueriesStats.queries ++
    QueriesStream.queries

  def oracleSql: Map[String, String] =
    QueriesRelational.oracleSql ++
    QueriesText.oracleSql ++
    QueriesDedup.oracleSql ++
    QueriesAnn.oracleSql ++
    QueriesGraph.oracleSql ++
    QueriesStats.oracleSql ++
    QueriesStream.oracleSql
}
