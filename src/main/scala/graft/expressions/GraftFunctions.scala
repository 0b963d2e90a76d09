package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** The SQL surface of graft's kernels: the ones whose arguments are
  * columns and plain literals, by name. Library code never goes through
  * it — it builds kernels with [[Kernels]]; this table is for SQL text and
  * `call_function`. Install it on a session either declaratively, with
  * `spark.sql.extensions=graft.expressions.GraftExtensions`, or with
  * `GraftFunctions.register(spark)` (idempotent); both read [[table]]. */
object GraftFunctions {

  /** A size argument must be a foldable literal of the named type (it
    * sizes the aggregation buffer at plan time); a column, a null or
    * another type is rejected by name instead of failing deep in
    * resolution. SQL `CAST(1024 AS INT)` or `512 + 512` qualifies. */
  private def literal(e: Expression, fn: String, arg: String, types: DataType*): Any = {
    if (!e.foldable || !types.contains(e.dataType))
      throw new IllegalArgumentException(
        s"$fn: $arg must be a foldable ${types.head.sql} expression (e.g. lit(200)), got: $e")
    val v = e.eval()
    if (v == null) throw new IllegalArgumentException(s"$fn: $arg must not be null")
    v
  }

  private def litInt(e: Expression, fn: String, arg: String): Int =
    literal(e, fn, arg, IntegerType).asInstanceOf[Int]

  private def litLong(e: Expression, fn: String, arg: String): Long =
    literal(e, fn, arg, LongType, IntegerType) match {
      case v: Int => v.toLong
      case v => v.asInstanceOf[Long]
    }

  private def litDouble(e: Expression, fn: String, arg: String): Double =
    literal(e, fn, arg, DoubleType).asInstanceOf[Double]

  private type Builder = Seq[Expression] => Expression

  /** Every SQL function: (name, builder over its argument expressions). */
  val table: Seq[(String, Builder)] = Seq[(String, Builder)](
    ("graft_qdot", c => QDotLong(c(0), c(1))),
    ("graft_normalize", UnicodeNormalize.fromChildren),
    ("graft_sdot", c => SparseDotLong(c(0), c(1))),
    ("graft_jw_micro", c => JaroWinklerMicro(c(0), c(1))),
    // shingle width and signature length are INT literals
    ("graft_minhash", c => MinhashLong(c(0),
      litInt(c(1), "graft_minhash", "n"), litInt(c(2), "graft_minhash", "numHashes"))),
    // the analyzer wraps a returned aggregate function in its aggregate
    // expression
    ("graft_kll_agg", c => KllSketchAgg(c(0), litInt(c(1), "graft_kll_agg", "k"))),
    ("graft_kll_merge", c => KllMergeAgg(c(0))),
    ("graft_kll_quantile", c => KllQuantileLong(c(0), c(1))),
    ("graft_freq_agg", c => FreqSketchAgg(c(0), litInt(c(1), "graft_freq_agg", "maxMapSize"))),
    ("graft_freq_merge", c => FreqMergeAgg(c(0))),
    ("graft_freq_bounds", c => FreqBoundsLong(c(0), c(1))),
    ("graft_theta_agg", c => ThetaSketchAgg(c(0), litInt(c(1), "graft_theta_agg", "lgK"))),
    ("graft_theta_merge", c => ThetaMergeAgg(c(0))),
    ("graft_bloom_agg", c => BloomFilterAgg(c(0),
      litLong(c(1), "graft_bloom_agg", "expectedItems"),
      litDouble(c(2), "graft_bloom_agg", "fpp"))),
    ("graft_bloom_might_contain", c => BloomMightContainLong(c(0), c(1)))
  ) ++ ThetaSetEstimate.Ops.map(op =>
    (s"graft_theta_$op", (c: Seq[Expression]) => ThetaSetEstimate(c(0), c(1), op)))

  def register(spark: SparkSession): Unit = table.foreach { case (name, build) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "scala_udf")
  }
}

/** `spark.sql.extensions` entry point: injects every [[GraftFunctions]]
  * function into each session the extensions build. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name), build))
    }
}
