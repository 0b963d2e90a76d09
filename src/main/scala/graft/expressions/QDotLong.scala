package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native Catalyst expression: exact integer dot product of two
  * `array<bigint>` columns — the inner loop of quantized-embedding cosine.
  *
  * This is the ONE place the engine drops below the public `functions._`
  * surface (SURVEY §4: everything else is expressible with built-ins). The
  * built-in formulation, `aggregate(zip_with(a, b, _*_), 0L, _+_)`, runs on
  * Spark's interpreted higher-order-function path — per-element lambda
  * dispatch plus an allocated intermediate array per row. This expression
  * compiles to a tight primitive `long` loop inside WholeStageCodegen
  * (`doGenCode`), with an interpreted `nullSafeEval` fallback, which is what
  * an ANN scan over 100 TB of embeddings wants.
  */
case class QDotLong(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are always array<bigint> (built by Similarity.quantize);
  // ExpectsInputTypes is not extended because AbstractDataType is
  // private[sql] in Spark 4
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw QDotLong.dimMismatch(n, y.numElements())
    var i = 0
    var s = 0L
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw graft.expressions.QDotLong.dimMismatch($n, $b.numElements());
         |}
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getLong($i) * $b.getLong($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QDotLong =
    copy(left = newLeft, right = newRight)
}

object QDotLong {
  /** A dimension mismatch is a data/schema bug — a silently truncated dot
    * product (the old min() behavior) returns a WRONG similarity, which in
    * an ANN index means wrong neighbors with no error anywhere. Called from
    * both the interpreted and the generated path. */
  def dimMismatch(a: Int, b: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_qdot: vector dimensions differ ($a vs $b) - embeddings in one " +
        "dot product must share a dimension")
}

/** Registration: either declaratively via
  * `spark.sql.extensions=graft.expressions.GraftExtensions`, or imperatively
  * with `GraftFunctions.register(spark)` (idempotent). After registration the
  * function is callable as `graft_qdot(a, b)` from SQL or
  * `call_function("graft_qdot", a, b)` from the Column API. */
object GraftFunctions {
  /** The sketch aggregates' size parameter must be an INT literal (it sizes
    * the aggregation buffer at plan time). Validate instead of a blind
    * `eval().asInstanceOf[Int]` (ADVICE r6): a column, a LONG literal or
    * SQL '200' would otherwise throw a bare ClassCastException/NPE deep in
    * resolution instead of naming the problem. */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    // any foldable INT expression qualifies (ADVICE r7): SQL `CAST(1024 AS
    // INT)` or `512 + 512` folds to a plan-time constant exactly like a bare
    // Literal — reject only non-foldable (columns) or non-int inputs
    case e if e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType =>
      e.eval() match {
        case v: Int => v
        case _ => throw new IllegalArgumentException(
          s"$fn: $arg must not be null")
      }
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a foldable INT expression (e.g. lit(200)), got: $other")
  }

  /** Same contract for BIGINT sizing params (accepts INT literals too). */
  private def litLong(e: Expression, fn: String, arg: String): Long = e match {
    case e if e.foldable && e.dataType == org.apache.spark.sql.types.LongType =>
      e.eval() match {
        case v: Long => v
        case _ => throw new IllegalArgumentException(s"$fn: $arg must not be null")
      }
    case e if e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType =>
      litInt(e, fn, arg).toLong
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a foldable BIGINT expression, got: $other")
  }

  /** Same contract for DOUBLE params. */
  private def litDouble(e: Expression, fn: String, arg: String): Double = e match {
    case e if e.foldable && e.dataType == org.apache.spark.sql.types.DoubleType =>
      e.eval() match {
        case v: Double => v
        case _ => throw new IllegalArgumentException(s"$fn: $arg must not be null")
      }
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a foldable DOUBLE expression, got: $other")
  }

  val qdotInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_qdot"),
    new ExpressionInfo(classOf[QDotLong].getName, "graft_qdot"),
    (children: Seq[Expression]) => QDotLong(children(0), children(1)))

  val normalizeInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_normalize"),
    new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_normalize"),
    UnicodeNormalize.fromChildren)

  val sdotInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_sdot"),
    new ExpressionInfo(classOf[SparseDotLong].getName, "graft_sdot"),
    (children: Seq[Expression]) => SparseDotLong(children(0), children(1)))

  val jwInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_jw_micro"),
    new ExpressionInfo(classOf[JaroWinklerMicro].getName, "graft_jw_micro"),
    (children: Seq[Expression]) => JaroWinklerMicro(children(0), children(1)))

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_qdot", children => QDotLong(children(0), children(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_normalize", UnicodeNormalize.fromChildren, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_sdot", children => SparseDotLong(children(0), children(1)), "scala_udf")
    // argmin assignment against a plan-time-constant centroid matrix
    // (r15): the trailing child must be a foldable literal array —
    // it is evaluated ONCE here and embedded as primitive arrays
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cell_argmin", children => CellArgminLong(children(0), children(1),
        CellArgminLong.cellMatrixOf(children(2), "graft_cell_argmin")), "scala_udf")
    // IVF-PQ search kernels against the plan-time centroids/codebooks:
    // probes must be an INT literal; the books (and, for a residual index,
    // the cents) trail as foldable literal arrays
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_ivf_probe", children => IvfProbeLong(children(0), children(1),
        CellArgminLong.cellMatrixOf(children(2), "graft_ivf_probe"),
        litInt(children(3), "graft_ivf_probe", "probes")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pq_encode", children => PqEncodeLong(children(0), children(1),
        PqMatrix.of(children, "graft_pq_encode")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_adc_lut", children => AdcLutLong(children(0), children(1),
        PqMatrix.of(children, "graft_adc_lut")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_adc_dot", children => AdcDotLong(children(0), children(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lsh_buckets", children => LshBucketsLong(children(0),
        LshBucketsLong.planeMatrixOf(children(1), "graft_lsh_buckets")), "scala_udf")
    // one document's shingle-hash set and MinHash signature; the shingle
    // width and the signature length must be INT literals
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_minhash", children => MinhashLong(children(0),
        litInt(children(1), "graft_minhash", "n"),
        litInt(children(2), "graft_minhash", "numHashes")), "scala_udf")
    // a word's BPE pieces under an ordered merge list; the merges trail as
    // a foldable array<struct<string, string>> literal of (a, b) pairs
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bpe_encode", children => BpeEncodeLong(children(0),
        BpeMerges.of(children(1), "graft_bpe_encode")), "scala_udf")
    // KLL aggregates: the analyzer wraps a returned AggregateFunction in
    // its AggregateExpression automatically; k must be a literal int
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kll_agg", children => KllSketchAgg(children(0),
        litInt(children(1), "graft_kll_agg", "k")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kll_merge", children => KllMergeAgg(children(0)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kll_quantile", children => KllQuantileLong(children(0), children(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_freq_agg", children => FreqSketchAgg(children(0),
        litInt(children(1), "graft_freq_agg", "maxMapSize")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_freq_merge", children => FreqMergeAgg(children(0)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_freq_bounds", children => FreqBoundsLong(children(0), children(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_theta_agg", children => ThetaSketchAgg(children(0),
        litInt(children(1), "graft_theta_agg", "lgK")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_theta_merge", children => ThetaMergeAgg(children(0)), "scala_udf")
    Seq("intersect", "diff", "union").foreach { op =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        s"graft_theta_$op",
        children => ThetaSetEstimate(children(0), children(1), op), "scala_udf")
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg", children => BloomFilterAgg(children(0),
        litLong(children(1), "graft_bloom_agg", "expectedItems"),
        litDouble(children(2), "graft_bloom_agg", "fpp")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_might_contain",
      children => BloomMightContainLong(children(0), children(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_jw_micro",
      children => JaroWinklerMicro(children(0), children(1)), "scala_udf")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.qdotInfo)
    ext.injectFunction(GraftFunctions.normalizeInfo)
    ext.injectFunction(GraftFunctions.sdotInfo)
    ext.injectFunction(GraftFunctions.jwInfo)
  }
}
