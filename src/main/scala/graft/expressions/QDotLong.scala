package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: exact integer dot product of two
  * `array<bigint>` columns — the inner loop of quantized-embedding cosine.
  *
  * The built-in formulation, `aggregate(zip_with(a, b, _*_), 0L, _+_)`, runs on
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
