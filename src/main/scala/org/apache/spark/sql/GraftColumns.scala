package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** A [[Column]] of a Catalyst expression, which Spark builds only inside
  * its own packages: graft's kernels that carry a plan-time object (a plane
  * matrix, a broadcast probe table) rather than literal arguments become
  * columns through it. */
object GraftColumns {
  def of(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression of a column, to wrap in such a kernel. */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
