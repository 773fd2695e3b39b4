package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a Column and back — the package-private
  * `classic.ExpressionUtils` conversions, reachable from this package only.
  * graft's Column APIs build their expressions directly through it, so no
  * function is looked up (or registered) by name. */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
