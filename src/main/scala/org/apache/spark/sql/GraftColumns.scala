package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression conversion for graft expressions that hold driver
  * state (a Broadcast handle) and so cannot be built by name through the
  * function registry. Lives in this package because the converters are
  * `private[sql]`. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
