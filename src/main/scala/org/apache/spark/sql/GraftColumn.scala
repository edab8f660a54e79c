package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnConversions, ExpressionUtils}

/** Typed `Column`s over graft's native Catalyst expressions, with no
  * function registry involved. Lives in Spark's package only because
  * `ExpressionUtils.column` is `private[sql]`. */
object GraftColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ColumnConversions.expression(c)
}
