package org.apache.spark.sql.shim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Converts between a Catalyst `Expression` and a `Column`. Spark keeps
  * these converters private to its sql package; this object re-exports
  * them so custom expressions can be called as typed Columns without a
  * session-registered SQL name. */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
