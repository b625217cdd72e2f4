package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal private[sql] bridge (standard Spark-extension practice): the
  * Column <-> Expression converters live in `classic.ExpressionUtils`,
  * which Spark 4 scopes private[sql]. Every graft Column helper builds its
  * expression directly through it, so none depends on a function name
  * being registered on the session. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
