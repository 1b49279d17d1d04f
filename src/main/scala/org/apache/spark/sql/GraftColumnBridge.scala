package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The one Column <-> Catalyst Expression conversion point. The classic
  * converters are `private[sql]` since the Spark 4 Column/ColumnNode
  * split; this object lives in `org.apache.spark.sql` solely to
  * re-export them. Every graft native expression is built as
  * `column(X(expression(c), ...))` (aggregates as
  * `column(X(...).toAggregateExpression())`), so using one writes
  * nothing into the session's function registry and needs no session.
  * Nothing else belongs here.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
