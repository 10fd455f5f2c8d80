package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the classic Column⇄Expression converters (private[sql] in
  * Spark 4): the typed constructors of [[graft.plans.GraftFunctions]]
  * wrap each native Catalyst Expression into a Column directly, so no
  * session function registry is read or written. The analyzed
  * expression is the one `call_function` resolves to by name.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
