package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst Expression conversion for graft's native expressions.
  * Spark 4 keeps these converters `private[sql]`; this object lives under
  * that package so a native expression can be handed out as a plain Column
  * (no session, no function-registry lookup by name). */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
