package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression conversion for graft's native
  * expressions. Spark 4 keeps it private to `org.apache.spark.sql`; this
  * forwarder is the one place graft reaches it, so a Column builder can
  * wrap its argument in a native expression without registering a
  * function name in a session.
  */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
