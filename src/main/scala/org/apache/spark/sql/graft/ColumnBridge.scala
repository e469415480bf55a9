package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column<->Expression conversion `private[sql]`
  * (connect/classic split). This bridge lives under the sql package
  * namespace to expose the conversions the custom Catalyst expressions
  * in `graft.functions` need. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
