package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Column <-> catalyst Expression bridge for expressions that carry
  * non-Expression constructor state (a collected centroid matrix) and so
  * cannot go through the function registry's `Seq[Expression] => Expression`
  * builders. Spark 4 removed the public `new Column(expr)` constructor in
  * favor of ColumnNode; the classic converter lives behind `private[sql]`,
  * hence this one-file shim inside the sql package.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `to` is `from` allowing more nulls: same names, order and leaf types. */
  def widensNullability(from: DataType, to: DataType): Boolean =
    DataType.equalsIgnoreCompatibleNullability(from, to)
}
