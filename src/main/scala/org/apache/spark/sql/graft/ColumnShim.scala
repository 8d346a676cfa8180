package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge for constructing a [[Column]] from a raw Catalyst
  * [[Expression]] (and back) under Spark 4's ColumnNode API, where the
  * converters live behind `private[sql]`. Lives in an `org.apache.spark
  * .sql` subpackage purely for access; no Spark internals are modified.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
