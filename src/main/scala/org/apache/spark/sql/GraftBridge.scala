package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` classic APIs — Spark 4.x Columns wrap
  * ColumnNodes, and the supported conversions live in
  * `org.apache.spark.sql.classic` (sql-visibility only). This is the one
  * place the engine reaches across Spark's package boundary: to expose
  * custom Catalyst expressions as Columns, and to query a plan fragment
  * (a materialized view's leaf relation) as a DataFrame.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
