package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge between the public Column API and Catalyst expressions.
  *
  * Spark 4 unified Column around ColumnNode (SPARK-49025), hiding the
  * classic `.expr` behind `private[sql]` converters. Extension libraries
  * bridge from inside the `org.apache.spark.sql` package — the same
  * technique Spark's own modules and third-party connectors use; only
  * public Spark classes are touched.
  */
object GraftSqlShims {
  /** Catalyst expression backing a (classic) Column. */
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** [[expressionOf]] with the Column's tree built now in `spark`'s
    * session (a SQL string parsed), for code that inspects its shape. */
  def expressionIn(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Wrap a Catalyst expression as a public Column (for custom expressions). */
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A DataFrame over an already-analyzed plan: its output keeps the
    * plan's attribute ids, so expressions resolved against the plan bind
    * to the frame's columns as they are. */
  def dataFrameOf(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
