/* Package shim: Column↔Expression bridging lives in private[sql] scope
 * in Spark 4, so libraries extending Catalyst expose it from a file
 * compiled inside org.apache.spark.sql (the standard pattern used by
 * public Spark extension projects, e.g. delta/qbeast — see SNIPPETS.md).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
  /** The [DIVIDE_BY_ZERO] error an ANSI division raises, for driver code
    * that replays such a division.
    */
  def divideByZero(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}
