package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` surface (classic backend):
  * wrapping a Catalyst Expression as a user-facing Column and
  * registering native functions on a live session. Kept to the minimum
  * two capabilities graft needs; everything else stays on public API.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(
      spark: SparkSession,
      id: FunctionIdentifier,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)

  /** Register a table-valued function (FROM-clause callable) on a live
    * session — the live-session twin of
    * `SparkSessionExtensions.injectTableFunction`. */
  def registerTableFunction(
      spark: SparkSession,
      id: FunctionIdentifier,
      info: ExpressionInfo,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(id, info, builder)

  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** `schema` with every field nullable at every depth: the type a file
    * scan gives the columns it reads. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
