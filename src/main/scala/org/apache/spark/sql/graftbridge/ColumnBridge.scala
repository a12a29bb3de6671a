package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column <-> Expression
  * converters, for registering graft's custom Catalyst expressions.
  * Lives under org.apache.spark.sql to satisfy private[sql] access.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  def registerTableFunction(spark: org.apache.spark.sql.SparkSession,
                            ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
                            info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                            builder: Seq[Expression] =>
                              org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry.registerFunction(ident, info, builder)

  /** The analyzed-or-not logical plan of a DataFrame, for building
    * table-function results from library operators. */
  def plan(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.logical

  /** `schema` with every field, nested ones included, nullable — what
    * file sources report for the files they read
    * (`StructType.asNullable` is private[spark]). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
  : org.apache.spark.sql.types.StructType = schema.asNullable

  /** DataFrame over a logical plan (`Dataset.ofRows` is
    * private[sql]) — for commands that carry an analyzed source plan
    * into execution, e.g. the routed MERGE INTO. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
