package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark 4 removed the public `new Column(Expression)` constructor; the
  * supported conversion lives in `org.apache.spark.sql.classic`, which is
  * `private[sql]`. This shim (compiled inside the `org.apache.spark.sql`
  * package hierarchy) re-exports just the conversions the engine needs
  * to expose native Catalyst expressions and plans as user-facing Columns
  * and DataFrames.
  *
  * VERSION PIN: verified against Spark 4.1.2 (the /opt/spark/jars build
  * this repo compiles with). If Spark moves: `ExpressionUtils.column/
  * expression` or `classic.SparkSession.sessionState.functionRegistry`
  * changing package or signature breaks this file FIRST — fix here, not
  * at the 30+ graft.functions call sites, which only see [[column]] /
  * [[registerFunction]].
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan the caller built. */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a named SQL function backed by a Catalyst expression builder
    * (FunctionRegistry is `private[sql]`; bare AggregateFunctions are
    * wrapped into AggregateExpressions by the analyzer).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")

  /** A SQL execution end as `QueryExecutionListener.onSuccess` reports it:
    * (execution id, action name, QueryExecution) of a named, successful
    * execution, else None. The id is the `spark.sql.execution.id` its
    * jobs carry; the other three fields are `private[sql]`.
    */
  def namedSuccess(e: SparkListenerSQLExecutionEnd)
      : Option[(Long, String, QueryExecution)] =
    if (e.qe == null || e.executionFailure.isDefined) None
    else e.executionName.map(n => (e.executionId, n, e.qe))
}
