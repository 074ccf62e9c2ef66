package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to Spark's `private[sql]` Column ↔ Expression conversions — Spark 4
  * moved them behind `classic` for the Connect split; custom Catalyst
  * expressions still need them to surface as user-facing Columns.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df`'s resolved logical plan. */
  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** A DataFrame over `plan`, which must already be resolved: the plan is
    * marked analyzed, so the analyzer returns it as is, and only
    * optimization and physical planning run when it executes (the
    * `Dataset.ofRows` route of a prepared plan, graft.search.Prepared).
    */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }

  /** Register a function on a LIVE session (the FunctionRegistry is
    * `private[sql]`); for config-time injection use `graft.GraftExtensions`
    * with `spark.sql.extensions` instead.
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
