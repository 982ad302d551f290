package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the classic `Dataset.ofRows` factory,
  * `SparkSession.cloneSession` and `ExpressionUtils` (all `private[sql]`)
  * so graft can attach its own resolved logical plans (see
  * `graft.plans.AsOf`), plan a build on a child session (see
  * `graft.GraftSession.withConf`) and build typed Columns from its own
  * expressions (see `graft.functions.GraftFunctions`). Placing
  * the one-liners inside the `org.apache.spark.sql` package tree is the
  * standard technique extension libraries use for this — no Spark
  * internals are modified.
  */
object GraftPlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** A child of `spark` that starts with a copy of its conf, temp views
    * and functions, and shares its SparkContext and catalog. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[SparkSession].cloneSession()

  /** A Column that wraps a catalyst Expression. (Not named `column`: that
    * would clash with `functions.column` under a wildcard import.) */
  def exprColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** The catalyst Expression a Column stands for. */
  def columnExpr(c: Column): Expression = ExpressionUtils.expression(c)
}
