package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the classic `Dataset.ofRows` factory and
  * `SparkSession.cloneSession` (both `private[sql]`) so graft can attach
  * its own resolved logical plans (see `graft.plans.AsOf`) and plan a
  * build on a child session (see `graft.GraftSession.withConf`). Placing
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
}
