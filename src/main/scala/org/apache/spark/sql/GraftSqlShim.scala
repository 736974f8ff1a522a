package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to the `private[sql]` Dataset constructor — the
  * supported way for an extension library to materialize a DataFrame
  * from a custom LogicalPlan node (the same entry point Spark's own
  * DataFrameReader uses). Lives in the org.apache.spark.sql package
  * solely to satisfy the access scope; no Spark internals are
  * modified or shadowed.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst expression behind a (classic) Column. */
  def expr(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Column over a catalyst expression. */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The session catalog — the same handle AnalyzeTableCommand writes
    * statistics through; used by the LOAD STATS leg to inject a dumped
    * stats artifact without re-running ANALYZE. */
  def sessionCatalog(spark: SparkSession): catalyst.catalog.SessionCatalog =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog

  /** Block until the driver's (`private[spark]`) listener bus has
    * delivered every posted event, so listener counters read after
    * it are complete — a fixed sleep races on a loaded host. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
