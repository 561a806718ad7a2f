package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge for constructing a DataFrame from a custom LogicalPlan
  * (graft.plans.AsOfJoinNode): `Dataset.ofRows` is private[sql], which is
  * the sanctioned extension point for libraries adding plan nodes — this
  * object lives in the sql package solely to reach it. No Spark internals
  * are modified or shadowed.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A child session for library code that needs its own SQL conf,
    * catalogs or temp views: it shares the SparkContext, cache and
    * extensions, starts with a copy of the parent's conf, function
    * registry and temp views, and nothing set on it reaches the parent.
    * `cloneSession` is private[sql], hence here.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Column ⇄ catalyst Expression, for splicing a custom Expression into
    * an otherwise functions._-built tree (e.g. a per-gate bloom literal
    * that must NOT live in the session function registry). Same sanctioned
    * private[sql] surface the Column API itself uses.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Drop every cached state-store provider (StreamingSpec's crash-recovery
    * case): a restarted query must then rebuild its state from the
    * CHECKPOINT FILES, exercising the same recovery path a new JVM takes —
    * without this, a same-process restart can warm-hit the in-memory
    * provider cache and prove nothing about durability.
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Drain the async listener bus — the zero-job / task-metrics proof
    * queries must not assert on a counter before the bus delivered the
    * events (the alternative, a fixed sleep, is both slower and
    * flakier). `waitUntilEmpty` is `private[spark]`, hence here.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** JobProf only: resolve a SQL execution id (the `spark.sql.execution.id`
    * job property) to its live QueryExecution, so per-job measurements can
    * be grouped by the STATEMENT that launched them. `SQLExecution` is
    * `private[sql]`, hence here.
    */
  def queryExecutionFor(id: Long): Option[org.apache.spark.sql.execution.QueryExecution] =
    Option(org.apache.spark.sql.execution.SQLExecution.getQueryExecution(id))
}
