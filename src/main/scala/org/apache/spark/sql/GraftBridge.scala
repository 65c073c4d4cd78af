package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ⇄ Expression converters — the
  * standard pattern for Spark extension libraries that define custom
  * Catalyst expressions (Spark 4 removed the public `Column(expr)`
  * constructor in favor of ColumnNode). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a hand-built LogicalPlan (custom operators need the
    * `private[sql]` Dataset.ofRows), and the analyzed plan of an existing
    * frame — together the entry/exit points for wiring a custom logical
    * node ([[graft.plans.PointInIntervalJoin]]) into the public API. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A session clone sharing the SparkContext (and cache manager) but
    * owning an INDEPENDENT copy of the runtime SQLConf (`cloneSession`
    * is private[sql]): a conf raise applied to the clone is visible only
    * to actions run through it — concurrent queries on the original
    * session never plan against the raised values, and two overlapping
    * scoped raises cannot restore each other's confs out of order (the
    * failure mode of set-then-restore on the shared session). The clone
    * also shares the executor classloader: `graft.Sessions.local` turns
    * artifact isolation off, so a clone's tasks hit the codegen cache the
    * parent filled instead of recompiling every class under a fresh
    * per-session classloader (CoreSpec pins 0 new compiles). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Re-root a frame onto another session over the SAME logical plan:
    * actions on the result execute under THAT session's SQLConf. The
    * companion of [[cloneSession]] — existing frames are bound to the
    * session that created them, so a scoped conf raise needs the plan
    * re-rooted, not just the clone made active. */
  def withSession(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)

  /** Block until the async listener bus has delivered every queued
    * event (`waitUntilEmpty` is private[spark]) — call after an action,
    * before reading what a listener accumulated from it. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Run `action` (typically a DataFrameWriter call) and return the
    * observed metrics named `name` from whichever QueryExecution the
    * action drove. A `df.write...` does NOT execute `df.queryExecution` —
    * the writer wraps the plan in a fresh QE around the insert command —
    * so `observe` counters on an ingest write are only reachable through
    * a QueryExecutionListener; delivery is async on the shared listener
    * bus, hence the [[drainListenerBus]] flush. */
  def observedFromAction[T](spark: SparkSession, name: String)
                           (action: => T): (T, Option[Row]) = {
    val found = new java.util.concurrent.atomic.AtomicReference[Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach(found.set)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = action
      drainListenerBus(spark)
      (r, Option(found.get))
    } finally spark.listenerManager.unregister(listener)
  }
}
