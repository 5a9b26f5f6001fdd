package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into Spark's `private[sql]` Column↔Expression converters so
 * graft's custom Catalyst expressions (SimHash64, RollingHash) can be
 * exposed as `Column`s. Spark 4 hides the Column(expr) constructor
 * behind `org.apache.spark.sql.classic.ExpressionUtils`; this shim is
 * the supported-by-convention extension point (same technique used by
 * third-party Spark extensions).
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a logical plan (private[sql] Dataset.ofRows). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Fully convert a Column to its catalyst Expression via the session's
    * ColumnNode converter (ExpressionUtils.expression only wraps lazily —
    * the wrapper is fine inside plans but not for structural inspection
    * or task serialization). */
  def catalystExpression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** A DataFrame's analyzed logical plan. */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The materialized RDDs under a `localCheckpoint()`ed DataFrame — its
    * plan is a [[org.apache.spark.sql.execution.LogicalRDD]] over the
    * checkpointed (persisted, lineage-truncated) internal RDD. Exposed so
    * graft's checkpoint lifecycle can UNPERSIST those blocks
    * deterministically instead of waiting on ContextCleaner GC. */
  def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    analyzed(df).collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Block until every queued listener event has been delivered, so a
    * listener read after an action has seen all of that action's stages
    * (the listener bus is `private[spark]`). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Register a function on a live session's registry (the session-scoped
    * analogue of SparkSessionExtensions.injectFunction). */
  def registerFunction(
      spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
