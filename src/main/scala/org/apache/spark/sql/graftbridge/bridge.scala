package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal access bridge into Spark's `private[sql]` classic API — the
  * standard pattern for out-of-tree plan extensions (a handful of
  * forwarders, no behavior). Everything here is public Spark machinery
  * that `SparkSessionExtensions`-injected strategies are expected to use;
  * only the Scala access scoping forces the package placement.
  */
object GraftBridge {

  /** Column → Catalyst expression (classic engine). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst expression → Column (classic engine). */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Wrap a custom logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (shuffle-free accessor). */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** Release the cached blocks behind an eager `localCheckpoint` frame —
    * the iterative-operator loop idiom (pageRank, distributed BPE train):
    * each iteration checkpoints its new state, then frees the PREVIOUS
    * iteration's blocks instead of waiting for the ContextCleaner. The
    * subtlety this hoists to one place: a localCheckpoint's analyzed plan
    * is a `LogicalRDD` over the checkpointed (cached) RDD, so unpersisting
    * that RDD is what actually drops the blocks; any other plan shape is a
    * no-op (nothing was checkpointed). */
  def freeCheckpointBlocks(df: DataFrame): Unit =
    logicalPlan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** An isolated copy of the session (shared SparkContext, independent
    * SQLConf) — for running one job under modified confs without the
    * caller's session ever seeing them. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Block until every event posted to the driver's listener bus so far
    * has reached its listeners, so a listener's counts are complete when
    * read (the bus is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
