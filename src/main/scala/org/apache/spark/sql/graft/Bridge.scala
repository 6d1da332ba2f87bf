package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow access bridge into `private[sql]` / `private[spark]` APIs
  * required by custom physical operators (the standard pattern used by
  * Spark extension libraries): wrap a custom LogicalPlan into a
  * DataFrame, and partition-map InternalRows without an extra
  * serialization boundary.
  */
object Bridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def mapPartitionsInternal(
      rdd: RDD[InternalRow])(
      f: Iterator[InternalRow] => Iterator[InternalRow]): RDD[InternalRow] =
    rdd.mapPartitionsInternal(f)

  /** Column from a catalyst Expression (r19: lets hot-path native
    * expressions like [[graft.plans.Md5Hex]] be used without per-session
    * function registration — registration order was the only reason the
    * fast digest could not be a drop-in). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Block until every listener event posted so far is delivered;
    * false if some listener queue did not drain within the bus's
    * default timeout. `Observation` results arrive through a
    * QueryExecutionListener on the asynchronous bus, so after an
    * action returns a drained bus makes "was the observed frame
    * executed?" a deterministic question. */
  def drainListenerBus(spark: SparkSession): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Catalyst Expression behind a (possibly unresolved) Column. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * DataFrame. `Dataset.unpersist()` only clears CacheManager entries;
    * the checkpoint's blocks belong to the internal RDD captured in the
    * plan's LogicalRDD leaf, so that RDD must be unpersisted directly.
    * No-op for plans that aren't a checkpoint leaf. */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
