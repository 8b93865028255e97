package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `org.apache.spark.sql` package-private API so graft can
  * expose custom Catalyst Expressions as user-facing Columns (Spark 4's
  * public Column ctor takes ColumnNode, not Expression).
  */
object GraftShims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Release the block-manager blocks pinned by a `localCheckpoint()`ed
    * Dataset once its consumers are done — Dataset has no public API for
    * this (unpersist() only touches cacheManager entries), so a long-lived
    * session would otherwise hold every checkpointed intermediate until
    * GC. Only the checkpoint itself releases: a frame merely DERIVED from
    * one (its LogicalRDD deeper in the plan) is a no-op, so a caller can
    * never drop blocks another consumer still reads.
    */
  def unpersistLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
