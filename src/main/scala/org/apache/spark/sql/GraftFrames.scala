package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `classic.Dataset.ofRows` and `classic.ExpressionUtils` are
  * `private[sql]`: `graft.Blocks.cut` wraps its re-partitioned checkpoint
  * plan back into a frame, and `graft.sources.EdgeListReader` turns its
  * native line kernels into columns, through here. */
object GraftFrames {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
