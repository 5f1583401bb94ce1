package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `classic.Dataset.ofRows` is `private[sql]`; `graft.Blocks.cut` wraps
  * its re-partitioned checkpoint plan back into a frame through here. */
object GraftFrames {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
