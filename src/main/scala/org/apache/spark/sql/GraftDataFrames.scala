package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `classic.Dataset.ofRows` is private to this package. It makes a
  * DataFrame straight from a logical plan, such as a prebuilt
  * `LocalRelation`, with no encoder derived for the call.
  */
object GraftDataFrames {
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
