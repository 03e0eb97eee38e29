package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Spark's package-private `Dataset.ofRows`: the frame over a parsed (or
  * partly analyzed) plan, analyzed the way `spark.sql` analyzes the plan it
  * parsed. */
object OfRows {
  def apply(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
