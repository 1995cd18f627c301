package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over a logical plan the program builds itself (the WDI row
  * markers, [[graft.wdi.WdiRows]]). `Dataset.ofRows` is package-private to
  * Spark, hence this one-method bridge. */
object PlanFrames {
  def of(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
