package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `Dataset.ofRows` is private to Spark SQL; graft's own logical nodes
  * ([[graft.engine.CsrGather]]) go through this shim to become DataFrames.
  */
object GraftDatasets {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
