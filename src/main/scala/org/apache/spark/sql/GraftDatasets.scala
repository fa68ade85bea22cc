package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Spark SQL internals graft needs, in one place: `Dataset.ofRows` for
  * its own logical nodes ([[graft.engine.CsrGather]]), the session's
  * [[SQLConf]], and the statistics of a checkpoint's `LogicalRDD`.
  */
object GraftDatasets {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def conf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** `df`, a checkpoint, with the size estimate it carries capped at
    * `spark.sql.defaultSizeInBytes`. A checkpoint keeps the estimate of
    * the plan it cut, so a loop whose step joins its state twice would
    * square the estimate every round, and planning slows with the
    * growing numbers.
    */
  def capSizeEstimate(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD =>
      val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
      val (stats, cap) = (r.computeStats(), spark.sessionState.conf.defaultSizeInBytes)
      if (stats.sizeInBytes <= cap) df
      else ofRows(spark, r.copy()(spark, Some(stats.copy(sizeInBytes = cap)), Some(r.constraints)))
    case _ => df
  }
}
