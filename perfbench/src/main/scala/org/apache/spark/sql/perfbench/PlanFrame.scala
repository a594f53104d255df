package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over an arbitrary logical plan: lets the kernel timer run
  * one expression of a finished query over that expression's own input. */
object PlanFrame {
  def apply(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
