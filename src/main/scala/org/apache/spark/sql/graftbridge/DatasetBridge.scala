package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Accessor for Spark's `private[sql]` Dataset.ofRows — the only way to
  * materialize a DataFrame from a custom LogicalPlan (Spark 4 exposes no
  * public constructor). Same interop rationale as [[ColumnBridge]].
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
