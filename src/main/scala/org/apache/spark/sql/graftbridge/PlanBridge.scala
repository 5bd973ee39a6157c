package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Minimal bridge into the `private[sql]` seams a library needs to
  * install a custom logical operator on Spark 4's classic engine and
  * to hold rows on the driver: building a DataFrame from a
  * LogicalPlan, extracting a plan, and moving Catalyst rows between a
  * frame and a local relation without the external-row round trip.
  */
object PlanBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** The frame's rows as Catalyst rows, collected by one action (a
    * `collect` without converting each row to a `Row`). */
  def internalRows(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** A local relation of `rows` under `schema`, as a frame. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
