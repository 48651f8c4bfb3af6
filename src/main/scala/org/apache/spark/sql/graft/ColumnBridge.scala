package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Column⇄Expression converters — the
  * supported extension-point pattern for libraries that ship custom
  * Catalyst expressions against Spark 4's ColumnNode API. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's unique id (`private[sql]` on classic SparkSession) —
    * the cache key that distinguishes one session's checkpointed frames
    * from another's in [[graft.SessionMemo]]. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Build a DataFrame from a custom LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`) — needed to surface custom logical operators like
    * [[graft.plans.AsOfJoinPlan]] through the public Dataset API. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame over `rows` internal rows an operator has already
    * materialized (persisted and counted) itself — what
    * `Dataset.localCheckpoint` returns, with the exact row count as the
    * plan statistics so joins downstream size it as the small frame it
    * is. */
  def materialized(
      spark: org.apache.spark.sql.SparkSession,
      rdd: RDD[InternalRow], schema: StructType, rows: Long)
      : org.apache.spark.sql.DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(output) * rows, rowCount = Some(BigInt(rows)))
    ofRows(spark, LogicalRDD(output, rdd)(s, Some(stats)))
  }
}
