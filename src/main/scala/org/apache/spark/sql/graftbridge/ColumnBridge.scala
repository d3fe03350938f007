package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column/Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils — public bytecode, Scala
  * package-private). Lives under org.apache.spark.sql so graft's custom
  * Catalyst expressions can surface as Columns; keep this file free of any
  * logic. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
  /** `sessionUUID` is `private[sql]`: the unique-per-session token the
    * IvfAdcIndex handle cache keys on (an identity hash can collide
    * between a stopped session and its successor). */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
  /** The session's Hadoop conf (`SessionState` is `private[sql]`): the
    * SparkContext's conf plus the session's SQL settings, as Spark's own
    * file writers start from. */
  def newHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
}

/** Bridge for constructing a DataFrame from a raw (already-resolved)
  * LogicalPlan — `Dataset.ofRows` is `private[sql]`. Used by graft's custom
  * whole-operator plans (e.g. the as-of merge join node). */
object PlanBridge {
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Bridge for InternalRow-level round-trips (`internalCreateDataFrame` is
  * `private[sql]`): lets iterative operators snapshot a frame without
  * paying InternalRow -> external Row -> InternalRow conversion per round. */
object InternalRowBridge {
  def toRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  def ofInternalRows(spark: SparkSession,
                     rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}

/** Task output metrics for a task that writes through `OutputWriter`s
  * itself: `OutputMetrics`' setters are `private[spark]`. */
object TaskMetricsBridge {
  def setOutput(ctx: org.apache.spark.TaskContext, bytes: Long, records: Long): Unit = {
    val m = ctx.taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }
}
