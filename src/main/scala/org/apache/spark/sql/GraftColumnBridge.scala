package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.util.LongAccumulator

/** Bridge to Spark's `private[sql]` Column ↔ Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils, Spark 4.x). Lives in
  * the spark.sql package solely to satisfy the access modifier; the
  * engine's own code goes through graft.functions. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — classic.Dataset.ofRows. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes. */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** `df.localCheckpoint()` — the same single eager job under the same
    * SQL execution, so query-execution listeners and observed metrics
    * fire as they do for the built-in — with the row count and the
    * summed `UnsafeRow` bytes counted on that job and carried as the
    * relation's statistics, where the built-in keeps the origin plan's
    * estimate. */
  def measuredLocalCheckpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val rows = new LongAccumulator
    val bytes = new LongAccumulator
    spark.sparkContext.register(rows)
    spark.sparkContext.register(bytes)
    val schema = ds.schema
    val rdd = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val measured = qe.executedPlan.execute().mapPartitions { it =>
        lazy val toUnsafe = UnsafeProjection.create(schema)
        it.map[InternalRow] { r =>
          val u = (r match { case u: UnsafeRow => u; case o => toUnsafe(o) }).copy()
          rows.add(1L)
          bytes.add(u.getSizeInBytes.toLong)
          u
        }
      }
      measured.localCheckpoint()
      measured.doCheckpoint()
      measured
    }
    val lr = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    val stats = Statistics(BigInt(bytes.value), Some(BigInt(rows.value)))
    ofRows(spark, LogicalRDD(lr.output, rdd, lr.outputPartitioning,
      lr.outputOrdering, lr.isStreaming)(spark, Some(stats), Some(lr.constraints)))
  }
}
