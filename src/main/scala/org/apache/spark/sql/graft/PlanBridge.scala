package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.internal.SQLConf

/** Bridge to the `private[sql]` Dataset.ofRows constructor, so graft's
  * custom logical operators (graft.plans.*) can enter the public
  * DataFrame API — the standard extension-library shim, same pattern as
  * [[ColumnBridge]]/[[FunctionBridge]]. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s rows as Spark's internal rows, in its output's column order:
    * one job, run as an SQL execution like `collect()`, with no
    * conversion to external rows. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collectInternal"))(
      qe.executedPlan.executeCollect())
  }

  /** `df`'s analyzed plan through its session's optimizer, except that
    * no VARIANT field extraction is pushed into the scan
    * (`spark.sql.variant.pushVariantIntoScan` off for this optimization
    * only): the plan's expressions then bind rows of the scan's full
    * columns, each stored VARIANT whole. */
  def optimizedOverFullRows(df: DataFrame): LogicalPlan = {
    val qe = df.queryExecution
    val session = qe.sparkSession
    val conf = session.sessionState.conf.clone()
    conf.setConf(SQLConf.PUSH_VARIANT_INTO_SCAN, false)
    session.withActive(SQLConf.withExistingConf(conf)(
      session.sessionState.optimizer.execute(qe.analyzed.clone())))
  }

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes: the
    * size up to which Spark holds a relation whole on the driver; −1
    * when that is off. */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold
}
