package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Expression <-> Column converters, for
  * graft's custom Catalyst expressions (Spark 4 removed the public
  * `new Column(expr)` constructor; extension libraries bridge from
  * inside the package instead).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every queued event, so
    * a listener's counts are complete when read (the bus is
    * `private[spark]`). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Re-bind a DataFrame's logical plan to another session of the
    * SAME SparkContext (the execution-profile clones): the plan —
    * including any persisted cache, which lives in the shared
    * CacheManager keyed by canonicalized plan — is unchanged; only
    * the SQLConf that plans it differs. */
  def onSession(spark: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.logical)

  /** Re-root a DataFrame plan on a materialized InternalRow RDD
    * (lineage/plan truncation for iterative algorithms, with the
    * persistence lifecycle under caller control — unlike
    * `localCheckpoint`, whose blocks are freed only by GC). */
  def internalDF(spark: SparkSession,
                 rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
