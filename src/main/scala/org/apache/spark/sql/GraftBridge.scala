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

  /** The error ANSI `Divide` raises on a zero divisor, for driver-side
    * kernels that must fail exactly where the SQL expression does. */
  def divideByZero(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** A new session of `spark`'s SparkContext — the shared caches, its
    * own temp views, functions and listeners — that starts from every
    * SQL conf entry `spark` holds. `newSession()` alone starts from the
    * SparkConf defaults and drops the caller's runtime settings, such
    * as `spark.sql.ansi.enabled=false`. */
  def newSessionWithConf(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    val to = s2.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.getAllConfs.foreach { case (k, v) =>
        to.setConfString(k, v)
      }
    s2
  }

  /** Re-bind a DataFrame's logical plan to another session of the
    * SAME SparkContext (the execution-profile clones): the plan —
    * including any persisted cache, which lives in the shared
    * CacheManager keyed by canonicalized plan — is unchanged; only
    * the SQLConf that plans it differs. */
  def onSession(spark: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.logical)

  /** The Spark schema of one parquet file, read from its footer on the
    * driver by the rule schema inference applies to the one file it
    * samples when `mergeSchema` is off. Inference itself runs that
    * footer read as a scheduled job on every `read.parquet` call. */
  def parquetSchema(spark: SparkSession,
                    file: org.apache.hadoop.fs.Path): types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        state.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }

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
