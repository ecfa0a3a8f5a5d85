package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversions (Spark 4 hides
  * `Column.expr` behind the ColumnNode abstraction; classic-mode extensions
  * conventionally shim it from inside the sql package). Only the two
  * conversions and the session's expression parser are exposed — no other
  * internals. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly parse an expression string to its unresolved Catalyst tree
    * (`functions.expr` defers parsing inside a lazy SqlExpression node, so
    * tree rewrites on it see nothing). */
  def parseExpression(spark: SparkSession, s: String): Expression =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser
      .parseExpression(s)

  /** Spark's ANSI ARITHMETIC_OVERFLOW error, exactly as stock arithmetic
    * throws it (error class + suggested try_* function + ANSI hint) — the
    * columnar kernels mirror stock failure SHAPE, not just behavior. */
  def arithmeticOverflow(message: String, hint: String): ArithmeticException =
    errors.QueryExecutionErrors.arithmeticOverflowError(message, hint, null)

  /** The session's EFFECTIVE Hadoop configuration — core-site/spark.hadoop.*
    * plus session-level SQL conf overrides (`sessionState.newHadoopConf()`
    * is `private[sql]`). The delta staging path resolves and writes through
    * THIS conf, so `spark.graft.catalog.deltaStagingDir=hdfs://…/s3a://…`
    * carries the credentials and FS settings the session actually has. */
  def sessionHadoopConf(spark: SparkSession)
      : org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** A DSv2 Table over a parquet directory, served by Spark's builtin
    * parquet reader (ParquetTable is `private[sql]`, hence this shim).
    * Backs [[graft.spark.GraftCatalog]]: catalog reads get the stock
    * vectorized scan — pushdown, pruning, whole-stage codegen — against an
    * immutable snapshot directory. */
  def parquetTable(spark: SparkSession, name: String, path: String,
      schema: org.apache.spark.sql.types.StructType)
      : connector.catalog.Table =
    execution.datasources.v2.parquet.ParquetTable(
      name, spark.asInstanceOf[classic.SparkSession],
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()),
      Seq(path), Some(schema),
      classOf[execution.datasources.parquet.ParquetFileFormat])

  /** Block until the listener bus has delivered every posted event (its
    * drain is `private[spark]`): a profiler reads its listeners' totals
    * only after the run's last job, stage and query events have landed. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
