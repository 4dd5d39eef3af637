package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * private[sql]; extension libraries reach them via a shim in the spark
  * namespace (the same pattern third-party connectors use). */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The physical plan's InternalRow RDD — the zero-conversion exit from
    * a Dataset (what `df.rdd` wraps with a row-deserializing map). Rows
    * may be REUSED BUFFERS per partition: copy before buffering/caching. */
  def toInternalRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** The zero-conversion entry: wrap an InternalRow RDD as a DataFrame
    * without the external-Row encoder round trip `createDataFrame` pays.
    * `internalCreateDataFrame` is private[sql], hence the shim residence. */
  def internalOfRows(spark: org.apache.spark.sql.SparkSession,
                     rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Wrap a (batch) DataFrame's compiled plan as a STREAMING DataFrame —
    * what a V1 streaming Source's `getBatch` must return
    * (MicroBatchExecution asserts `isStreaming`); the same
    * `internalCreateDataFrame(…, isStreaming = true)` exit Delta Lake's
    * streaming source uses. Evaluation stays lazy: `toRdd` compiles the
    * plan on the driver, the job runs when the micro-batch executes. */
  def streamingOfRows(spark: org.apache.spark.sql.SparkSession,
                      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** A zero-row streaming DataFrame with the given schema — a V1 source's
    * no-new-data batch. */
  def emptyStreaming(spark: org.apache.spark.sql.SparkSession,
                     schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
        schema, isStreaming = true)

  /** Drain the async listener bus so SparkListener-collected task
    * metrics are complete before a snapshot — `listenerBus` is
    * private[spark], hence the shim residence. Benchmark-grade
    * attribution (per-query shuffle bytes) is wrong without the drain:
    * task-end events for a finished job can still be in flight. */
  def flushListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
