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

  /** Session timezone (driver side) — what `to_json`/`toJSON` serialize
    * timestamps in; connectors capture it at plan time so their output
    * matches the built-in serializers byte-for-byte. */
  def sessionTimeZone: String =
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

  /** NDJSON (JSONEachRow) line serializer over Spark's internal
    * JacksonGenerator — the same row→JSON machinery `to_json` uses, but
    * streamed to a Writer one line per InternalRow. JacksonGenerator is
    * private[sql], hence the shim residence. */
  final class NdjsonLineGen(schema: org.apache.spark.sql.types.StructType,
                            out: java.io.Writer, timeZoneId: String) {
    private val gen = new org.apache.spark.sql.catalyst.json.JacksonGenerator(
      schema, out,
      new org.apache.spark.sql.catalyst.json.JSONOptions(
        Map.empty[String, String], timeZoneId, "_corrupt_record"))
    private var closed = false
    def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      gen.write(row); gen.writeLineEnding()
    }
    def close(): Unit = if (!closed) { closed = true; gen.flush(); gen.close() }
  }

  /** NDJSON line → InternalRow parser over Spark's internal JacksonParser
    * + FailureSafeParser — the same line-parse + PERMISSIVE-malformed
    * machinery the built-in json source uses (malformed lines null out,
    * they never kill the task). JacksonParser only materializes the
    * fields of `schema`, so column pruning happens inside the parse. */
  final class NdjsonLineParser(schema: org.apache.spark.sql.types.StructType,
                               timeZoneId: String) {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions}
    import org.apache.spark.sql.catalyst.util.FailureSafeParser
    import org.apache.spark.unsafe.types.UTF8String
    private val opts =
      new JSONOptions(Map.empty[String, String], timeZoneId, "_corrupt_record")
    private val raw = new JacksonParser(schema, opts, allowArrayAsStructs = false)
    private val safe = new FailureSafeParser[UTF8String](
      (u: UTF8String) => raw.parse(u, CreateJacksonParser.utf8String, identity[UTF8String]),
      opts.parseMode, schema, opts.columnNameOfCorruptRecord)
    def parse(line: String): Iterator[InternalRow] =
      safe.parse(UTF8String.fromString(line))
  }
}
