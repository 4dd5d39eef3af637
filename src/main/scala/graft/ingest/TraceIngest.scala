package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.TraceSchema

/** Batch NDJSON trace ingestion (SURVEY.md §2 A5-A7, §1.4).
  *
  * Reference dataflow: pd.read_json(lines=True) → data[columns.keys()] →
  * Time astype(int) (/root/reference/trace-converter.py:115-119). Here the
  * whitelist projection happens *inside* the JSON scan (only declared
  * fields are parsed), and the time rule is the normative one from
  * SURVEY.md §1.4: fractional epoch seconds truncated to whole seconds.
  */
object TraceIngest {

  /** Read rotated NDJSON trace files with the declared raw schema.
    * Schema-on-read without inference: one pass, no sampling job. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TraceSchema.raw)
      .option("pathGlobFilter", "*.json")   // A3: suffix filter
      .json(path)

  /** Ingest time granularity. [[Seconds]] is the normative reference
    * rule (§1.4: `Time astype(int)` — whole seconds, matching its
    * `DateTime` column); [[Micros]] is the opt-in sub-second mode the
    * reference's own TODO considered and dropped
    * (/root/reference/README.md:219-225) — the modern ClickHouse answer
    * is `DateTime64(6)` ([[graft.schema.Ddl.clickhouse]] renders it),
    * and Spark timestamps are microsecond-native, so the engine carries
    * it without a storage change. */
  sealed trait TimeResolution
  object TimeResolution {
    case object Seconds extends TimeResolution
    case object Micros extends TimeResolution
  }

  /** Normalize a raw frame to the target schema:
    *  - Severity → Int (ClickHouse UInt32 has no Spark unsigned analogue;
    *    values are small codes — negativity would indicate corrupt input
    *    and is filtered, SURVEY.md §7.4 risk 6)
    *  - Time: fractional epoch seconds → whole-second timestamp
    *    (cast long truncates toward zero ≡ floor for positive epochs);
    *    under [[TimeResolution.Micros]], → microsecond timestamp
    *    (round-to-nearest: the raw double's quantization near current
    *    epochs is ~0.25 µs, under the 0.5 µs rounding radius, so a
    *    micros-exact producer round-trips bit-exact through NDJSON —
    *    truncation would leak the double's representation error into
    *    off-by-one microseconds)
    *  - column order exactly as declared. */
  def normalize(raw: DataFrame): DataFrame =
    normalize(raw, TimeResolution.Seconds)

  def normalize(raw: DataFrame, res: TimeResolution): DataFrame = {
    val time = res match {
      case TimeResolution.Seconds => col("Time").cast("long").cast("timestamp")
      case TimeResolution.Micros =>
        timestamp_micros(round(col("Time") * lit(1e6)).cast("long"))
    }
    raw
      .filter(col("Severity").isNotNull && col("Severity") >= 0 &&
              col("Time").isNotNull && col("Machine").isNotNull &&
              col("LogGroup").isNotNull && col("Type").isNotNull)
      .select(
        col("Severity").cast("int").as("Severity"),
        col("Machine"),
        col("LogGroup"),
        time.as("Time"),
        col("Type"),
        col("ID"))
  }

  /** End-to-end batch ingest of one path (file or directory). */
  def readBatch(spark: SparkSession, path: String): DataFrame =
    normalize(readRaw(spark, path))

  /** [[readBatch]] at an explicit time resolution (see [[normalize]]). */
  def readBatch(spark: SparkSession, path: String, res: TimeResolution): DataFrame =
    normalize(readRaw(spark, path), res)
}
