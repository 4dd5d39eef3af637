package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
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

  /** Typed view for API consumers. */
  def typed(df: DataFrame): Dataset[TraceSchema.TraceEvent] = {
    import df.sparkSession.implicits._
    df.as[TraceSchema.TraceEvent]
  }

  /** Diagnostic summary (A15 — the reference's data.info()):
    * row count + per-column non-null counts, computed in one pass. */
  def summary(df: DataFrame): DataFrame =
    df.select(
      count(lit(1)).as("n_rows") +:
      df.columns.map(c => count(col(c)).as(s"nn_$c")): _*)

  /** IPv4 `a.b.c.d[:port]` → numeric (for prefix/range matching). Null on
    * anything that is not a well-formed dotted quad with octets 0-255
    * (a 3-digit octet like 300 would otherwise alias a different valid
    * address numerically). */
  def ipv4ToLong(ipPort: Column): Column = {
    val ip = split(ipPort, ":").getItem(0)
    val parts = split(ip, "\\.")
    def oct(i: Int): Column = parts.getItem(i).cast("long")
    when(ip.rlike("^([0-9]{1,3}\\.){3}[0-9]{1,3}$") &&
         oct(0) <= 255 && oct(1) <= 255 && oct(2) <= 255 && oct(3) <= 255,
      oct(0) * 16777216L + oct(1) * 65536L + oct(2) * 256L + oct(3))
      .otherwise(lit(null).cast("long"))
  }

  /** Dictionary enrichment by IP block — the reference's own TODO
    * ("dictionaries, IP types", /root/reference/README.md:231-233) in
    * Spark form. `blocks` rows are (cidr_start, cidr_end, payload…) with
    * numeric inclusive bounds.
    *
    * Join shape: each block is exploded to its covering /16 prefixes and
    * equi-joined on the trace IP's /16 with a residual range filter — a
    * BroadcastHashJoin probing a handful of candidate blocks per row,
    * not a nested-loop scan of the whole dictionary per event (with tens
    * of thousands of CIDR blocks the BNLJ would be N×B comparisons).
    * Nested dictionaries are legal: when blocks overlap, the MOST
    * SPECIFIC (smallest) matching block wins, so row cardinality is
    * always preserved. Rows with no matching block (or unparsable
    * machines) keep null payloads. */
  def enrichByIpBlock(traces: DataFrame, blocks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pblocks = blocks
      .withColumn("__p16", explode(sequence(
        (col("cidr_start") / 65536L).cast("long"),
        (col("cidr_end") / 65536L).cast("long"))))
    val probe = traces
      .withColumn("__ipn", ipv4ToLong(col("Machine")))
      .withColumn("__rowid", monotonically_increasing_id())
    val w = Window.partitionBy(col("__rowid"))
      .orderBy((col("cidr_end") - col("cidr_start")).asc, col("cidr_start"))
    probe
      .join(broadcast(pblocks),
        (col("__ipn") / 65536L).cast("long") === col("__p16") &&
        col("__ipn") >= col("cidr_start") && col("__ipn") <= col("cidr_end"),
        "left")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("cidr_start", "cidr_end", "__p16", "__ipn", "__rowid", "__rn")
  }
}
