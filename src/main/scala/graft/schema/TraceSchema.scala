package graft.schema

import org.apache.spark.sql.types._

/** The FDB trace-event schema as data (SURVEY.md §1.2-1.4).
  *
  * Mirrors the reference's column whitelist
  * (/root/reference/trace-converter.py:85-93): name → (ClickHouse type,
  * codec, comment), in declared order. Raw trace files carry more keys
  * (As/Locality/Transition, /root/reference/README.md:81-88); ingest
  * projects to exactly these six.
  */
object TraceSchema {

  /** One whitelist column: Spark type + the ClickHouse physical metadata
    * the reference attaches (used only for DDL rendering). */
  final case class Col(name: String, spark: DataType, nullable: Boolean,
                       chType: String, codec: String, comment: String)

  /** Declared order matters: it is the DDL order and the stored order. */
  val columns: Seq[Col] = Seq(
    Col("Severity", IntegerType,   nullable = false, "UInt32",           "CODEC(Delta, ZSTD)", "Event Severity Code"),
    Col("Machine",  StringType,    nullable = false, "String",           "CODEC(ZSTD)",        "Machine ID for Event"),
    Col("LogGroup", StringType,    nullable = false, "String",           "CODEC(ZSTD)",        "Group for Event Type"),
    Col("Time",     TimestampType, nullable = false, "DateTime",         "CODEC(ZSTD)",        "Event Timestamp"),
    Col("Type",     StringType,    nullable = false, "String",           "CODEC(ZSTD)",        "Event Type"),
    Col("ID",       StringType,    nullable = true,  "Nullable(String)", "CODEC(ZSTD)",        "Event Identifier"),
  )

  /** Target schema after ingest normalization (§1.3). */
  val target: StructType =
    StructType(columns.map(c => StructField(c.name, c.spark, c.nullable)))

  /** Schema for reading raw NDJSON trace files: `Time` arrives as
    * fractional epoch seconds (double), `Severity` as a JSON number; extra
    * keys beyond the whitelist are simply not declared, so the JSON reader
    * never materializes them (projection pushed into the scan — the Spark
    * equivalent of `data[columns.keys()]`, trace-converter.py:116). */
  val raw: StructType = StructType(Seq(
    StructField("Severity", LongType),
    StructField("Machine", StringType),
    StructField("LogGroup", StringType),
    StructField("Time", DoubleType),
    StructField("Type", StringType),
    StructField("ID", StringType),
  ))

  /** Partition column derived from Time (the reference's toYYYYMM,
    * trace-converter.py:23). */
  val PartitionCol = "ym"
}
