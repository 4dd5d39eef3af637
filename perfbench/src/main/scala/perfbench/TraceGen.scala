package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded generator of rotated FDB trace files.
  *
  * Every field of line `i` of file `f` is a pure function of
  * `h = xxhash64(seed, f, i)`, so the benchmark can rebuild the expected
  * normalised rows as a Spark expression ([[expected]]) instead of keeping
  * them. The program only ever sees the written files.
  *
  * Planted input shapes (fixed shares, the same for every seed):
  *  - one file in four (`f % 4 == 3`) uses FDB's real all-strings encoding
  *    (`"Severity": "10"`, `"Time": "1557761852.941446"`); the rest use bare
  *    numbers;
  *  - one file in two (`f % 2 == 0`) ends in a truncated last line.
  * A correct ingest stores every complete line and quarantines the
  * truncated one.
  */
final class TraceGen(val seed: Long) {
  import TraceGen._

  /** Data time of line 0 of file 0: `BaseBeforeBoundary` before a month
    * boundary chosen by the seed, so a run's appends span two `ym`
    * partitions. */
  val baseMicros: Long = {
    val boundary = java.time.LocalDate.of(2019, 1, 1).plusMonths(Math.floorMod(seed, 24L))
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L
    boundary - BaseBeforeBoundary
  }
  val port: Int = 4500 + Math.floorMod(seed, 100L).toInt

  def quoted(f: Int): Boolean = f % 4 == 3
  def truncated(f: Int): Boolean = f % 2 == 0
  def machine(f: Int): String = s"10.0.${f / 250}.${f % 250}:$port"

  /** Lines a correct ingest stores from file `f`. */
  def expectedStored(f: Int): Int = LinesPerFile - (if (truncated(f)) 1 else 0)
  /** Lines a correct ingest quarantines from file `f`. */
  def expectedRejected(f: Int): Int = LinesPerFile - expectedStored(f)

  /** Data-time span of file `f`, for dashboards that read "the last few
    * minutes". */
  def fileEndMicros(f: Int): Long = baseMicros + (f + 1).toLong * FileSpanMicros

  private def hash(f: Int, i: Int): Long =
    XXH64.hashLong(i.toLong, XXH64.hashLong(f.toLong, XXH64.hashLong(seed, 42L)))

  /** Multiset fingerprint of the rows a correct ingest stores from file
    * `f`, as [[Workloads.fingerprints]] computes it in Spark: row count and
    * the sums of the two 32-bit halves of `xxhash64` over the store's
    * columns. */
  def fingerprint(f: Int): (Long, Long, Long) = {
    import org.apache.spark.unsafe.types.UTF8String
    def str(s: String, h: Long): Long = {
      val u = UTF8String.fromString(s)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h)
    }
    val m = machine(f)
    var hi = 0L
    var lo = 0L
    var i = 0
    val n = expectedStored(f)
    while (i < n) {
      val h = hash(f, i)
      val t = baseMicros + f.toLong * FileSpanMicros + i.toLong * StepMicros +
        java.lang.Long.remainderUnsigned(h >>> 20, StepMicros)
      var r = XXH64.hashInt(Severities(Math.floorMod(h, Severities.length.toLong).toInt), 42L)
      r = str(m, r)
      r = str("default", r)
      r = XXH64.hashLong(t / 1000000L * 1000000L, r)
      r = str(Types(Math.floorMod(h >>> 8, Types.length.toLong).toInt), r)
      if (hasId(h)) r = str(java.lang.Long.toHexString(h), r)
      hi += r >>> 32
      lo += r & 0xffffffffL
      i += 1
    }
    (n.toLong, hi, lo)
  }

  /** The bytes of file `f`. */
  def render(f: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(LinesPerFile * 190)
    val q = if (quoted(f)) "\"" else ""
    val m = machine(f)
    var i = 0
    while (i < LinesPerFile) {
      val h = hash(f, i)
      val t = baseMicros + f.toLong * FileSpanMicros + i.toLong * StepMicros +
        java.lang.Long.remainderUnsigned(h >>> 20, StepMicros)
      val start = sb.length
      sb.append("{\"Severity\": ").append(q).append(Severities(Math.floorMod(h, Severities.length.toLong).toInt)).append(q)
        .append(", \"Time\": ").append(q).append(t / 1000000L).append('.')
      val micros = (t % 1000000L).toString
      var pad = 6 - micros.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(micros).append(q)
        .append(", \"Type\": \"").append(Types(Math.floorMod(h >>> 8, Types.length.toLong).toInt))
        .append("\", \"Machine\": \"").append(m)
        .append("\", \"LogGroup\": \"default\"")
      if (hasId(h)) sb.append(", \"ID\": \"").append(java.lang.Long.toHexString(h)).append('"')
      sb.append(", \"Roles\": \"SS\", \"Transition\": \"Begin\"}\n")
      if (i == LinesPerFile - 1 && truncated(f)) sb.setLength(start + (sb.length - start) / 2)
      i += 1
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Write file `f` into `dir` under its rotated-file name. */
  def write(dir: Path, f: Int): Path =
    Files.write(dir.resolve(fileName(f)), render(f))

  /** Write each (dir, file) pair, rendering on all cores. */
  def writeAll(targets: Seq[(Path, Int)]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(targets) { case (d, f) => Future(write(d, f)) }, Duration.Inf)
  }

  def fileName(f: Int): String = s"trace.10.0.${f / 250}.${f % 250}.$port.$seed.$f.json"

  /** The normalised rows a correct ingest stores from `files`, in the
    * store's column order, built from the same hash in Spark. */
  def expected(spark: SparkSession, files: Seq[Int]): DataFrame = {
    import spark.implicits._
    val h = xxhash64(lit(seed), col("f").cast("long"), col("i").cast("long"))
    def pick(xs: Seq[String], idx: Column): Column = element_at(array(xs.map(lit): _*), (idx + 1).cast("int"))
    val micros = lit(baseMicros) + col("f").cast("long") * FileSpanMicros + col("i").cast("long") * StepMicros +
      pmod(shiftrightunsigned(h, 20), lit(StepMicros))
    files.toDF("f")
      .withColumn("n", when(col("f") % 2 === 0, LinesPerFile - 1).otherwise(LinesPerFile))
      .select(col("f"), explode(sequence(lit(0), col("n") - 1)).as("i"))
      .withColumn("micros", micros)
      .select(
        pick(Severities.map(_.toString), pmod(h, lit(Severities.length.toLong))).cast("int").as("Severity"),
        concat(lit("10.0."), (col("f") / 250).cast("int").cast("string"), lit("."),
          (col("f") % 250).cast("string"), lit(s":$port")).as("Machine"),
        lit("default").as("LogGroup"),
        timestamp_seconds(expr("micros div 1000000")).as("Time"),
        pick(Types, pmod(shiftrightunsigned(h, 8), lit(Types.length.toLong))).as("Type"),
        when(pmod(shiftrightunsigned(h, 16), lit(IdlessOneIn.toLong)) =!= 0, lower(hex(h))).as("ID"))
  }

  private def hasId(h: Long): Boolean = java.lang.Long.remainderUnsigned(h >>> 16, IdlessOneIn) != 0
}

object TraceGen {
  /** Rows per rotated file observed in the reference deployment. */
  val LinesPerFile = 25810
  /** 46 ms between lines: one file covers about twenty minutes. */
  val StepMicros = 46000L
  val FileSpanMicros: Long = LinesPerFile * StepMicros
  val BaseBeforeBoundary: Long = 3L * 3600 * 1000000
  /** One line in sixteen carries no ID, as FDB omits it for some events. */
  val IdlessOneIn = 16
  val Severities: Seq[Int] = Seq(10, 10, 10, 10, 10, 10, 10, 20, 30, 40)
  val Types: Seq[String] = Seq("Role", "MachineMetrics", "ProcessMetrics", "Net2SlowTaskTrace",
    "StorageMetrics", "TLogMetrics", "ConnectionFrom", "MasterRecoveryState")
}
