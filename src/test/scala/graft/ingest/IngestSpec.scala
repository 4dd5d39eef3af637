package graft.ingest

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.schema.TraceSchema

/** Pins SURVEY.md §1.4 time semantics + A6 projection + nullable ID. */
class IngestSpec extends SparkSpec {

  private def writeFixture(dir: String): Unit = {
    // Extra keys (As/Transition/Locality) must be dropped; one line lacks ID.
    val lines = Seq(
      """{"Severity": 10, "Machine": "127.0.0.1:4500", "LogGroup": "default", "Time": 1557761852.941, "Type": "Role", "ID": "92f2ac1d4ebb1f2d", "As": "MasterServer", "Transition": "Begin"}""",
      """{"Severity": 20, "Machine": "127.0.0.1:4501", "LogGroup": "default", "Time": 1557761853.499, "Type": "MachineMetrics", "Locality": "zz"}""",
      """{"Severity": 40, "Machine": "127.0.0.1:4502", "LogGroup": "g2", "Time": 1557761854.0, "Type": "Net2SlowTaskTrace", "ID": "0000000000000001"}""",
    )
    Files.write(Paths.get(dir, "trace.127.0.0.1.4500.1.2.json"),
      lines.mkString("\n").getBytes)
    // non-.json files must be ignored (A3)
    Files.write(Paths.get(dir, "trace.partial.tmp"), "garbage".getBytes)
  }

  test("batch ingest: projection, time truncation, nullability") {
    val dir = tmpDir("ingest")
    writeFixture(dir)
    val df = TraceIngest.readBatch(spark, dir)
    // JSON sources always report nullable fields; the target's declared
    // non-nullability is enforced by normalize's filters, checked below.
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
           TraceSchema.target.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(df.filter(
      df.col("Severity").isNull || df.col("Machine").isNull ||
      df.col("Time").isNull || df.col("Type").isNull).count() == 0)
    val rows = df.orderBy("Time").collect()
    assert(rows.length == 3)
    // §1.4: fractional seconds truncate toward zero (1557761852.941 → ...52)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    assert(fmt.format(rows(0).getTimestamp(3)) == "2019-05-13 15:37:32")
    assert(fmt.format(rows(1).getTimestamp(3)) == "2019-05-13 15:37:33")
    // ID nullable: second line had none
    assert(rows(1).isNullAt(5))
    assert(rows(0).getString(5) == "92f2ac1d4ebb1f2d")
  }

  test("micros mode keeps sub-second time exactly; default stays whole-second") {
    val dir = tmpDir("ingest-us")
    writeFixture(dir)
    val df = TraceIngest.readBatch(spark, dir, TraceIngest.TimeResolution.Micros)
    val us = df.orderBy("Time")
      .select(org.apache.spark.sql.functions.unix_micros(df.col("Time")))
      .collect().map(_.getLong(0))
    // 1557761852.941 / .499 / .0 — micros preserved, round-to-nearest
    // (truncation would read the doubles' representation error as ±1 µs)
    assert(us.toSeq == Seq(1557761852941000L, 1557761853499000L, 1557761854000000L))
    // and the same fixture through the DEFAULT path still truncates (§1.4)
    val secs = TraceIngest.readBatch(spark, dir).orderBy("Time")
      .select(org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("Time")))
      .collect().map(_.getLong(0))
    assert(secs.toSeq == Seq(1557761852000000L, 1557761853000000L, 1557761854000000L))
  }

  test("micros timestamps survive the STORE round-trip (append, ym layout, read)") {
    val dir = tmpDir("ingest-us-store"); val table = tmpDir("ingest-us-table")
    writeFixture(dir)
    graft.store.TraceStore.append(
      TraceIngest.readBatch(spark, dir, TraceIngest.TimeResolution.Micros), table)
    // parquet stores Spark timestamps at microsecond physical precision,
    // so nothing truncates at rest; the month layout derives identically
    val back = graft.store.TraceStore.read(spark, table)
    assert(back.select("ym").distinct().collect().map(_.getString(0)).toSeq == Seq("201905"))
    val us = back.orderBy("Time")
      .select(org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("Time")))
      .collect().map(_.getLong(0))
    assert(us.toSeq == Seq(1557761852941000L, 1557761853499000L, 1557761854000000L))
  }

  test("a malformed line between valid lines drops out instead of failing the task") {
    val dir = tmpDir("ingest-bad")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "trace.127.0.0.1.4500.3.4.json"), Seq(
      """{"Severity": 10, "Machine": "127.0.0.1:4500", "LogGroup": "default", "Time": 1557761852.0, "Type": "Role", "ID": "a"}""",
      "not json at all",
      """{"Severity": 20, "Machine": "127.0.0.1:4501", "LogGroup": "default", "Time": 1557761853.0, "Type": "Role", "ID": "b"}""",
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // PERMISSIVE parse nulls the bad line's fields; normalize's filters drop it
    val rows = TraceIngest.readBatch(spark, dir).orderBy("Time").collect()
    assert(rows.map(_.getString(5)).toSeq == Seq("a", "b"))
  }
}
