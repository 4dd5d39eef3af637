package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query names — local iteration only]
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet else Set.empty
    // a subset naming no registered query would report declared=0 and
    // exit 0 — a typo must not look like a green run
    val unknown = (only -- SparkEntry.queries.keySet).toSeq.sorted
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query names: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    // the session Bench times, at a 4-core default
    val spark = graft.util.Sessions.suite(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // A query that throws must NEVER silently vanish from the correctness
    // report (round-3 lesson: 16 analysis failures looked like "160/164
    // green" because only written outputs were recorded). Track every
    // failure, write a machine-readable marker next to the outputs, and
    // print an unmissable summary line.
    val declared = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    declared.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        failures(name) = msg
        System.err.println(s"[verify] FAILED $name: $msg")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    println(s"[verify] declared=${declared.size} written=${declared.size - failures.size} " +
      s"failed=${failures.keys.mkString("[", ",", "]")}")
    // exit 0 even on failures: the written outputs are still valid and the
    // driver must record them; the _failures.json marker + summary line
    // carry the failure signal without risking the whole run.
    spark.stop()
  }
}
