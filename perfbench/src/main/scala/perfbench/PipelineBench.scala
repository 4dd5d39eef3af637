package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The pipeline benchmark's JVM side: one workload, one seed.
  *
  * An untraced pass gives the end-to-end numbers. With `--trace 1` a traced
  * pass of the same workload and seed follows; it gives the per-layer
  * numbers, and the traced pass minus the untraced one is the tracing
  * overhead. The run writes one JSON artifact (`--out`) and prints
  * a one-line report; `run.py` turns that into the benchmark's result line.
  *
  * Usage: PipelineBench --workload backfill|live_tail|query_mix --seed N
  *   --seconds S --trace 0|1 --dir WORKDIR --out ARTIFACT --cpus N
  *   [--tables DIR --queries q1,q2,... --tables-setup-s X]
  */
object PipelineBench {

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
      }
    // Spark leaves non-daemon threads behind; exit explicitly either way
    System.exit(code)
  }

  private def opts(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  /** `graft.Bench`'s fixed calibration probe: 80M rows hashed and
    * aggregated to 1M groups, with no data dependence. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(80000000L).toDF("id")
      .withColumn("g", pmod(xxhash64(col("id")), lit(1000000L)))
      .groupBy("g").agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
      .agg(sum(col("s")), sum(col("n"))).count()
    (System.nanoTime() - t0) / 1e9
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** The trace: every span with its self time and the listener counts
    * that fall inside its window. */
  private def spanRecords(t: Tracer): Seq[Map[String, Any]] = t.allSpans.map { s =>
    val one = Seq(s)
    val ts = t.tasksIn(one)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> t.selfMs(s), "rows" -> s.rows,
      "jobs" -> t.jobsIn(one), "tasks" -> ts.size, "exec_cpu_ms" -> ts.map(_.cpuNs).sum / 1000000,
      "gc_ms" -> ts.map(_.gcMs).sum)
  }

  def run(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = opts(args)
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toInt
    val trace = o("trace") == "1"
    val dir = Paths.get(o("dir")).toAbsolutePath
    val cpus = o("cpus").toInt
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val queries = o.get("queries").toSeq.flatMap(_.split(","))
    val body: Ctx => PassResult = workload match {
      case "backfill" => Workloads.backfill
      case "live_tail" => Workloads.liveTail
      case "query_mix" => Workloads.queryMix
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.createDirectories(dir)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Workloads.mark("session started")
    val sessionS = Workloads.secondsSince(t0)
    // the JVM's first Spark job pays class loading and codegen start-up;
    // the probe's second run is the reading
    calibrate(spark)
    val calibBefore = calibrate(spark)
    Workloads.mark("calibrated")

    def pass(traced: Boolean, name: String): (PassResult, Map[String, Double], Seq[Map[String, Any]]) = {
      val progress = new Progress(spark)
      val tracer = new Tracer(spark, traced, runId)
      val ctx = new Ctx(spark, Workloads.fresh(dir.resolve(name)), seed, seconds, tracer, progress,
        o.getOrElse("tables", ""), queries,
        o.get("tables-setup-s").map(_.toDouble).getOrElse(0.0))
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcSeconds()
      try {
        val r = body(ctx)
        tracer.finish()
        val sparkLayers = Map(
          "spark.task_failures" -> tracer.tasks.asScala.count(_.failed).toDouble,
          "spark.jvm_gc_s" -> (gcSeconds() - gc0),
          "spark.heap_peak_bytes" -> heapPools.map(_.getPeakUsage.getUsed).sum.toDouble)
        (r, sparkLayers, spanRecords(tracer))
      } finally progress.stop()
    }

    val (plain, _, _) = pass(traced = false, "untraced")
    val tracedPass = if (trace) Some(pass(traced = true, "traced")) else None
    Workloads.mark("passes done")
    val calibAfter = calibrate(spark)
    val oracle = queries.flatMap { q => graft.SparkEntry.oracleSql.get(q).map(q -> _) }.toMap
    spark.stop()
    Workloads.mark("session stopped")

    val setupS = sessionS + plain.setupS
    val endToEnd = Map("setup_s" -> setupS, "ops_per_s" -> plain.opsPerS, "latency_p50_s" -> plain.latencyP50S)
    val perLayer: Map[String, Double] = tracedPass.map { case (t, sparkLayers, _) =>
      t.layers ++ sparkLayers ++ Map(
        "overhead.setup_s" -> (t.setupS - plain.setupS),
        "overhead.ops_per_s" -> (t.opsPerS - plain.opsPerS),
        "overhead.latency_p50_s" -> (t.latencyP50S - plain.latencyP50S))
    }.getOrElse(Map.empty)
    def reportOf(r: PassResult) = r.report.map { case (k, m) =>
      k -> Map("value" -> m.value, "unit" -> m.unit, "samples" -> m.samples) }.toMap

    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace, "run_id" -> runId,
      "cpus" -> cpus, "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
      "session_start_s" -> sessionS, "pass_setup_s" -> plain.setupS,
      "end_to_end" -> endToEnd, "report" -> reportOf(plain),
      "attempted" -> plain.attempted, "failed" -> plain.failed,
      "problems" -> (plain.problems ++ tracedPass.toSeq.flatMap(_._1.problems)),
      "detail" -> plain.detail,
      "per_layer" -> perLayer,
      "traced_report" -> tracedPass.map(t => reportOf(t._1)),
      "traced_detail" -> tracedPass.map(_._1.detail),
      "spans" -> tracedPass.map(_._3),
      "oracle_sql" -> oracle)
    Files.write(Paths.get(o("out")), Js.render(artifact).getBytes(StandardCharsets.UTF_8))
    println(Js.render(Map("perfbench_report" -> Map("workload" -> workload, "seed" -> seed,
      "end_to_end" -> endToEnd, "metrics" -> reportOf(plain), "calib_before_s" -> calibBefore,
      "calib_after_s" -> calibAfter))))
  }
}
