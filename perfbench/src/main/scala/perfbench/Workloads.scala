package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.TraceIngest
import graft.sources.HttpBulkSink
import graft.store.TraceStore
import graft.streaming.TraceStream

/** A metric as printed in the report: value, unit and sample count. */
final case class Metric(value: Double, unit: String, samples: Int)

/** Everything one pass of a workload needs. `queries` are query_mix's
  * queries; a query_mix pass runs each once. */
final class Ctx(val spark: SparkSession, val dir: Path, val seed: Long, val seconds: Int,
                val tracer: Tracer, val progress: Progress, val tables: String,
                val queries: Seq[String], val tablesSetupS: Double)

/** The outcome of one pass. `setupS` is the pass's own set-up (warm-up,
  * input generation, pipeline start); the session start is added once per
  * run. */
final case class PassResult(setupS: Double, opsPerS: Double, latencyP50S: Double,
                            report: Seq[(String, Metric)], attempted: Long, failed: Long,
                            problems: Seq[String], layers: Map[String, Double],
                            detail: Map[String, Any])

object Workloads {
  val StoreCols: Seq[String] = Seq("Severity", "Machine", "LogGroup", "Time", "Type", "ID")
  /** `--watch`'s settings (Main.scala): splits 8, maxFiles 64. */
  val WatchSplits = 8
  val WatchMaxFiles = 64
  /** live_tail's open-loop inter-arrival time. One 25,810-line file per
    * 1.25 s is about 20.6k rows/s, under a third of the ~70k rows/s a
    * six-file AvailableNow drain ingests. Beside the rollup follower and the
    * dashboard, a 1 s batch takes 0.6 to 1 s on four cores: at 1.1 s the
    * pipeline ran near saturation, and freshness kept falling through the
    * window as the backlog of the first batches drained. Spark fires a 1 s
    * processing-time trigger on whole seconds and the generator starts
    * 50 ms after one, so arrivals fall 0.05, 0.30, 0.55 and 0.80 s after a
    * trigger, in turn: a 10 s window of eight arrivals sweeps those phases
    * twice, whenever the run starts. */
  val LiveIntervalMs = 1250L
  /** live_tail's files staged before the pipeline starts, so the store and
    * the rollup exist when the dashboard starts. */
  val LivePreStaged = 2
  /** live_tail's open-loop arrivals before the measured window: the
    * pipeline's first small batches still pay JIT start-up. */
  val LiveWarmArrivals = 6
  /** Seconds of dashboard rounds over the settled store after the window. */
  val SettledReadS = 4.0
  /** Dashboard window: the last five minutes of data time. */
  val DashboardMicros: Long = 5L * 60 * 1000000
  val StreamTimeoutMs = 90000L

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()
  /** Phase marks on stderr, for reading where a run's wall time went. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] ${secondsSince(started)}%8.2f s  $what")
  def timed[T](body: => T): (T, Double) = { val t0 = System.nanoTime(); val v = body; (v, secondsSince(t0)) }

  /** Run the repeatable part of set-up three times and keep the median,
    * so one slow repetition does not move `setup_s`. */
  def medianOf3(body: => Unit): Double = Stats.median((1 to 3).map(_ => timed(body)._2))

  def fresh(p: Path): Path = {
    if (Files.exists(p)) deleteTree(p)
    Files.createDirectories(p)
  }
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists)
  }

  def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.toSeq.filter { f =>
      val rel = p.relativize(f).toString
      f.getFileName.toString.endsWith(".parquet") && !rel.split('/').exists(_.startsWith("_"))
    }

  def storeRows(spark: SparkSession, store: Path): DataFrame =
    TraceStore.read(spark, store.toString).select(StoreCols.map(col): _*)

  /** Wait until `cond` holds, polling; fail the run after the timeout. */
  def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + StreamTimeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(50)
    }
  }

  /** Per-file multiset fingerprint of rows: count and the sums of the two
    * 32-bit halves of each row's xxhash64. Files are told apart by their
    * Machine. */
  def fingerprints(rows: DataFrame): Map[String, (Long, Long, Long)] = {
    val h = xxhash64(StoreCols.map(col): _*)
    rows.groupBy("Machine")
      .agg(count(lit(1)), sum(shiftrightunsigned(h, 32)), sum(h.bitwiseAND(lit(0xffffffffL))))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  /** Check the store against the generator: every stored row must be an
    * expected row. A file whose stored rows match its expected rows in
    * count and fingerprint is correct; a file with nothing stored is
    * correct (its lines are counted as lost); any other file is checked row
    * by row against [[TraceGen.expected]]. Returns (rows stored per file,
    * rows that match no expected row, the store's fingerprints). */
  def checkStored(spark: SparkSession, gen: TraceGen, store: Path, files: Seq[Int])
      : (Map[Int, Long], Long, Map[String, (Long, Long, Long)]) = {
    val stored = storeRows(spark, store)
    val got = fingerprints(stored)
    val want = files.map(f => gen.machine(f) -> gen.fingerprint(f)).toMap
    val partial = got.keys.filterNot(m => want.get(m).contains(got(m))).toSeq
    if (partial.nonEmpty) mark(s"checking ${partial.size} files row by row")
    val wrong =
      if (partial.isEmpty) 0L
      else stored.filter(col("Machine").isin(partial: _*))
        .exceptAll(gen.expected(spark, files).filter(col("Machine").isin(partial: _*))).count()
    (files.map(f => f -> got.get(gen.machine(f)).map(_._1).getOrElse(0L)).toMap, wrong, got)
  }

  /** Lines the program quarantined under the store's `_rejects/`
    * (ROADMAP direction 4's planned quarantine): rows of parquet files,
    * lines of other files. 0 while the program has no quarantine. */
  def quarantinedLines(spark: SparkSession, store: Path): Long = {
    val dir = store.resolve("_rejects")
    if (!Files.isDirectory(dir)) 0L
    else {
      val files = Files.walk(dir).iterator().asScala.toSeq.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }
      val (parquet, other) = files.partition(_.getFileName.toString.endsWith(".parquet"))
      val parquetRows = if (parquet.isEmpty) 0L else spark.read.parquet(parquet.map(_.toString): _*).count()
      parquetRows + other.map(f => Using.resource(Files.lines(f))(_.count())).sum
    }
  }

  /** Share of a drain's wall time spent outside its batches' `addBatch`:
    * streaming-query start and stop, offset listing, planning, WAL and
    * commit. */
  def outsideAddBatch(drainS: Double, bs: Seq[Batch]): Double =
    1.0 - bs.map(_.durations.getOrElse("addBatch", 0L)).sum / 1000.0 / drainS

  /** Files whose complete bare-number lines are not all visible in the
    * store. FDB's all-strings files are left out: the program does not
    * store them yet (ROADMAP direction 4), and their loss is counted as
    * failed lines instead. */
  def invisibleFiles(gen: TraceGen, perFile: Map[Int, Long]): Seq[Int] =
    perFile.keys.toSeq.sorted.filter(f => !gen.quoted(f) && perFile(f) != gen.expectedStored(f))

  def fileDetail(gen: TraceGen, files: Seq[Int], stored: Map[Int, Long]): Seq[Map[String, Any]] =
    files.map(f => Map("file" -> f, "encoding" -> (if (gen.quoted(f)) "strings" else "numbers"),
      "truncated_tail" -> gen.truncated(f), "lines" -> TraceGen.LinesPerFile,
      "expected_stored" -> gen.expectedStored(f), "expected_rejected" -> gen.expectedRejected(f),
      "stored" -> stored.getOrElse(f, 0L)))

  // ---------------------------------------------------------------- layers

  val LayerNames: Seq[String] = Seq(
    "ingest.parse.busy_s", "ingest.parse.exec_cpu_s", "ingest.parse.lines_in", "ingest.parse.rows_out",
    "ingest.parse.yield",
    "store.append.busy_s", "store.append.calls", "store.append.jobs", "store.append.tasks",
    "store.append.exec_cpu_s", "store.append.gc_s", "store.append.shuffle_write_bytes",
    "store.append.files_written", "store.append.bytes_written",
    "store.snapshot.busy_s", "store.snapshot.calls",
    "store.read.busy_s", "store.files_live", "store.bytes_per_row",
    "streaming.ingest.batches", "streaming.ingest.add_batch_s", "streaming.ingest.latest_offset_s",
    "streaming.ingest.query_planning_s", "streaming.ingest.wal_commit_s", "streaming.ingest.backlog_max_files",
    "streaming.rollup.batches", "streaming.rollup.add_batch_s", "streaming.rollup.latest_offset_s",
    "streaming.rollup.segments_live", "streaming.rollup.bases_written",
    "sources.cdc.diff.busy_s", "sources.cdc.diff.rows", "sources.cdc.diff.files_read",
    "sources.cdc.batches", "sources.cdc.max_batch_rows",
    "sources.http.append.busy_s", "sources.http.posts", "sources.http.bytes", "sources.http.non2xx",
    "sources.http.post_p50_ms", "sources.http.post_p90_ms", "sources.http.rows", "sources.http.dup_rows",
    "queries.analysis_s", "queries.optimization_s", "queries.planning_s", "queries.jobs", "queries.stages",
    "queries.tasks", "queries.driver_gap_s",
    "queries.exec_run_s", "queries.exec_cpu_s", "queries.gc_s", "queries.shuffle_read_bytes",
    "queries.shuffle_fetch_wait_s",
    "spark.task_failures", "spark.jvm_gc_s", "spark.heap_peak_bytes")

  final class Layers {
    val m: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(LayerNames.map(_ -> 0.0): _*)
    def update(k: String, v: Double): Unit = {
      require(m.contains(k), s"unknown layer metric $k")
      m(k) = v
    }
  }

  def streamingLayers(l: Layers, prefix: String, bs: Seq[Batch]): Unit = {
    val work = bs.filter(_.durations.contains("addBatch"))
    def sumS(k: String) = work.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    l(s"$prefix.batches") = work.size.toDouble
    l(s"$prefix.add_batch_s") = sumS("addBatch")
    l(s"$prefix.latest_offset_s") = sumS("latestOffset")
    if (prefix == "streaming.ingest") {
      l(s"$prefix.query_planning_s") = sumS("queryPlanning")
      l(s"$prefix.wal_commit_s") = sumS("walCommit")
    }
  }

  def cdcStreamLayers(l: Layers, bs: Seq[Batch]): Unit = {
    val work = bs.filter(_.inputRows > 0)
    l("sources.cdc.batches") = work.size.toDouble
    l("sources.cdc.max_batch_rows") = if (work.isEmpty) 0.0 else work.map(_.inputRows).max.toDouble
  }

  def receiverLayers(l: Layers, r: Receiver): Unit = {
    val lat = r.postLatenciesMs
    l("sources.http.posts") = r.posts.get.toDouble
    l("sources.http.bytes") = r.bytes.get.toDouble
    l("sources.http.non2xx") = r.non2xx.get.toDouble
    l("sources.http.post_p50_ms") = if (lat.isEmpty) 0.0 else Stats.median(lat)
    l("sources.http.post_p90_ms") = if (lat.isEmpty) 0.0 else Stats.quantile(lat, 0.9)
    l("sources.http.rows") = r.rows.get.toDouble
    l("sources.http.dup_rows") = r.dupRows.get.toDouble
  }

  def storeLayoutLayers(l: Layers, store: Path, storedRows: Long): Unit = {
    val files = parquetFiles(store)
    l("store.files_live") = files.size.toDouble
    l("store.bytes_per_row") =
      if (storedRows == 0) 0.0 else files.map(Files.size).sum.toDouble / storedRows
  }

  /** Backlog of a file-stream ingest: for each batch, files that had
    * arrived before it started and were not committed by earlier batches. */
  def backlogMaxFiles(batches: Seq[Batch], arrivedMs: Map[String, Long], committed: Map[String, Long]): Int =
    if (batches.isEmpty) 0
    else batches.map { b =>
      arrivedMs.count { case (f, t) => t <= b.startMs && committed.get(f).forall(_ >= b.batchId) }
    }.max

  /** The traced run's layer-by-layer replay of an ingest run: each
    * committed batch's files are parsed alone, appended to a scratch store,
    * pinned, diffed against the previous pin and, when `sink` is given,
    * posted. Each call is a span; the layer metrics come from these
    * spans and the listener events inside them. */
  def replayLayers(ctx: Ctx, l: Layers, batches: Seq[(Path, Seq[String])], linesIn: Long,
                   warmFile: Path, sink: Option[HttpBulkSink.Config]): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val scratch = fresh(ctx.dir.resolve("replay-store"))
    TraceStore.append(TraceIngest.readBatch(spark, warmFile.toString), scratch.toString, WatchSplits)
    var pin = TraceStore.snapshot(scratch.toString)
    val filesBefore = parquetFiles(scratch).size
    var diffFiles = 0L
    batches.filter(_._2.nonEmpty).foreach { case (watch, names) =>
      val glob = watch.resolve(names.mkString("{", ",", "}")).toString
      tr.spanWith[Long]("ingest.parse", identity) { TraceIngest.readBatch(spark, glob).count() }
      tr.span("store.append") {
        TraceStore.append(TraceIngest.readBatch(spark, glob), scratch.toString, WatchSplits)
      }
      val next = tr.span("store.snapshot") { TraceStore.snapshot(scratch.toString) }
      val changes = TraceStore.readChangesSince(spark, scratch.toString, pin)
      tr.spanWith[Long]("sources.cdc.diff", identity) { changes.count() }
      diffFiles += (TraceStore.snapshotKeys(scratch.toString, next).toSet --
        TraceStore.snapshotKeys(scratch.toString, pin)).size
      sink.foreach { c =>
        val signed = TraceStore.readChangesSince(spark, scratch.toString, pin)
          .withColumn("_sign", when(col("_change") === "insert", lit(1)).otherwise(lit(-1)))
          .drop("_change", "_commit_snapshot", "_commit_ts")
        tr.span("sources.http.append") { HttpBulkSink.append(signed, c) }
      }
      pin = next
    }
    tr.finish()
    def tasks(n: String) = tr.tasksIn(tr.named(n))
    val parse = tr.named("ingest.parse")
    l("ingest.parse.busy_s") = tr.busyS(parse)
    l("ingest.parse.exec_cpu_s") = tasks("ingest.parse").map(_.cpuNs).sum / 1e9
    l("ingest.parse.lines_in") = linesIn.toDouble
    l("ingest.parse.rows_out") = parse.map(_.rows).sum.toDouble
    l("ingest.parse.yield") = if (linesIn == 0) 0.0 else parse.map(_.rows).sum.toDouble / linesIn
    val app = tr.named("store.append")
    val at = tasks("store.append")
    l("store.append.busy_s") = tr.busyS(app)
    l("store.append.calls") = app.size.toDouble
    l("store.append.jobs") = tr.jobsIn(app).toDouble
    l("store.append.tasks") = at.size.toDouble
    l("store.append.exec_cpu_s") = at.map(_.cpuNs).sum / 1e9
    l("store.append.gc_s") = at.map(_.gcMs).sum / 1000.0
    l("store.append.shuffle_write_bytes") = at.map(_.shuffleWriteBytes).sum.toDouble
    l("store.append.files_written") = (parquetFiles(scratch).size - filesBefore).toDouble
    l("store.append.bytes_written") = at.map(_.bytesWritten).sum.toDouble
    val snap = tr.named("store.snapshot")
    l("store.snapshot.busy_s") = tr.busyS(snap)
    l("store.snapshot.calls") = snap.size.toDouble
    val diff = tr.named("sources.cdc.diff")
    l("sources.cdc.diff.busy_s") = tr.busyS(diff)
    l("sources.cdc.diff.rows") = diff.map(_.rows).sum.toDouble
    l("sources.cdc.diff.files_read") = diffFiles.toDouble
    l("sources.http.append.busy_s") = tr.busyS(tr.named("sources.http.append"))
  }

  /** A warm-up file for the replay's scratch store. */
  def warmFile(dir: Path): Path = {
    val p = dir.resolve("warm").resolve("warm.json")
    Files.createDirectories(p.getParent)
    Files.write(p, (0 until 2000).map(i =>
      s"""{"Severity": 10, "Machine": "w:1", "LogGroup": "g", "Time": ${1500000000 + i}.5, "Type": "W", "ID": "w$i"}""")
      .mkString("", "\n", "\n").getBytes)
  }

  // ---------------------------------------------------------------- backfill

  /** backfill drains seven independent backlogs, each into its own store,
    * each followed by its replicate drain. The first two rounds are the
    * warm-up: a JVM's first drains still pay JIT start-up (ingest time per
    * round falls by about 40% over the first three rounds, measured on a
    * 4-core box). Rates and drain times are medians over the other five
    * rounds: medians over three rounds of six files spread 21% across
    * seeds, over five rounds of four files 14%. A round's backlog is 0.4
    * files per measured second, well under maxFiles, so each drain is one
    * trigger plus the streaming query's start and stop; the report gives
    * the share of each drain outside `addBatch`. */
  val BackfillRounds = 7
  val BackfillWarmRounds = 2
  def roundFiles(seconds: Int): Int = math.max(2, math.round(seconds * 0.4).toInt)

  /** One ingest drain of `watch` into `store`, then one replicate drain of
    * `store` to `http`; returns the two durations in seconds. */
  def drainAndReplicate(ctx: Ctx, watch: Path, store: Path, http: HttpBulkSink.Config, tag: String): (Double, Double) = {
    val t0 = System.nanoTime()
    ctx.tracer.span("streaming.ingest.drain") {
      TraceStream.start(ctx.spark, TraceStream.Config(watch.toString, store.toString,
        ctx.dir.resolve(s"ckpt-ingest$tag").toString, maxFilesPerTrigger = WatchMaxFiles,
        splitsPerMonth = WatchSplits)).awaitTermination()
    }
    val ingestS = secondsSince(t0)
    val t1 = System.nanoTime()
    ctx.tracer.span("sources.cdc.replicate.drain") {
      TraceStream.replicateChanges(ctx.spark, store.toString, http,
        ctx.dir.resolve(s"ckpt-replicate$tag").toString).awaitTermination()
    }
    (ingestS, secondsSince(t1))
  }

  /** One backfill round as measured. */
  final case class Round(files: Seq[Int], startMs: Long, ingestS: Double, replicateS: Double,
                         sinkRows: Long, committed: Map[String, Long], ingestBatches: Seq[Batch],
                         replicateBatches: Seq[Batch], freshness: Seq[Double])

  def backfill(ctx: Ctx): PassResult = {
    val spark = ctx.spark
    val gen = new TraceGen(ctx.seed)
    val n = roundFiles(ctx.seconds)
    val rounds = (0 until BackfillRounds).map(r => (r * n) until ((r + 1) * n))
    val files = 0 until BackfillRounds * n
    def watch(r: Int) = ctx.dir.resolve(s"watch-$r")
    def store(r: Int) = ctx.dir.resolve(s"store-$r")
    val inputS = medianOf3 {
      rounds.zipWithIndex.foreach { case (fs, r) => fresh(watch(r)) }
      gen.writeAll(rounds.zipWithIndex.flatMap { case (fs, r) => fs.map(watch(r) -> _) })
    }
    val receiver = new Receiver
    try {
      val http = HttpBulkSink.Config(receiver.addr, "fdb", "trace_events")
      val measured = rounds.zipWithIndex.map { case (fs, r) =>
        fresh(store(r))
        val rowsBefore = receiver.rows.get
        val t0Ms = System.currentTimeMillis()
        val (ingest, replicate) = drainAndReplicate(ctx, watch(r), store(r), http, s"-$r")
        val committed = Progress.committedFiles(ctx.dir.resolve(s"ckpt-ingest-$r"))
        // queries of every round and of the warm-up report under the same
        // names; progress events arrive on the listener bus, after the drain
        def inRound(bs: Seq[Batch]) = bs.filter(b => b.startMs >= t0Ms)
        await("the ingest progress events")(committed.values.toSet
          .subsetOf(inRound(ctx.progress.batches("trace-ingest")).map(_.batchId).toSet))
        val ingestBatches = inRound(ctx.progress.batches("trace-ingest"))
        val replicateBatches = inRound(ctx.progress.batches("trace-cdc-replicate"))
        val endByBatch = ingestBatches.map(b => b.batchId -> b.endMs).toMap
        Round(fs, t0Ms, ingest, replicate, receiver.rows.get - rowsBefore, committed, ingestBatches,
          replicateBatches, fs.flatMap(f => committed.get(gen.fileName(f)).flatMap(endByBatch.get))
            .map(end => (end - t0Ms) / 1000.0))
      }
      mark("backfill drained")
      val warmS = measured.take(BackfillWarmRounds).map(m => m.ingestS + m.replicateS).sum
      val timedRounds = measured.drop(BackfillWarmRounds)

      val problems = mutable.ArrayBuffer.empty[String]
      val perFile = mutable.Map.empty[Int, Long]
      val storePrints = mutable.Map.empty[String, (Long, Long, Long)]
      rounds.zipWithIndex.foreach { case (fs, r) =>
        val (counts, wrong, prints) = checkStored(spark, gen, store(r), fs)
        perFile ++= counts
        storePrints ++= prints
        if (wrong > 0) problems += s"round $r: $wrong stored rows match no expected row"
      }
      val storedN = perFile.values.sum
      val quarantinedN = rounds.indices.map(r => quarantinedLines(spark, store(r))).sum
      val freshness = timedRounds.flatMap(_.freshness)
      if (measured.map(_.freshness.size).sum != files.size)
        problems += s"${files.size - measured.map(_.freshness.size).sum} files never committed"
      val invisible = invisibleFiles(gen, perFile.toMap)
      if (invisible.nonEmpty) problems += s"files whose rows are not all visible: ${invisible.mkString(",")}"
      mark("stores checked")
      // the receiver's +1 rows must equal the stores as a multiset
      val posted = ctx.dir.resolve("received")
      receiver.dump(posted)
      val recv = spark.read.schema(storeRows(spark, store(0)).schema.add("_sign", "int")).json(posted.toString)
      val withOther = recv.withColumn("Machine",
        when(col("_sign") === 1, col("Machine")).otherwise(lit("_sign other than +1")))
      val recvPrints = fingerprints(withOther)
      if (recvPrints != storePrints)
        problems += s"receiver rows differ from the stores as a multiset (+1 rows " +
          s"${recvPrints.filter(_._1 != "_sign other than +1").values.map(_._1).sum}, stored $storedN, " +
          s"other rows ${recvPrints.get("_sign other than +1").map(_._1).getOrElse(0L)})"
      mark("receiver checked")

      val offered = files.size.toLong * TraceGen.LinesPerFile
      val lost = offered - storedN - quarantinedN
      val ingestRate = Stats.median(timedRounds.map(m => m.files.map(perFile(_)).sum / m.ingestS))
      val sinkRate = Stats.median(timedRounds.map(m => m.sinkRows / m.replicateS))
      val ingestOutside = timedRounds.map(m => outsideAddBatch(m.ingestS, m.ingestBatches))
      val replicateOutside = timedRounds.map(m => outsideAddBatch(m.replicateS, m.replicateBatches))
      val attempted = offered + receiver.posts.get
      val failed = lost + receiver.non2xx.get

      val l = new Layers
      storeLayoutLayers(l, store(0), rounds.head.map(perFile(_)).sum)
      receiverLayers(l, receiver)
      if (ctx.tracer.enabled) {
        streamingLayers(l, "streaming.ingest", timedRounds.flatMap(_.ingestBatches))
        l("streaming.ingest.backlog_max_files") = timedRounds.map(m =>
          backlogMaxFiles(m.ingestBatches, m.files.map(f => gen.fileName(f) -> m.startMs).toMap, m.committed)).max.toDouble
        cdcStreamLayers(l, timedRounds.flatMap(_.replicateBatches))
        val replay = measured.zipWithIndex.drop(BackfillWarmRounds).flatMap { case (m, r) =>
          m.committed.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map(b => watch(r) -> b._2.map(_._1)) }
        val sinkReceiver = new Receiver
        try replayLayers(ctx, l, replay, timedRounds.map(_.files.size).sum.toLong * TraceGen.LinesPerFile,
          warmFile(ctx.dir), Some(HttpBulkSink.Config(sinkReceiver.addr, "fdb", "trace_events")))
        finally sinkReceiver.stop()
      }

      PassResult(warmS + inputS, sinkRate, Stats.median(freshness),
        Seq(
          "ingest_rows_per_s" -> Metric(ingestRate, "rows/s", timedRounds.size),
          "sink_rows_per_s" -> Metric(sinkRate, "rows/s", timedRounds.size),
          // every file of a round commits in its one batch: one sample per round
          "backlog_freshness_p50_s" -> Metric(Stats.median(freshness), "s", timedRounds.size),
          "ingest_outside_add_batch_share" -> Metric(Stats.median(ingestOutside), "1", timedRounds.size),
          "replicate_outside_add_batch_share" -> Metric(Stats.median(replicateOutside), "1", timedRounds.size),
          "ops_failed_frac" -> Metric(failed.toDouble / attempted, "1", attempted.toInt)),
        attempted, failed, problems.toSeq, l.m.toMap,
        Map("files" -> fileDetail(gen, files, perFile.toMap), "lines_offered" -> offered, "rows_stored" -> storedN,
          "lines_quarantined" -> quarantinedN, "lines_lost" -> lost, "warmup_rounds_s" -> warmS, "input_setup_s" -> inputS,
          "receiver_rows" -> receiver.rows.get, "receiver_posts" -> receiver.posts.get,
          "rounds" -> measured.zipWithIndex.map { case (m, i) => Map("warm_up" -> (i < BackfillWarmRounds),
            "files" -> m.files, "ingest_drain_s" -> m.ingestS,
            "ingest_outside_add_batch_share" -> outsideAddBatch(m.ingestS, m.ingestBatches),
            "replicate_drain_s" -> m.replicateS,
            "replicate_outside_add_batch_share" -> outsideAddBatch(m.replicateS, m.replicateBatches),
            "sink_rows" -> m.sinkRows,
            "ingest_batches" -> m.ingestBatches.map(batchDetail),
            "replicate_batches" -> m.replicateBatches.map(batchDetail)) }))
    } finally receiver.stop()
  }

  def batchDetail(b: Batch): Map[String, Any] =
    Map("batch" -> b.batchId, "start_ms" -> b.startMs, "end_ms" -> b.endMs, "input_rows" -> b.inputRows,
      "duration_ms" -> b.durations)

  // ---------------------------------------------------------------- live_tail

  def liveFiles(seconds: Int): Int = math.max(2, math.ceil(seconds * 1000.0 / LiveIntervalMs).toInt)

  def liveTail(ctx: Ctx): PassResult = {
    val spark = ctx.spark
    val gen = new TraceGen(ctx.seed)
    val k = LiveWarmArrivals + liveFiles(ctx.seconds)
    val files = 0 until (LivePreStaged + k)
    val staging = ctx.dir.resolve("staging")
    val watch = ctx.dir.resolve("watch")
    val store = ctx.dir.resolve("store")
    val rollup = ctx.dir.resolve("rollup")
    val ckptIngest = ctx.dir.resolve("ckpt-ingest")
    val inputS = medianOf3 {
      fresh(staging)
      gen.writeAll(files.map(staging -> _))
    }
    Seq(watch, store, rollup).foreach(fresh)
    def rename(f: Int): Long = {
      Files.move(staging.resolve(gen.fileName(f)), watch.resolve(gen.fileName(f)), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }
    val arrived = mutable.Map.empty[String, Long]
    var ingest: StreamingQuery = null
    var follower: StreamingQuery = null
    try {
      // pipeline start: the --watch ingest and the rollup follower, each
      // up to its first committed batch
      val (_, startS) = timed {
        (0 until LivePreStaged).foreach(f => arrived(gen.fileName(f)) = rename(f))
        ingest = TraceStream.start(spark, TraceStream.Config(watch.toString, store.toString,
          ckptIngest.toString, maxFilesPerTrigger = WatchMaxFiles, splitsPerMonth = WatchSplits,
          trigger = Trigger.ProcessingTime("1 second")))
        await("the first ingest batch")(Progress.committedFiles(ckptIngest).size >= LivePreStaged &&
          ctx.progress.batches("trace-ingest").nonEmpty)
        follower = TraceStream.followSlotRollup(spark, store.toString, rollup.toString,
          ctx.dir.resolve("ckpt-rollup").toString, trigger = Trigger.ProcessingTime("1 second"))
        await("the first rollup batch")(ctx.progress.batches("trace-cdc-slot-rollup").exists(_.inputRows > 0))
      }

      def dashboard(newest: Int): Unit = {
        val toMicros = gen.fileEndMicros(newest)
        val fromMicros = toMicros - DashboardMicros
        ctx.tracer.span("dashboard.round") {
          ctx.tracer.span("streaming.readSlotRollup") {
            TraceStream.readSlotRollup(spark, rollup.toString)
              .filter(col("slot") >= fromMicros / 250000L && col("slot") < toMicros / 250000L)
              .groupBy("Type").agg(sum("n"), sum("sev_sum")).collect()
          }
          ctx.tracer.span("store.timeRange") {
            TraceStore.timeRange(spark, store.toString, new java.sql.Timestamp(fromMicros / 1000),
              new java.sql.Timestamp(toMicros / 1000)).groupBy("Type").count().collect()
          }
        }
      }

      // open-loop generator: one file every LiveIntervalMs from 50 ms after
      // a whole second, never slowed; the window opens after the warm-up
      // arrivals
      val g0 = (System.currentTimeMillis() / 1000 + 1) * 1000 + 50
      val t0 = g0 + LiveWarmArrivals * LiveIntervalMs
      val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val generator = new Thread(() => {
        (0 until k).foreach { i =>
          val due = g0 + i * LiveIntervalMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val f = LivePreStaged + i
          val at = rename(f)
          // freshness counts from when the file was due, so a stall of
          // the generator's own is charged to the files it delayed
          arrived.synchronized(arrived(gen.fileName(f)) = due)
          lateMs.add(at - due)
        }
      })
      generator.start()

      // one closed-loop dashboard client over the same store; rounds that
      // start before the window are its warm-up and are not recorded
      val rounds = mutable.ArrayBuffer.empty[Double]
      var roundFailures = 0L
      val bases = mutable.Set.empty[String]
      val windowEnd = t0 + ctx.seconds * 1000L
      while (System.currentTimeMillis() < windowEnd) {
        val newest = arrived.synchronized(arrived.keys.map(n => files.find(gen.fileName(_) == n).get).max)
        val inWindow = System.currentTimeMillis() >= t0
        val t = System.nanoTime()
        val ok =
          try { dashboard(newest); true }
          catch { case e: Exception =>
            System.err.println(s"[perfbench] dashboard round failed: ${e.getMessage}")
            false
          }
        if (inWindow) {
          rounds += secondsSince(t)
          if (!ok) roundFailures += 1
        }
        if (Files.isDirectory(rollup))
          Files.list(rollup).iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("base-")).foreach(bases += _)
      }
      val windowS = (System.currentTimeMillis() - t0) / 1000.0
      generator.join()
      await("ingest to commit every file")(Progress.committedFiles(ckptIngest).size >= files.size)
      ingest.processAllAvailable()
      ingest.stop()
      follower.processAllAvailable()
      follower.stop()
      // the same client over the settled store: beside the writes its
      // rounds vary with every fold and trigger they overlap (dashboard
      // rounds per second spread 23% across runs, measured on a 4-core
      // box); settled, they still see the store's and the rollup's layout
      val settled = mutable.ArrayBuffer.empty[Double]
      val s0 = System.nanoTime()
      while (secondsSince(s0) < SettledReadS) settled += timed(dashboard(files.last))._2
      val settledS = secondsSince(s0)
      if (Files.isDirectory(rollup))
        Files.list(rollup).iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("base-")).foreach(bases += _)

      val committed = Progress.committedFiles(ckptIngest)
      await("the ingest progress events")(
        committed.values.toSet.subsetOf(ctx.progress.batches("trace-ingest").map(_.batchId).toSet))
      val ingestBatches = ctx.progress.batches("trace-ingest")
      val endByBatch = ingestBatches.map(b => b.batchId -> b.endMs).toMap
      val windowFiles = (LivePreStaged + LiveWarmArrivals) until files.size
      val freshness = windowFiles.flatMap { f =>
        val n = gen.fileName(f)
        committed.get(n).flatMap(endByBatch.get).map(end => (end - arrived(n)) / 1000.0)
      }

      val problems = mutable.ArrayBuffer.empty[String]
      if (freshness.size != windowFiles.size) problems += s"${windowFiles.size - freshness.size} files never committed"
      val (perFile, wrong, _) = checkStored(spark, gen, store, files)
      val storedN = perFile.values.sum
      val quarantinedN = quarantinedLines(spark, store)
      if (wrong > 0) problems += s"$wrong stored rows match no expected row"
      val invisible = invisibleFiles(gen, perFile)
      if (invisible.nonEmpty) problems += s"files whose rows are not all visible: ${invisible.mkString(",")}"
      // the maintained rollup must equal a recomputation over the store
      val recomputed = TraceStore.read(spark, store.toString)
        .groupBy(expr("unix_micros(Time) div 250000").as("slot"), col("Type"))
        .agg(count(lit(1)).as("n"), sum(col("Severity").cast("long")).as("sev_sum"))
      val maintained = TraceStream.readSlotRollup(spark, rollup.toString).filter(col("n") =!= 0)
        .select("slot", "Type", "n", "sev_sum")
      def print(df: DataFrame): Row = {
        val h = xxhash64(col("slot"), col("Type"), col("n"), col("sev_sum"))
        df.agg(count(lit(1)), sum(shiftrightunsigned(h, 32)), sum(h.bitwiseAND(lit(0xffffffffL)))).head()
      }
      val (rollupPrint, recomputedPrint) = (print(maintained), print(recomputed))
      if (rollupPrint != recomputedPrint)
        problems += s"slot rollup differs from recomputation: $rollupPrint vs $recomputedPrint"

      // attempted and failed count lines, a fixed number per run; the
      // dashboard makes as many rounds as the window allows, so a failed
      // round is reported as a problem rather than counted among them
      if (roundFailures > 0) problems += s"$roundFailures of ${rounds.size} dashboard rounds failed"
      val offered = files.size.toLong * TraceGen.LinesPerFile
      val lost = offered - storedN - quarantinedN
      val attempted = offered
      val failed = lost
      val dashboardOk = rounds.size - roundFailures
      val l = new Layers
      storeLayoutLayers(l, store, storedN)
      if (ctx.tracer.enabled) {
        streamingLayers(l, "streaming.ingest", ingestBatches)
        l("streaming.ingest.backlog_max_files") = backlogMaxFiles(ingestBatches, arrived.toMap, committed).toDouble
        val rollupBatches = ctx.progress.batches("trace-cdc-slot-rollup")
        streamingLayers(l, "streaming.rollup", rollupBatches)
        cdcStreamLayers(l, rollupBatches)
        val baseIds = bases.flatMap(_.stripPrefix("base-").toLongOption)
        val latestBase = if (baseIds.isEmpty) -1L else baseIds.max
        l("streaming.rollup.segments_live") = Files.list(rollup).iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("seg-")).flatMap(_.stripPrefix("seg-").toLongOption).count(_ > latestBase).toDouble
        l("streaming.rollup.bases_written") = bases.size.toDouble
        l("store.read.busy_s") = ctx.tracer.busyS(ctx.tracer.named("store.timeRange"))
        val byBatch = committed.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1))
        replayLayers(ctx, l, byBatch.map(watch -> _), offered, warmFile(ctx.dir), None)
      }

      PassResult(inputS + startS + LiveWarmArrivals * LiveIntervalMs / 1000.0, settled.size / settledS,
        Stats.median(freshness),
        Seq(
          "freshness_p50_s" -> Metric(Stats.median(freshness), "s", freshness.size),
          "freshness_p90_s" -> Metric(Stats.quantile(freshness, 0.9), "s", freshness.size),
          "dashboard_p50_s" -> Metric(Stats.median(rounds.toSeq), "s", rounds.size),
          "dashboard_p90_s" -> Metric(Stats.quantile(rounds.toSeq, 0.9), "s", rounds.size),
          "dashboard_rounds_per_s" -> Metric(dashboardOk / windowS, "1/s", rounds.size),
          "settled_dashboard_rounds_per_s" -> Metric(settled.size / settledS, "1/s", settled.size),
          "ops_failed_frac" -> Metric(failed.toDouble / attempted, "1", attempted.toInt)),
        attempted, failed, problems.toSeq, l.m.toMap,
        Map("files" -> fileDetail(gen, files, perFile), "lines_offered" -> offered, "rows_stored" -> storedN,
          "lines_quarantined" -> quarantinedN, "lines_lost" -> lost, "rate_files_per_s" -> 1000.0 / LiveIntervalMs,
          "rate_rows_per_s" -> TraceGen.LinesPerFile * 1000.0 / LiveIntervalMs,
          "generator_late_ms_max" -> (if (lateMs.isEmpty) 0L else lateMs.asScala.map(_.longValue).max),
          "freshness_s" -> freshness, "dashboard_round_s" -> rounds.toSeq, "window_s" -> windowS,
          "settled_round_s" -> settled.toSeq,
          "pipeline_start_s" -> startS, "input_setup_s" -> inputS,
          "ingest_batches" -> ingestBatches.map(batchDetail),
          "rollup_batches" -> ctx.progress.batches("trace-cdc-slot-rollup").map(batchDetail)))
    } finally {
      Seq(ingest, follower).filter(q => q != null && q.isActive).foreach(_.stop())
    }
  }

  // ---------------------------------------------------------------- query_mix

  /** Order-insensitive digest of a result: row count and the sum of
    * per-row hashes. Doubles are compared at 12 significant digits, so
    * summation order inside an aggregate does not change the digest. */
  def digest(rows: Array[Row]): (Long, Long) = {
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).toString
      case f: Float => norm(f.toDouble)
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case xs: collection.Seq[_] => xs.map(norm).mkString("[", ",", "]")
      case m: collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => java.util.Arrays.toString(b)
      case other => other.toString
    }
    (rows.length.toLong, rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(norm(r)).toLong).sum)
  }

  /** Keep a query's first result for the DuckDB oracle comparison
    * (`oracle.py`): column names and rows as JSON, timestamps as UTC
    * `yyyy-MM-dd HH:mm:ss.SSSSSS`. */
  def writeResult(path: Path, columns: Seq[String], rows: Array[Row]): Unit = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
    def plain(v: Any): Any = v match {
      case t: java.sql.Timestamp => fmt.format(t.toInstant)
      case t: java.time.Instant => fmt.format(t)
      case d: java.sql.Date => d.toLocalDate.toString
      case b: java.math.BigDecimal => b.doubleValue
      case r: Row => r.toSeq.map(plain)
      case xs: collection.Seq[_] => xs.map(plain)
      case m: collection.Map[_, _] => m.map { case (k, x) => k.toString -> plain(x) }
      case other => other
    }
    Files.createDirectories(path.getParent)
    Files.write(path, Js.render(Map("columns" -> columns, "rows" -> rows.toSeq.map(r => r.toSeq.map(plain))))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  val MinQueryPasses = 3

  def queryMix(ctx: Ctx): PassResult = {
    val spark = ctx.spark
    val all = graft.SparkEntry.queries
    val missing = ctx.queries.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val pass = ctx.queries.map(q => q -> all(q))
    val resultsDir = ctx.dir.resolve("results")
    // untimed cache-filling pass, which also keeps each result for the
    // DuckDB oracle comparison done after the run
    var writeS = 0.0
    val fillPerQuery = mutable.LinkedHashMap.empty[String, Double]
    val (baseline, fillS) = timed {
      pass.map { case (q, fn) =>
        val ((df, rows), s) = timed { val df = fn(spark, ctx.tables); (df, df.collect()) }
        fillPerQuery(q) = s
        writeS += timed(writeResult(resultsDir.resolve(s"$q.json"), df.schema.fieldNames.toSeq, rows))._2
        q -> digest(rows)
      }.toMap
    }
    mark(f"cache filled: ${fillS}%.2f s, of which result writes ${writeS}%.2f s")
    val execs = mutable.ArrayBuffer.empty[(String, Double)]
    val passes = mutable.ArrayBuffer.empty[(Double, Double)] // (median latency, executions per second)
    var failures = 0L
    var wrong = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    // whole short passes, at least three, so every query weighs the same;
    // the end-to-end numbers are medians over passes, so a host stall that
    // slows one pass does not move them
    while (passes.size < MinQueryPasses || secondsSince(t0) < ctx.seconds) {
      val p0 = System.nanoTime()
      val before = execs.size
      pass.foreach { case (q, fn) =>
        val t = System.nanoTime()
        try {
          val rows = ctx.tracer.spanWith[Array[Row]]("queries.run", _.length.toLong) { fn(spark, ctx.tables).collect() }
          val d = digest(rows)
          if (d != baseline(q)) { wrong += 1; problems += s"$q: result differs from its first execution" }
        } catch { case e: Exception =>
          failures += 1
          problems += s"$q failed: ${e.getMessage}"
        }
        execs += q -> secondsSince(t)
      }
      passes += ((Stats.median(execs.drop(before).map(_._2).toSeq), pass.size / secondsSince(p0)))
    }
    val lat = execs.map(_._2).toSeq
    val perQuery = execs.groupBy(_._1).map { case (q, xs) => q -> Stats.median(xs.map(_._2).toSeq) }
    val l = new Layers
    val tr = ctx.tracer
    if (tr.enabled) {
      tr.finish()
      val runs = tr.named("queries.run")
      val ts = tr.tasksIn(runs)
      val qes = tr.qesIn(runs)
      l("queries.analysis_s") = qes.map(_.analysisMs).sum / 1000.0
      l("queries.optimization_s") = qes.map(_.optimizationMs).sum / 1000.0
      l("queries.planning_s") = qes.map(_.planningMs).sum / 1000.0
      l("queries.jobs") = tr.jobsIn(runs).toDouble
      l("queries.stages") = tr.stagesIn(runs).toDouble
      l("queries.tasks") = ts.size.toDouble
      l("queries.driver_gap_s") = runs.map(tr.driverGapMs).sum / 1000.0
      l("queries.exec_run_s") = ts.map(_.runMs).sum / 1000.0
      l("queries.exec_cpu_s") = ts.map(_.cpuNs).sum / 1e9
      l("queries.gc_s") = ts.map(_.gcMs).sum / 1000.0
      l("queries.shuffle_read_bytes") = ts.map(_.shuffleReadBytes).sum.toDouble
      l("queries.shuffle_fetch_wait_s") = ts.map(_.fetchWaitMs).sum / 1000.0
    }
    val perQueryLayers: Seq[Map[String, Any]] =
      if (!tr.enabled) Nil
      else tr.named("queries.run").zip(execs.map(_._1)).map { case (s, q) =>
        val one = Seq(s)
        val ts = tr.tasksIn(one)
        Map("query" -> q, "wall_ms" -> (s.endMs - s.startMs), "jobs" -> tr.jobsIn(one), "tasks" -> ts.size,
          "driver_gap_ms" -> tr.driverGapMs(s), "exec_cpu_ms" -> ts.map(_.cpuNs).sum / 1000000,
          "planning_ms" -> tr.qesIn(one).map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum)
      }
    PassResult(ctx.tablesSetupS + fillS, Stats.median(passes.map(_._2).toSeq), Stats.median(passes.map(_._1).toSeq),
      Seq(
        "query_p50_s" -> Metric(Stats.median(lat), "s", lat.size),
        "query_p90_s" -> Metric(Stats.quantile(lat, 0.9), "s", lat.size),
        "query_total_s" -> Metric(perQuery.values.sum, "s", perQuery.size),
        "ops_failed_frac" -> Metric((failures + wrong).toDouble / execs.size, "1", execs.size)),
      execs.size.toLong, failures + wrong, problems.toSeq.distinct, l.m.toMap,
      Map("queries" -> ctx.queries,
        "per_query_median_s" -> perQuery, "cache_fill_s" -> fillS,
        "cache_fill_per_query_s" -> fillPerQuery, "result_write_s" -> writeS,
        "tables_setup_s" -> ctx.tablesSetupS, "executions" -> execs.size, "passes" -> passes.map { case (m, r) => Map("median_s" -> m, "executions_per_s" -> r) },
        "digests" -> baseline.map { case (q, (n, h)) => q -> Map("rows" -> n, "hash" -> h) },
        "per_execution" -> perQueryLayers))
  }
}
