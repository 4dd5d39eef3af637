package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.TraceStore

/** Scale probe for the `graft-cdc` streaming source — measures the
  * claims the 100 TB design rests on, as numbers rather than arguments:
  *
  *  1. '''Bootstrap is bounded''': with `maxFilesPerTrigger`, the
  *     initial load arrives as manifest slices whose per-batch row count
  *     is set by the chunk size, NOT by the table — a 10× table means
  *     ~10× more chunks of the same size, never a 10× batch.
  *  2. '''Incremental cost tracks the CHANGES, not the table''': after
  *     the bootstrap, delivering a FIXED-size append costs the same on a
  *     1× store and a 10× store (file-set pruning: the untouched bulk
  *     never appears in the micro-batch's plan).
  *  3. '''Post-bootstrap diffs are bounded too''': a DELETE WHERE that
  *     rewrites HALF the store (the table-scale maintenance shape)
  *     arrives as worklist slices of at most `maxFilesPerTrigger` files
  *     — max batch rows set by the chunk, batch COUNT by the rewrite.
  *  4. '''Idle polls are O(partitions), not O(files)''': once a poll
  *     certifies the store idle, subsequent polls ride a month-dir
  *     fingerprint (one stat per partition dir) instead of re-listing
  *     the live file set — flat wall time from 1× to 100× file count.
  *
  * Store shape mirrors ScaleProbe's replication (shifted entity ids over
  * the same calendar). The probe prints one JSON line per scale:
  * bootstrap wall time + chunk census (count, max rows), the
  * fixed-increment wall time + rows, the half-store delete census, and
  * idle-poll latencies (fingerprint-cached vs full listing). Run on a
  * quiet machine; the AvailableNow harness start/stop (~1 s) rides every
  * number equally.
  *
  * Usage:
  *   runMain graft.tools.CdcProbe [K[,K2,…]]      (default 1,10)
  *   runMain graft.tools.CdcProbe multi [K] [Ns]  concurrent followers
  *     at K× (default 10) for each N in Ns (default 1,4,8): N streams
  *     each pinning independently while DELETE WHERE maintenance runs;
  *     retired-file retention must be bounded by the SLOWEST reader's
  *     lag and reclaimed once every follower commits.
  */
object CdcProbe {

  // the same events→trace mapping as the oracle-gated queries, so the
  // probe's store shape can never drift from theirs
  private def asTrace(ev: DataFrame): DataFrame =
    graft.store.ChangeFeedQuery.asTrace(ev)

  private def session(): SparkSession = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      // at probe scale AQE would coalesce the write splits down to 1-2
      // files per append and there would be nothing to chunk; a real
      // store's files are batch-sized by the ingest cadence, which is
      // the layout this probe emulates
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def buildStore(spark: SparkSession, ev: DataFrame, k: Int,
                         name: String, splits: Int = 16): String = {
    val store = graft.util.TmpDirs.scratch(s"$name-x$k")
    // one commit per replica at ingest-like write splits: the store's
    // file count grows with the data (the shape a micro-batched ingest
    // actually leaves), so the chunked paths have files to chunk
    (0 until k).foreach { c =>
      TraceStore.append(asTrace(ev
        .withColumn("event_id", col("event_id") + lit(c.toLong * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(c.toLong * 1000000000L))),
        store, splitsPerMonth = splits)
    }
    store
  }

  private def retiredCount(store: String): Int = {
    val p = java.nio.file.Paths.get(store, "_retired")
    if (!java.nio.file.Files.exists(p)) 0
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("multi")) multi(args.drop(1))
    else if (args.headOption.contains("clustered")) clustered(args.drop(1))
    else if (args.headOption.contains("index")) index(args.drop(1))
    else if (args.headOption.contains("fold")) fold(args.drop(1))
    else if (args.headOption.contains("slots")) slots(args.drop(1))
    else if (args.headOption.contains("months")) months(args.drop(1))
    else if (args.headOption.contains("fleet")) fleet(args.drop(1))
    else single(args)

  /** The slot-rollup storage cost model at inflated slot cardinality:
    * a sub-second slot table's key space is time-span-proportional (a
    * multi-year micros store at 250 ms slots is ~10⁹ groups), so
    * `followSlotRollup` stores SEGMENTS — O(delta) appends plus
    * amortized folds. On a planted M-slot table, `upsertSegment`'s
    * per-batch wall must stay FLAT as M grows (the delta never touches
    * the table); the one fold is timed separately and amortizes over
    * `compactOver`. (On a 4-core box, rewriting the whole table per
    * batch took 2.0–2.4 s at M = 10⁶, against 0.15–0.19 s per segment
    * append — why every maintained table is a segment store.)
    *
    *   runMain graft.tools.CdcProbe slots [M[,M2,…]]
    *     (default 1000000,10000000)
    */
  private def slots(args: Array[String]): Unit = {
    val ms = args.headOption.map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(1000000L, 10000000L))
    val spark = session()
    import spark.implicits._
    val lines = ms.map { m =>
      val seg = graft.util.TmpDirs.scratch(s"cdcslots-seg-$m")
      spark.range(m).select(col("id").as("slot"), lit("t").as("Type"),
          lit(1L).as("n"), col("id").as("sev_sum"))
        .write.parquet(s"$seg/seed-0")
      def putSeg(id: Long, co: Int): Double = {
        val t0 = System.nanoTime()
        graft.streaming.TraceStream.upsertSegment(spark,
          Seq((m + id, "t", 1L, 1L)).toDF("slot", "Type", "n", "sev_sum"),
          id, seg, "probe", Seq("slot", "Type"), Seq("n", "sev_sum"),
          compactOver = co)
        (System.nanoTime() - t0) / 1e9
      }
      // appends only (the steady-state batch): compactOver high enough
      // that no fold runs inside the measured window
      val appends = (0L until 4L).map(putSeg(_, co = 100))
      // then ONE fold, timed apart — the amortized O(table) step
      val foldS = putSeg(4L, co = 4)
      val segMed = appends.sorted.apply(appends.size / 2)
      val line = f"""{"probe":"slots","slots":$m,"seg_append_med_s":$segMed%.3f,""" +
        f""""seg_fold_s":$foldS%.3f}"""
      println(line); line
    }
    println(lines.mkString("\n"))
    spark.stop()
  }

  /** The base fold at inflated bucket cardinality: serial (the r12
    * `coalesce(1)` shape, forced with a huge `baseFileBytes`) vs
    * size-targeted parallel (the default). The index is a synthetic
    * M-bucket census planted as the seed part (parallel write, exactly
    * what `seedIndex` produces), plus enough trickle segments to trigger
    * a compaction; the measured wall is the `upsertSegment` compaction
    * call. At corpus-scale cardinality the fold must scale with cores,
    * not serialize through one write task.
    *
    *   runMain graft.tools.CdcProbe fold [M]   (default 20000000 buckets)
    */
  private def fold(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = session()
    import spark.implicits._
    def arm(tag: String, baseBytes: Long): String = {
      val idx = graft.util.TmpDirs.scratch(s"cdcfold-$tag")
      // plant the seed census: M buckets, hash-spread keys (random keys
      // don't compress — the honest byte footprint of a real bucket table)
      spark.range(m).select(
        (col("id") % 2).cast("int").as("band"),
        xxhash64(col("id")).as("bkey"),
        lit(1L).as("n"))
        .write.parquet(s"$idx/seed-0")
      val bytes = {
        val p = new org.apache.hadoop.fs.Path(s"$idx/seed-0")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      }
      def put(id: Long, rows: (Int, Long, Long)*): Unit =
        graft.streaming.TraceStream.upsertSegment(spark,
          rows.toSeq.toDF("band", "bkey", "n"), id, idx, "probe",
          Seq("band", "bkey"), Seq("n"), compactOver = 2, baseFileBytes = baseBytes)
      put(0, (0, 1L, 1L)); put(1, (0, 2L, 1L))
      val t0 = System.nanoTime()
      put(2, (0, 3L, 1L)) // 3rd state change → the compaction under test
      val foldS = (System.nanoTime() - t0) / 1e9
      val baseDir = new java.io.File(idx).listFiles
        .find(f => f.getName.startsWith("base-")).get
      val parts = baseDir.listFiles.count(_.getName.endsWith(".parquet"))
      f""""$tag":{"input_bytes":$bytes,"fold_s":$foldS%.2f,"base_files":$parts}"""
    }
    val serial = arm("serial", Long.MaxValue)
    val parallel = arm("parallel", graft.streaming.TraceStream.DefaultBaseFileBytes)
    val line = s"""{"metric":"cdc_fold","buckets":$m,$serial,$parallel}"""
    System.err.println(s"[cdcprobe-fold] $line")
    println(line)
    spark.stop()
  }

  /** Month-scoped STREAMING catch-up under a table-scale rewrite: the
    * spread store (replica c → month +c), a half-store DELETE WHERE, and
    * then a month-scoped stream (`months=<first month>`) vs an unscoped
    * control — both pinned BEFORE the rewrite, both draining the same
    * diff. The scoped catch-up's wall must stay flat as k grows (its
    * worklist is the one month's changes); the unscoped control grows
    * with the rewrite.
    *
    *   runMain graft.tools.CdcProbe months [K[,K2,…]]   (default 10,100)
    */
  private def months(args: Array[String]): Unit = {
    val ks = args.headOption.map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(10, 100))
    val spark = session()
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.1")
    val lines = ks.map { k =>
      val spread = graft.util.TmpDirs.scratch(s"cdcmonths-spread-x$k")
      (0 until k).foreach { c =>
        TraceStore.append(asTrace(ev
          .withColumn("ts", col("ts") + expr(s"INTERVAL $c MONTH"))
          .withColumn("event_id", col("event_id") + lit(c.toLong * 1000000000L))
          .withColumn("user_id", col("user_id") + lit(c.toLong * 1000000000L))),
          spread, splitsPerMonth = 16)
      }
      val m0 = TraceStore.read(spark, spread)
        .agg(min(col("ym"))).collect()(0).getString(0)
      var rows = 0L
      val sink: (DataFrame, Long) => Unit = (df, _) => { rows += df.count(); () }
      def drain(ck: String, opts: Map[String, String]): Double = {
        val r = spark.readStream.format("graft-cdc")
          .option("path", spread).options(opts)
          .option("maxFilesPerTrigger", "64")
          .load()
          .writeStream.option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch(sink).start()
        val t0 = System.nanoTime()
        r.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      val scopedCk = graft.util.TmpDirs.scratch(s"cdcmonths-sck-x$k")
      val ctlCk = graft.util.TmpDirs.scratch(s"cdcmonths-cck-x$k")
      val scopedOpts = Map("initialLoad" -> "true", "months" -> s"=$m0")
      val ctlOpts = Map("initialLoad" -> "true")
      drain(scopedCk, scopedOpts) // scoped bootstrap pins pre-rewrite
      drain(ctlCk, ctlOpts)       // control pins the same state
      TraceStore.deleteWhere(spark, spread,
        pmod(col("Severity"), lit(2)) === 0, splitsPerMonth = 16)
      rows = 0L
      val scopedS = drain(scopedCk, scopedOpts)
      val scopedRows = rows
      rows = 0L
      val ctlS = drain(ctlCk, ctlOpts)
      val ctlRows = rows
      val line = f""""x$k":{"month":"$m0","scoped_catchup_s":$scopedS%.2f,""" +
        f""""scoped_rows":$scopedRows,"full_catchup_s":$ctlS%.2f,"full_rows":$ctlRows}"""
      System.err.println(s"[cdcprobe-months] $line")
      line
    }
    println(lines.mkString("""{"metric":"cdc_months",""", ",", "}"))
    spark.stop()
  }

  /** Fleet drain latency vs `maxStoresPerTrigger`: N stores each with
    * ONE small change; a k=1 drain takes ~N triggers (the r12 shape), a
    * k-advance drain takes ~N/k — same budgets, same batches' bound,
    * fewer trigger round-trips.
    *
    *   runMain graft.tools.CdcProbe fleet [N] [Ks]   (default 16, 1,4)
    */
  private def fleet(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(16)
    val ks = args.drop(1).headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 4))
    val spark = session()
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.01")
    val small = asTrace(ev.filter(pmod(col("event_id"), lit(256L)) === 0))
    val incr = asTrace(ev.filter(pmod(col("event_id"), lit(256L)) === 1)
      .withColumn("event_id", col("event_id") + lit(900L * 1000000000L)))
    val lines = ks.map { k =>
      val stores = (0 until n).map { i =>
        val s = graft.util.TmpDirs.scratch(s"cdcfleet-k$k-s$i")
        TraceStore.append(small, s, splitsPerMonth = 1)
        s
      }
      val ck = graft.util.TmpDirs.scratch(s"cdcfleet-ck-k$k")
      var batches = 0
      val sink: (DataFrame, Long) => Unit = (df, _) => { df.count(); batches += 1; () }
      def drain(): Double = {
        val q = spark.readStream.format("graft-cdc")
          .option("paths", stores.mkString(","))
          .option("initialLoad", "true")
          .option("maxFilesPerTrigger", "64")
          .option("maxStoresPerTrigger", k.toString)
          .load()
          .writeStream.option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch(sink).start()
        val t0 = System.nanoTime()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      val bootS = drain()
      val bootBatches = batches
      // one trickle change per store — the catch-up the cursor fairness
      // and k-advance exist for
      stores.foreach(s => TraceStore.append(incr, s, splitsPerMonth = 1))
      batches = 0
      val catchS = drain()
      val line = f""""k$k":{"boot_s":$bootS%.2f,"boot_batches":$bootBatches,""" +
        f""""catchup_s":$catchS%.2f,"catchup_batches":$batches}"""
      System.err.println(s"[cdcprobe-fleet] $line")
      line
    }
    println(lines.mkString(s"""{"metric":"cdc_fleet","stores":$n,""", ",", "}"))
    spark.stop()
  }

  /** followIndex maintenance cost vs store scale: bootstrap the
    * band-bucket index at k×, then deliver a FIXED-size append and a
    * small DELETE WHERE and time each catch-up pass. The signed delta
    * is O(changed rows) at every scale; since round 12 the store is
    * SEGMENTED (O(delta) appends, a fold every compactOver-th change),
    * so steady-state catch-up is amortized O(delta + index/compactOver)
    * — and since round 13 the fold itself writes size-targeted
    * multi-file bases (`CdcProbe fold` measures that arm directly).
    *
    *   runMain graft.tools.CdcProbe index [K[,K2,…]]   (default 1,10)
    */
  private def index(args: Array[String]): Unit = {
    val ks = args.headOption.map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(1, 10))
    val spark = session()
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.1")
    val incr = asTrace(ev.filter(pmod(col("event_id"), lit(64L)) === 0)
      .withColumn("event_id", col("event_id") + lit(900L * 1000000000L)))
    val lines = ks.map { k =>
      val store = buildStore(spark, ev, k, "cdcidx-store")
      val idx = graft.util.TmpDirs.scratch(s"cdcidx-index-x$k")
      val ck = graft.util.TmpDirs.scratch(s"cdcidx-ck-x$k")
      def catchUp(): Double = {
        val t0 = System.nanoTime()
        val q = graft.streaming.TraceStream.followIndex(spark, store, idx, ck,
          maxFilesPerTrigger = Some(64))
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      val bootS = catchUp()
      val idxRows = graft.streaming.TraceStream.readIndex(spark, idx).count()
      TraceStore.append(incr, store, splitsPerMonth = 4)
      val incS = catchUp()
      TraceStore.deleteWhere(spark, store,
        col("Severity") === 0, splitsPerMonth = 16)
      val delS = catchUp()
      val idleS = catchUp()

      // the corpus-scale bootstrap alternative: ONE batch census over a
      // pinned snapshot (seedIndex), then stream only the changes after
      // the pin — vs the chunked streaming bootstrap above, which
      // re-folds the growing index every compactOver-th batch
      val store2 = buildStore(spark, ev, k, "cdcidx-seedstore")
      val idx2 = graft.util.TmpDirs.scratch(s"cdcidx-seedindex-x$k")
      val ck2 = graft.util.TmpDirs.scratch(s"cdcidx-seedck-x$k")
      val pin = TraceStore.snapshot(store2)
      val s0 = System.nanoTime()
      graft.streaming.TraceStream.seedIndex(spark, store2, pin, idx2)
      val seedS = (System.nanoTime() - s0) / 1e9
      TraceStore.append(incr, store2, splitsPerMonth = 4)
      val s1 = System.nanoTime()
      val q2 = graft.streaming.TraceStream.followIndex(spark, store2, idx2, ck2,
        maxFilesPerTrigger = Some(64), startingSnapshot = Some(pin))
      q2.awaitTermination()
      val seedIncS = (System.nanoTime() - s1) / 1e9

      val line = f""""x$k":{"index_rows":$idxRows,"bootstrap_s":$bootS%.2f,""" +
        f""""incr_catchup_s":$incS%.2f,"del_catchup_s":$delS%.2f,""" +
        f""""idle_catchup_s":$idleS%.2f,""" +
        f""""seed_s":$seedS%.2f,"seed_incr_catchup_s":$seedIncS%.2f}"""
      System.err.println(s"[cdcprobe-index] $line")
      line
    }
    println(lines.mkString("""{"metric":"cdc_index","incr_rows_fixed":true,""", ",", "}"))
    spark.stop()
  }

  /** The q230 batch read against a CLUSTERED layout — DRIFT_r11 §10's
    * probe re-run where the filter key matches the physical order: the
    * same half-store DELETE WHERE, on (a) the default Time layout and
    * (b) a `clusterMonths(Machine, Time)` store whose maintenance
    * preserves the clustering. On (a) `Machine` values saturate every
    * row group, so the pushed filter cannot skip and the ~25% win is
    * decode-only; on (b) each file/row group holds a narrow Machine
    * range, so min/max stats + blooms skip most candidate row groups.
    * The skipping observable is the scan's own `numOutputRows` — rows
    * the parquet reader actually DECODED under the pushed filter — on a
    * direct store scan ([[Shim.countWithScanRows]]; task bytes-read
    * metrics mis-attribute under the relation's nested plan), alongside
    * the relation reads' end-to-end wall.
    *
    *   runMain graft.tools.CdcProbe clustered [K[,K2,…]]   (default 10)
    */
  private def clustered(args: Array[String]): Unit = {
    import org.apache.spark.sql.graftshim.Shim
    val ks = args.headOption.map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(10))
    val spark = session()
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.1")
    val lines = ks.map { k =>
      def arm(tag: String, layout: Seq[String]): String = {
        val store = buildStore(spark, ev, k, s"cdcclu-$tag")
        if (layout != Seq("Time"))
          TraceStore.clusterMonths(spark, store, layout, splitsPerMonth = 16 * k)
        val p1 = TraceStore.snapshot(store)
        TraceStore.deleteWhere(spark, store,
          pmod(col("Severity"), lit(2)) === 0,
          splitsPerMonth = 16 * k, layoutBy = layout)
        val p2 = TraceStore.snapshot(store)
        def read(f: DataFrame => DataFrame): (Double, Long) = {
          val t0 = System.nanoTime()
          val n = f(spark.read.format("graft-cdc").option("path", store)
            .option("startingSnapshot", p1).option("endingSnapshot", p2)
            .load()).count()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val (fs, fn) = read(identity)
        val (ms, mn) = read(_.filter(col("Machine") === "m3"))
        // row-group skipping, observed directly: a filtered scan of the
        // post-rewrite store — decoded rows ≈ total on the scattered
        // layout (nothing skips), ≈ the machine's share on the clustered
        val t0 = System.nanoTime()
        val (dn, decoded) = Shim.countWithScanRows(
          TraceStore.read(spark, store).filter(col("Machine") === "m3"))
        val ds = (System.nanoTime() - t0) / 1e9
        f""""${tag}_full_s":$fs%.2f,"${tag}_full_rows":$fn,""" +
          f""""${tag}_filt_s":$ms%.2f,"${tag}_filt_rows":$mn,""" +
          f""""${tag}_scan_s":$ds%.2f,"${tag}_scan_rows":$dn,"${tag}_scan_decoded":$decoded"""
      }
      val line = s""""x$k":{${arm("time", Seq("Time"))},${arm("mach", Seq("Machine", "Time"))}}"""
      System.err.println(s"[cdcprobe-clustered] $line")
      line
    }
    println(lines.mkString("""{"metric":"cdc_clustered",""", ",", "}"))
    spark.stop()
  }

  private def single(args: Array[String]): Unit = {
    val ks = args.headOption.map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(1, 10))
    val base = "/root/testdata/sf0.1"
    val spark = session()
    val ev = graft.tables.Tables.events(spark, base)

    // the fixed increment: the same absolute rows at every scale (1/64th
    // of the BASE events, ids shifted clear of every replica range)
    val incr = asTrace(ev.filter(pmod(col("event_id"), lit(64L)) === 0)
      .withColumn("event_id", col("event_id") + lit(900L * 1000000000L)))

    val lines = ks.map { k =>
      val store = buildStore(spark, ev, k, "cdcprobe-store")
      val ck = graft.util.TmpDirs.scratch(s"cdcprobe-ck-x$k")
      val nFiles = TraceStore.snapshotFileCount(store, TraceStore.snapshot(store))

      // chunked bootstrap under a CONTINUOUS query: chunks flow
      // back-to-back inside one run; census per batch
      val batchRows = scala.collection.mutable.ArrayBuffer[Long]()
      val sink: (DataFrame, Long) => Unit = (df, _) => { batchRows += df.count(); () }
      def openStream() = spark.readStream.format("graft-cdc")
        .option("path", store)
        .option("initialLoad", "true")
        .option("maxFilesPerTrigger", "8")
        // byte budget composes with the file budget: batches stay
        // size-bounded even where file counts mislead
        .option("maxBytesPerTrigger", (4L * 1024 * 1024).toString)
        .load()
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch(sink)
        .start()
      val q = openStream()
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val bootS = (System.nanoTime() - t0) / 1e9
      val (nChunks, maxChunk) = (batchRows.size, batchRows.max)

      // fixed-size increment on the SAME running stream: this wall time
      // must be ~flat across k (pruned to the appended files only)
      batchRows.clear()
      TraceStore.append(incr, store, splitsPerMonth = 4)
      val t1 = System.nanoTime()
      q.processAllAvailable()
      val incS = (System.nanoTime() - t1) / 1e9
      val incRows = batchRows.sum
      q.stop()

      // post-bootstrap admission control: DELETE WHERE rewriting HALF
      // of every month — the table-scale maintenance shape. Run between
      // triggers (the documented cadence), then drained as worklist
      // slices: max batch rows must stay chunk-sized at every scale.
      // The rewrite's splits scale with k so its output files stay
      // ingest-sized (a real store's maintenance honors the same
      // file-size policy as its ingest — k× the data is k× more files
      // of the same size, exactly the replication philosophy of the
      // store build above); the byte budget then bounds every batch
      batchRows.clear()
      val preDel = TraceStore.snapshot(store) // user pin: the batch read's base
      TraceStore.deleteWhere(spark, store,
        pmod(col("Severity"), lit(2)) === 0, splitsPerMonth = 16 * k)
      val t2 = System.nanoTime()
      val q2 = openStream()
      q2.processAllAvailable()
      val delS = (System.nanoTime() - t2) / 1e9
      q2.stop()
      val (delChunks, delMaxChunk, delRows) =
        (batchRows.size, batchRows.max, batchRows.sum)

      // batch (table_changes) read of the same rewrite: full diff vs a
      // one-machine filter pushed BELOW the diff into the parquet scans
      // of both candidate sides — the filtered read's advantage must
      // come from rows skipped at the scan, and both are exact
      val postDel = TraceStore.snapshot(store)
      def timeRead(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
          : (Double, Long) = {
        val b0 = System.nanoTime()
        val n = f(spark.read.format("graft-cdc").option("path", store)
          .option("startingSnapshot", preDel).option("endingSnapshot", postDel)
          .load()).count()
        ((System.nanoTime() - b0) / 1e9, n)
      }
      val (fullS, fullN) = timeRead(identity)
      val (filtS, filtN) = timeRead(_.filter(col("Machine") === "m3"))
      TraceStore.dropSnapshot(store, preDel)
      TraceStore.dropSnapshot(store, postDel)
      TraceStore.vacuumSnapshots(store)

      // partition-level worklist pruning: a ONE-MONTH consumer of a
      // table-scale rewrite. The base events calendar is a single month,
      // so this store SPREADS the replicas across k months (replica c →
      // month +c, the retention-shaped calendar a real trace store has);
      // files-opened must be ∝ the selected month's changes (worklist
      // pruned at metadata level, before any I/O), not the rewrite's
      // full worklist
      val spread = graft.util.TmpDirs.scratch(s"cdcprobe-spread-x$k")
      (0 until k).foreach { c =>
        TraceStore.append(asTrace(ev
          .withColumn("ts", col("ts") + expr(s"INTERVAL $c MONTH"))
          .withColumn("event_id", col("event_id") + lit(c.toLong * 1000000000L))
          .withColumn("user_id", col("user_id") + lit(c.toLong * 1000000000L))),
          spread, splitsPerMonth = 16)
      }
      val sp1 = TraceStore.snapshot(spread)
      TraceStore.deleteWhere(spark, spread,
        pmod(col("Severity"), lit(2)) === 0, splitsPerMonth = 16)
      val sp2 = TraceStore.snapshot(spread)
      val worklist = TraceStore.changedKeysBetween(spread, sp1, sp2)
      def monthOf(key: String) = key.takeWhile(_ != '/').stripPrefix("ym=")
      val m0 = worklist.map(w => monthOf(w._1)).min
      val monthFiles = worklist.count(w => monthOf(w._1) == m0)
      def timeSpread(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
          : (Double, Long) = {
        val b0 = System.nanoTime()
        val n = f(spark.read.format("graft-cdc").option("path", spread)
          .option("startingSnapshot", sp1).option("endingSnapshot", sp2)
          .load()).count()
        ((System.nanoTime() - b0) / 1e9, n)
      }
      val (allS, allN) = timeSpread(identity)
      val (monthS, monthN) = timeSpread(_.filter(col("ym") === m0))

      // idle-poll latency on the real source poll path: first poll pins,
      // second certifies idle + arms the fingerprint; the steady-state
      // median must be flat across k (O(month dirs), not O(files)),
      // vs. the full-listing check re-run per poll for contrast
      import org.apache.spark.sql.connector.read.streaming.ReadLimit
      val meta = graft.util.TmpDirs.scratch(s"cdcprobe-idlemeta-x$k")
      val src = new graft.sources.CdcSource(spark.sqlContext, store, meta,
        None, false, true, None)
      val off = src.latestOffset(null, ReadLimit.allAvailable())
      src.latestOffset(off, ReadLimit.allAvailable()) // certify + arm
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      val polls = (1 to 30).map { _ =>
        val p0 = System.nanoTime()
        src.latestOffset(off, ReadLimit.allAvailable())
        (System.nanoTime() - p0) / 1e6
      }
      val id = graft.sources.CdcOffset.of(off).snapshotId
      val fulls = (1 to 10).map { _ =>
        val p0 = System.nanoTime()
        TraceStore.snapshotMatchesLive(store, id)
        (System.nanoTime() - p0) / 1e6
      }

      val line = f""""x$k":{"files":$nFiles,"bootstrap_s":$bootS%.2f,""" +
        f""""chunks":$nChunks,"max_chunk_rows":$maxChunk,""" +
        f""""incr_s":$incS%.2f,"incr_rows":$incRows,""" +
        f""""del_s":$delS%.2f,"del_chunks":$delChunks,""" +
        f""""del_max_chunk_rows":$delMaxChunk,"del_rows":$delRows,""" +
        f""""batch_full_s":$fullS%.2f,"batch_full_rows":$fullN,""" +
        f""""batch_filt_s":$filtS%.2f,"batch_filt_rows":$filtN,""" +
        f""""spread_worklist_files":${worklist.size},"spread_month_files":$monthFiles,""" +
        f""""spread_full_s":$allS%.2f,"spread_full_rows":$allN,""" +
        f""""spread_month_s":$monthS%.2f,"spread_month_rows":$monthN,""" +
        f""""idle_poll_ms":${med(polls)}%.2f,"idle_full_ms":${med(fulls)}%.2f}"""
      System.err.println(s"[cdcprobe] $line")
      line
    }
    println(lines.mkString("""{"metric":"cdc_probe","chunk_files":8,""", ",", "}"))
    spark.stop()
  }

  /** N concurrent followers over ONE store under maintenance: the
    * retired-file coexistence contract, measured. Each follower pins its
    * own offsets; after a DELETE WHERE retires files, the retired set
    * must persist while ANY follower still references it (bounded by the
    * slowest reader's lag) and vacuum must reclaim it once every
    * follower has committed past the rewrite. */
  private def multi(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val ns = args.drop(1).headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 4, 8))
    val spark = session()
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.1")

    val lines = ns.map { n =>
      val store = buildStore(spark, ev, k, s"cdcmulti-store-n$n")
      val cks = (0 until n).map(i =>
        graft.util.TmpDirs.scratch(s"cdcmulti-ck-n$n-f$i"))
      def drain(ck: String): Double = {
        val q = spark.readStream.format("graft-cdc")
          .option("path", store).option("initialLoad", "true")
          .option("maxFilesPerTrigger", "64")
          .load()
          .writeStream.option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch((df: DataFrame, _: Long) => { df.count(); () })
          .start()
        val t0 = System.nanoTime()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      cks.foreach(drain) // every follower bootstraps and pins the state

      // maintenance between triggers: retire ~half of every month
      TraceStore.deleteWhere(spark, store,
        pmod(col("Severity"), lit(2)) === 0, splitsPerMonth = 16)
      val r0 = retiredCount(store)

      // the fastest follower catches up; stragglers still pin the old
      // state, so vacuum must NOT reclaim (lag-bounded retention)
      val firstS = drain(cks.head)
      TraceStore.vacuumSnapshots(store)
      val r1 = retiredCount(store)

      // every follower commits past the rewrite → reclaimable. Commit-GC
      // lags one batch (the engine commits N-1 when constructing N), so
      // a final tiny append + drain is what retires each follower's
      // pre-delete pin before the last vacuum
      val restS = cks.tail.map(drain)
      TraceStore.append(asTrace(ev
        .filter(pmod(col("event_id"), lit(4096L)) === 0)
        .withColumn("event_id", col("event_id") + lit(950L * 1000000000L))),
        store, splitsPerMonth = 1)
      cks.foreach(drain)
      TraceStore.vacuumSnapshots(store)
      val r2 = retiredCount(store)

      val drains = (firstS +: restS).map(s => f"$s%.2f").mkString("[", ",", "]")
      val line = f""""n$n":{"retired_after_delete":$r0,""" +
        f""""retired_after_first":$r1,"retired_after_all":$r2,""" +
        f""""follower_drain_s":$drains}"""
      System.err.println(s"[cdcprobe-multi] $line")
      line
    }
    println(lines.mkString(s"""{"metric":"cdc_multi","scale":$k,""", ",", "}"))
    spark.stop()
  }
}
