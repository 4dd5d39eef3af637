package graft.streaming

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.store.TraceStore

/** End-to-end streaming ingest smoke (SURVEY.md §5.2 item 5): rotated
  * files → micro-batches → partitioned store, with checkpoint-based
  * incremental restart (the reference's delete-on-success ack, A13, made
  * exactly-once) and sentinel shutdown (A4). */
class StreamSpec extends SparkSpec {

  private def writeTrace(dir: String, name: String, t0: Long, n: Int): Unit = {
    val lines = (0 until n).map { i =>
      s"""{"Severity": 10, "Machine": "127.0.0.1:4500", "LogGroup": "default", "Time": ${t0 + i}.25, "Type": "Role", "ID": "id$i"}"""
    }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)
  }

  test("AvailableNow drains rotated files into the partitioned table") {
    val watch = tmpDir("watch"); val table = tmpDir("table"); val ckpt = tmpDir("ckpt")
    writeTrace(watch, "trace.1.json", 1557761852L, 5)
    writeTrace(watch, "trace.2.json", 1557761900L, 7)
    Files.write(Paths.get(watch, "notatrace.txt"), "skip me".getBytes)

    val cfg = TraceStream.Config(watch, table, ckpt)
    val q = TraceStream.start(spark, cfg)
    q.awaitTermination()
    assert(TraceStore.read(spark, table).count() == 12)

    // restart with one new file: checkpoint must replay only the new one
    writeTrace(watch, "trace.3.json", 1557762000L, 3)
    val q2 = TraceStream.start(spark, cfg)
    q2.awaitTermination()
    assert(TraceStore.read(spark, table).count() == 15)
  }

  test("schema evolution mid-stream: the next micro-batch null-fills the new column") {
    val watch = tmpDir("watch-evo"); val table = tmpDir("table-evo"); val ckpt = tmpDir("ckpt-evo")
    writeTrace(watch, "trace.1.json", 1557761852L, 4)
    val cfg = TraceStream.Config(watch, table, ckpt)
    TraceStream.start(spark, cfg).awaitTermination()
    // evolve between micro-batch runs — a live operator action
    TraceStore.evolveSchema(table,
      org.apache.spark.sql.types.StructField("Region",
        org.apache.spark.sql.types.StringType, nullable = true))
    writeTrace(watch, "trace.2.json", 1557761900L, 3)
    TraceStream.start(spark, cfg).awaitTermination()
    val got = TraceStore.read(spark, table)
    assert(got.count() == 7)
    // every row (pre- and post-evolution files) reads Region as NULL —
    // the ingest projection doesn't carry it, and old files never will
    assert(got.columns.contains("Region"))
    assert(got.filter(org.apache.spark.sql.functions.col("Region").isNull).count() == 7)
  }

  test("ingest markers stay bounded: retention prunes all but the replayable tail") {
    val watch = tmpDir("watch6"); val table = tmpDir("table6"); val ckpt = tmpDir("ckpt6")
    (1 to 4).foreach(i => writeTrace(watch, s"trace.$i.json", 1557761852L + i * 100, 2))
    val cfg = TraceStream.Config(watch, table, ckpt, maxFilesPerTrigger = 1)
    val q = TraceStream.start(spark, cfg)
    q.awaitTermination()
    assert(TraceStore.read(spark, table).count() == 8)
    // 4 micro-batches ran (v0..v3); only the current batch and one grace
    // predecessor can ever replay, so retention must have pruned v0/v1
    val incDirs = graft.store.FsMaint.listDir(
      java.nio.file.Paths.get(table, "_ingest_batches"))
    assert(incDirs.size == 1, "one lineage dir expected")
    val inc = incDirs.head
    val markers = graft.store.FsMaint.listDir(inc).map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).sorted // local-FS checksum sidecars
    assert(markers == Seq("v2", "v3"), s"markers not pruned: $markers")
  }

  test("cadenced compaction merges the stream's own micro-batch files, lossless") {
    val watch = tmpDir("watch-bg"); val table = tmpDir("table-bg")
    val ckpt = tmpDir("ckpt-bg")
    // 8 one-file batches into one month; compaction every 4th batch over 2
    (1 to 8).foreach(i => writeTrace(watch, s"trace.$i.json", 1557761852L + i * 100, 2))
    val cfg = TraceStream.Config(watch, table, ckpt, maxFilesPerTrigger = 1,
      compactEveryBatches = Some(4), compactOver = 2, splitsPerMonth = 1)
    val q = TraceStream.start(spark, cfg)
    q.awaitTermination()
    assert(TraceStore.read(spark, table).count() == 16, "compaction lost rows")
    val files = new java.io.File(s"$table/ym=201905").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    // batches 0-3 compacted at batch 3, 4-7 at batch 7: the last merge
    // folds everything over the threshold into one compacted file set
    assert(files.length <= 3, s"cadence did not merge: ${files.map(_.getName).toSeq}")
    assert(files.exists(_.getName.startsWith("compacted-")))
    // restart with one more file: checkpoint replays only the new batch
    writeTrace(watch, "trace.9.json", 1557770852L, 2)
    val q2 = TraceStream.start(spark, cfg)
    q2.awaitTermination()
    assert(TraceStore.read(spark, table).count() == 18)
  }

  test("cadenced retention expires old months by data time during ingest") {
    val watch = tmpDir("watch-ttl"); val table = tmpDir("table-ttl")
    val ckpt = tmpDir("ckpt-ttl")
    writeTrace(watch, "trace.apr.json", 1554100000L, 2)   // 201904
    writeTrace(watch, "trace.may.json", 1557761852L, 2)   // 201905
    val cfg = TraceStream.Config(watch, table, ckpt, maxFilesPerTrigger = 1,
      compactEveryBatches = Some(2), compactOver = 64, retainMonths = Some(1),
      splitsPerMonth = 1)
    val q = TraceStream.start(spark, cfg)
    q.awaitTermination()
    // the cadence hit at batch 1 saw both months; only the newest survives
    assert(!new java.io.File(s"$table/ym=201904").exists(), "TTL did not drop")
    assert(new java.io.File(s"$table/ym=201905").exists())
    assert(TraceStore.read(spark, table).count() == 2)
  }

  test("maintained rollup + store stay consistent across mid-stream rename/widen evolution") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    // the store evolves (widen a base column, add + rename an evolved
    // one) BETWEEN micro-batches while the ingest stream and the rollup
    // maintainer (followRollup, over the store's change feed) each resume
    // their own checkpoint; the rollup must stay equal to a full
    // recompute across the boundary and the store's read path must
    // resolve every generation of files in one scan
    val watch = tmpDir("watch-roll-evo"); val table = tmpDir("table-roll-evo")
    val ckpt = tmpDir("ckpt-roll-evo"); val roll = tmpDir("roll-evo")
    val rollCk = tmpDir("ckpt-roll-evo-follow")
    writeTrace(watch, "trace.1.json", 1557761852L, 5)          // hour 15
    val cfg = TraceStream.Config(watch, table, ckpt, maxFilesPerTrigger = 1)
    TraceStream.start(spark, cfg).awaitTermination()
    TraceStream.followRollup(spark, table, roll, rollCk).awaitTermination()
    // the rollup's lineage is its checkpoint's query id, not a path hash
    // — a checkpoint wiped in place then yields a DIFFERENT lineage
    assert(TraceStream.lineageOf(spark, rollCk) != TraceStream.incarnationOf(rollCk))
    // live operator actions between micro-batches: widen a base ingest
    // column, add an evolved column, rename it — all metadata-only
    TraceStore.widenColumn(table, "Severity", LongType)
    TraceStore.evolveSchema(table, StructField("Region", StringType, nullable = true))
    TraceStore.renameColumn(table, "Region", "Zone")
    writeTrace(watch, "trace.2.json", 1557765452L, 7)          // hour 16
    TraceStream.start(spark, cfg).awaitTermination()           // same lineage
    // the restarted follower adopts the evolved schema and resumes from
    // its checkpointed offset
    TraceStream.followRollup(spark, table, roll, rollCk).awaitTermination()
    // store: one scan resolves pre-widen int32 files + post-widen int64
    // files + the renamed column (null for every file — no batch ever
    // carried it)
    val got = TraceStore.read(spark, table)
    assert(got.schema("Severity").dataType == LongType)
    assert(got.columns.contains("Zone") && !got.columns.contains("Region"))
    assert(got.count() == 12 && got.filter(col("Zone").isNull).count() == 12)
    // rollup across the boundary == full recompute from the evolved store
    val snap = TraceStream.readRollup(spark, roll)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val want = got.groupBy(date_format(col("Time"), "yyyyMM").as("ym"), col("Type"))
      .agg(count(lit(1)).as("n"), sum(col("Severity")).as("sev_sum"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(snap == want && snap.map(_._3).sum == 12)
  }

  test("sentinel file stops a continuous query (A4)") {
    val watch = tmpDir("watch2"); val table = tmpDir("table2"); val ckpt = tmpDir("ckpt2")
    writeTrace(watch, "trace.1.json", 1557761852L, 2)
    val cfg = TraceStream.Config(watch, table, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
    val q = TraceStream.start(spark, cfg)
    val sentinel = Paths.get(watch, "sim-completed")
    new Thread(() => { Thread.sleep(1500); Files.write(sentinel, Array.emptyByteArray) }).start()
    TraceStream.runUntilSentinel(q, sentinel)
    assert(!q.isActive)
    assert(TraceStore.read(spark, table).count() == 2)
  }
}
