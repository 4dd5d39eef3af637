package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.sources.CdcOffset
import graft.store.TraceStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The `graft-cdc` streaming source: snapshot-pinned offsets, file-set-
  * pruned micro-batches, compaction invisibility, restart-from-checkpoint,
  * commit-time pin GC, and the mid-stream schema-evolution contract. */
class CdcStreamSpec extends SparkSpec {

  private def mk(rows: (Int, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.map { case (sev, m, ty, t) =>
      (sev, m, "default", Timestamp.valueOf(t), ty, s"id$sev")
    }.toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID")
  }

  /** One Trigger.AvailableNow pass over the feed; returns the batches it
    * delivered as (batchId, rows). Each call is a RESTART from the same
    * checkpoint — resumption from the committed offset is exercised by
    * every multi-drain test below. */
  private def drain(store: String, ck: String,
                    opts: Map[String, String] = Map.empty)
      : Seq[(Long, Seq[(String, Int, String)])] = {
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Seq[(String, Int, String)])]()
    val fn: (DataFrame, Long) => Unit = (df, id) => {
      buf += ((id, df.select("_change", "Severity", "Machine").collect()
        .map((r: Row) => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted))
      ()
    }
    val q = spark.readStream.format("graft-cdc")
      .option("path", store).options(opts)
      .load()
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(fn)
      .start()
    q.awaitTermination()
    buf.toSeq
  }

  test("micro-batches deliver inserts and deletes; compaction cancels to an empty batch") {
    val store = tmpDir("cdcstream"); val ck = tmpDir("cdcstream-ck")
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 15:37:32"),
      (20, "m2", "bad", "2019-05-14 10:00:00"),
      (30, "m1", "ok", "2019-06-01 00:00:00")), store, splitsPerMonth = 2)

    // run 1 (initialLoad): batch 0 = the pinned table as inserts
    val r1 = drain(store, ck, Map("initialLoad" -> "true"))
    assert(r1.map(_._1) == Seq(0L))
    assert(r1.head._2 == Seq(("insert", 10, "m1"), ("insert", 20, "m2"), ("insert", 30, "m1")).sorted)

    // run 2: appended rows arrive as inserts
    TraceStore.append(mk(
      (40, "m3", "bad", "2019-05-20 12:00:00"),
      (50, "m2", "ok", "2019-06-02 09:00:00")), store, splitsPerMonth = 2)
    val r2 = drain(store, ck, Map("initialLoad" -> "true")) // option only affects first-ever batch
    assert(r2.map(_._1) == Seq(1L))
    assert(r2.head._2 == Seq(("insert", 40, "m3"), ("insert", 50, "m2")).sorted)

    // run 3: DELETE WHERE rewrites months — condemned rows arrive as deletes
    TraceStore.deleteWhere(spark, store, col("Type") === "bad", splitsPerMonth = 2)
    val r3 = drain(store, ck)
    assert(r3.map(_._1) == Seq(2L))
    assert(r3.head._2 == Seq(("delete", 20, "m2"), ("delete", 40, "m3")).sorted)

    // run 4: compaction rewrites every multi-file month — the old and new
    // candidate rows cancel row-for-row and the batch is EMPTY
    TraceStore.compact(spark, store, maxFilesPerMonth = 1, splitsPerMonth = 1)
    val r4 = drain(store, ck)
    assert(r4.map(_._1) == Seq(3L))
    assert(r4.head._2.isEmpty, s"compaction must be invisible, got ${r4.head._2}")

    // run 5: idle store → no new offset, no batch at all
    assert(drain(store, ck).isEmpty)
  }

  test("startingSnapshot=latest (default) skips history; an explicit pin starts there") {
    val store = tmpDir("cdcstream2"); val ck = tmpDir("cdcstream2-ck")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32")), store)
    // default: first batch pins the current state and delivers nothing
    val r1 = drain(store, ck)
    assert(r1.map(_._2) == Seq(Seq.empty))
    TraceStore.append(mk((20, "m2", "ok", "2019-05-14 10:00:00")), store)
    val r2 = drain(store, ck)
    assert(r2.map(_._2.map(_._2)) == Seq(Seq(20)))

    // explicit pin: a fresh stream (new checkpoint) starting from it sees
    // exactly the changes since the pin
    val pin = TraceStore.listSnapshots(store).head
    val r3 = drain(store, tmpDir("cdcstream2-ck2"), Map("startingSnapshot" -> pin))
    assert(r3.map(_._2.map(_._2)) == Seq(Seq(20)))
  }

  test("commit GC drops only this stream's own pins below the committed offset") {
    val store = tmpDir("cdcstream3"); val ck = tmpDir("cdcstream3-ck")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32")), store)
    val userPin = TraceStore.snapshot(store)
    drain(store, ck, Map("initialLoad" -> "true"))
    TraceStore.append(mk((20, "m2", "ok", "2019-05-14 10:00:00")), store)
    drain(store, ck)
    TraceStore.append(mk((30, "m3", "ok", "2019-05-15 10:00:00")), store)
    drain(store, ck)
    TraceStore.append(mk((40, "m4", "ok", "2019-05-16 10:00:00")), store)
    drain(store, ck)
    // the engine calls Source.commit(batch N-1's end) when it CONSTRUCTS
    // batch N, so pin GC lags one batch: at most one superseded own pin
    // is outstanding at any time, and each new batch retires the one
    // before last. After batches at s2, s3, s4: s2 is GC'd, s3 pending.
    val left = TraceStore.listSnapshots(store)
    assert(left.contains(userPin), "a user pin must never be GC'd by a stream")
    assert(!left.contains("s000002"), s"superseded own pin must be GC'd, got $left")
    assert(left.size == 3, s"expected userPin + pending + current, got $left")
  }

  test("snapshot ids are never reused after a drop — offsets can't re-bind") {
    val store = tmpDir("cdcstream4")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32")), store)
    val s1 = TraceStore.snapshot(store)
    TraceStore.dropSnapshot(store, s1)
    val s2 = TraceStore.snapshot(store)
    assert(s1 == "s000001" && s2 == "s000002",
      s"dropped id must not be reissued: $s1 then $s2")
  }

  test("schema evolution mid-stream fails loudly; a restarted stream adopts it") {
    val store = tmpDir("cdcstream5"); val ck = tmpDir("cdcstream5-ck")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32")), store)

    // the mismatch can only fire WITHIN one running source instance (a
    // fresh load() re-derives the evolved schema and just works), so
    // this test keeps one query alive across the evolution
    val fn0: (DataFrame, Long) => Unit = (df, _) => { df.count(); () }
    val q0 = spark.readStream.format("graft-cdc")
      .option("path", store).option("initialLoad", "true").load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch(fn0).start()
    val ex = try {
      q0.processAllAvailable() // batch 0: the initial load
      TraceStore.evolveSchema(store,
        org.apache.spark.sql.types.StructField("Region",
          org.apache.spark.sql.types.StringType, nullable = true))
      TraceStore.append(mk((20, "m2", "ok", "2019-05-14 10:00:00"))
        .withColumn("Region", lit("eu")), store)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q0.processAllAvailable()
        q0.awaitTermination(30000)
      }
    } finally q0.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("Restart the stream")),
      s"wanted the restart instruction, got: ${messages(ex)}")

    // the restarted stream (fresh load() = fresh declared schema, same
    // checkpoint) replays the failed batch under the evolved schema
    val buf = scala.collection.mutable.ArrayBuffer[Seq[(Int, String)]]()
    val fn: (DataFrame, Long) => Unit = (df, _) => {
      buf += df.select("Severity", "Region").collect()
        .map((r: Row) => (r.getInt(0), Option(r.getString(1)).getOrElse("-"))).toSeq.sorted
      ()
    }
    val q = spark.readStream.format("graft-cdc").option("path", store).load()
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).foreachBatch(fn).start()
    q.awaitTermination()
    assert(buf.flatten.contains((20, "eu")), s"evolved batch lost: $buf")
  }

  test("maxFilesPerTrigger delivers the bootstrap as bounded manifest slices") {
    val store = tmpDir("cdcchunk"); val ck = tmpDir("cdcchunk-ck")
    // two appends × two months × splitsPerMonth=1 → 4 manifest files
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 15:37:32"),
      (20, "m2", "ok", "2019-06-01 00:00:00")), store)
    TraceStore.append(mk(
      (30, "m1", "ok", "2019-05-20 10:00:00"),
      (40, "m2", "ok", "2019-06-02 09:00:00")), store)
    val opts = Map("initialLoad" -> "true", "maxFilesPerTrigger" -> "1")
    // SupportsTriggerAvailableNow: ONE AvailableNow run drives every
    // chunk to the frozen target before terminating (the engine passes
    // the last processed offset back into latestOffset each time); the
    // loop here only proves the idle follow-up run delivers nothing
    val runs = Iterator.continually(drain(store, ck, opts))
      .takeWhile(_.nonEmpty).toList.flatten
    assert(runs.size == 4, s"4 files at 1/trigger should be 4 chunks: $runs")
    assert(runs.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(runs.forall(r => r._2.nonEmpty && r._2.forall(_._1 == "insert")))
    assert(runs.flatMap(_._2.map(_._2)).sorted == Seq(10, 20, 30, 40),
      "the chunk union must be exactly the pinned table")

    // post-bootstrap changes arrive as one plain diff batch
    TraceStore.append(mk((50, "m3", "ok", "2019-06-03 09:00:00")), store)
    val r = drain(store, ck, opts)
    assert(r.map(_._2.map(_._2)) == Seq(Seq(50)))
  }

  test("followRollup keeps a stored rollup correct across append, delete, and compaction") {
    val store = tmpDir("cdcroll"); val roll = tmpDir("cdcroll-out")
    val ck = tmpDir("cdcroll-ck")
    def run(): Unit = {
      val q = TraceStream.followRollup(spark, store, roll, ck)
      q.awaitTermination()
    }
    def expect(): Seq[(String, String, Long, Long)] =
      TraceStore.read(spark, store)
        .groupBy(col("ym"), col("Type"))
        .agg(count(lit(1)).as("n"), sum(col("Severity").cast("long")).as("sev_sum"))
        .collect().map((r: Row) =>
          (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    def got(): Seq[(String, String, Long, Long)] =
      TraceStream.readRollup(spark, roll)
        .select("ym", "Type", "n", "sev_sum")
        .collect().map((r: Row) =>
          (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq.sorted

    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 15:37:32"),
      (20, "m2", "bad", "2019-05-14 10:00:00"),
      (30, "m1", "ok", "2019-06-01 00:00:00")), store, splitsPerMonth = 2)
    run() // bootstrap: initial load as inserts
    assert(got() == expect())

    TraceStore.append(mk(
      (40, "m3", "bad", "2019-05-20 12:00:00"),
      (50, "m2", "ok", "2019-06-02 09:00:00")), store, splitsPerMonth = 2)
    run() // inserts fold in
    assert(got() == expect())

    // negative increments: every (ym, 'bad') group empties and must
    // LEAVE the rollup, not linger at n=0
    TraceStore.deleteWhere(spark, store, col("Type") === "bad", splitsPerMonth = 2)
    run()
    assert(got() == expect())
    assert(!got().exists(_._2 == "bad"), s"emptied group lingered: ${got()}")

    TraceStore.compact(spark, store, maxFilesPerMonth = 1, splitsPerMonth = 1)
    run() // compaction: empty batch, rollup unchanged
    assert(got() == expect())
  }

  test("schema evolution mid-BOOTSTRAP: restart resumes the chunk sequence under the new schema") {
    val store = tmpDir("cdcevoboot"); val ck = tmpDir("cdcevoboot-ck")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32"),
      (20, "m2", "ok", "2019-06-01 00:00:00")), store)
    TraceStore.append(mk((30, "m1", "ok", "2019-05-20 10:00:00"),
      (40, "m2", "ok", "2019-06-02 09:00:00")), store)

    // one long-lived chunked stream; evolve the store after chunk 1 —
    // the NEXT chunk reads through the evolved stored schema and must
    // fail with the restart instruction, mid-bootstrap
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    val fn: (DataFrame, Long) => Unit = (df, _) => {
      seen += df.select("Severity").collect().map((r: Row) => r.getInt(0)).toSeq.sorted
      if (seen.size == 1)
        TraceStore.evolveSchema(store,
          org.apache.spark.sql.types.StructField("Region",
            org.apache.spark.sql.types.StringType, nullable = true))
      ()
    }
    val q = spark.readStream.format("graft-cdc")
      .option("path", store).option("initialLoad", "true")
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).foreachBatch(fn).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("Restart the stream")), messages(ex))
    val delivered = seen.flatten.toSet

    // a fresh stream (evolved schema) on the same checkpoint resumes the
    // remaining chunks — nothing re-delivered, nothing lost
    val rest = drain(store, ck,
      Map("initialLoad" -> "true", "maxFilesPerTrigger" -> "1"))
    val resumed = rest.flatMap(_._2.map(_._2)).toSet
    assert(delivered.intersect(resumed).isEmpty,
      s"chunk re-delivery across the evolution restart: $delivered vs $resumed")
    assert(delivered ++ resumed == Set(10, 20, 30, 40),
      s"bootstrap lost rows: $delivered ++ $resumed")
  }

  test("concurrent snapshot creators never share or corrupt an id") {
    val store = tmpDir("cdcconc")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32")), store)
    // N streams polling one store race snapshot(): the unique staging
    // name + install-retry must give every caller its own complete pin
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val ids = Await.result(
      Future.sequence((1 to 8).map(_ => Future(TraceStore.snapshot(store)))),
      30.seconds)
    assert(ids.distinct.size == 8, s"id collision: $ids")
    val expect = TraceStore.read(spark, store).count()
    ids.foreach { id =>
      assert(TraceStore.readSnapshot(spark, store, id).count() == expect,
        s"manifest $id incomplete")
    }
  }

  test("vacuum compacts id markers to one floor; ids stay monotonic across it") {
    val store = tmpDir("cdcfloor")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32")), store)
    (1 to 5).foreach { _ =>
      val id = TraceStore.snapshot(store)
      TraceStore.dropSnapshot(store, id)
    }
    TraceStore.vacuumSnapshots(store)
    val dir = java.nio.file.Paths.get(store).resolve("_snapshots")
    val names = java.nio.file.Files.list(dir).iterator()
    val listed = scala.jdk.CollectionConverters.IteratorHasAsScala(names)
      .asScala.map(_.getFileName.toString).toSeq
    assert(listed.count(_.startsWith(".claim-")) == 0 &&
      listed.count(_.startsWith(".dropped-")) == 0,
      s"markers must compact away: $listed")
    assert(listed.count(_.startsWith(".floor-")) == 1, s"one floor: $listed")
    // the floor alone keeps allocation monotonic: no dropped id returns
    assert(TraceStore.snapshot(store) == "s000006")
  }

  test("maxFilesPerTrigger chunks a POST-BOOTSTRAP diff into bounded signed slices") {
    val store = tmpDir("cdcdiffchunk"); val ck = tmpDir("cdcdiffchunk-ck")
    // 4 months × (1 ok + 1 bad), one file per month
    val months = Seq("2019-05-10", "2019-06-10", "2019-07-10", "2019-08-10")
    TraceStore.append(mk(months.zipWithIndex.flatMap { case (d, i) =>
      Seq((10 + i, "m1", "ok", s"$d 10:00:00"), (20 + i, "m2", "bad", s"$d 11:00:00"))
    }: _*), store, splitsPerMonth = 1)
    val opts = Map("initialLoad" -> "true", "maxFilesPerTrigger" -> "2")
    drain(store, ck, opts) // bootstrap (4 files → 2 chunks, already proven shape)

    // DELETE WHERE rewrites EVERY month: worklist = 4 old + 4 new files.
    // At 2 files/trigger that is 4 bounded diff slices — the shape a
    // table-scale retention sweep arrives in, instead of one batch
    TraceStore.deleteWhere(spark, store, col("Type") === "bad", splitsPerMonth = 1)
    val runs = drain(store, ck, opts)
    assert(runs.size == 4, s"8-entry worklist at 2/trigger should be 4 slices: $runs")
    // signed EXACTNESS across the slice union: cancelling pairs may split
    // across slices, but the net per row must equal the unchunked feed —
    // deletes of exactly the 'bad' severities, net zero for 'ok'
    val net = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    runs.flatMap(_._2).foreach { case (chg, sev, _) =>
      net(sev) += (if (chg == "insert") 1 else -1)
    }
    val expected = months.indices.map(i => (20 + i) -> -1).toMap
    assert(net.toMap.filter(_._2 != 0) == expected,
      s"chunked diff must sum to the unchunked feed, got net=$net")

    // idle follow-up: nothing re-delivered
    assert(drain(store, ck, opts).isEmpty)
  }

  test("a mid-diff crash resumes slice-exact from the checkpoint (replayable chunk offsets)") {
    val store = tmpDir("cdcdiffcrash"); val ck = tmpDir("cdcdiffcrash-ck")
    val months = Seq("2019-05-10", "2019-06-10", "2019-07-10", "2019-08-10")
    TraceStore.append(mk(months.zipWithIndex.flatMap { case (d, i) =>
      Seq((10 + i, "m1", "ok", s"$d 10:00:00"), (20 + i, "m2", "bad", s"$d 11:00:00"))
    }: _*), store, splitsPerMonth = 1)
    drain(store, ck, Map("initialLoad" -> "true"))
    TraceStore.deleteWhere(spark, store, col("Type") === "bad", splitsPerMonth = 1)

    // crash the stream after the SECOND diff slice is delivered (but not
    // committed — foreachBatch failure aborts the epoch)
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Seq[(String, Int, String)])]()
    val failing: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, id) => {
      seen += ((id, df.select("_change", "Severity", "Machine").collect()
        .map((r: Row) => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted))
      if (seen.size == 2) sys.error("injected mid-diff crash")
      ()
    }
    val q = spark.readStream.format("graft-cdc")
      .option("path", store).option("maxFilesPerTrigger", "2").load()
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).foreachBatch(failing).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { q.awaitTermination() }

    // resume: the uncommitted slice replays IDENTICALLY, then the rest
    val resumed = drain(store, ck, Map("maxFilesPerTrigger" -> "2"))
    val perBatch = (seen.toSeq ++ resumed).groupBy(_._1).map { case (id, ds) =>
      // every delivery of one batch id must be byte-identical (frozen worklist)
      assert(ds.map(_._2).distinct.size == 1, s"batch $id replayed differently: $ds")
      id -> ds.head._2
    }
    val net = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    perBatch.values.flatten.foreach { case (chg, sev, _) =>
      net(sev) += (if (chg == "insert") 1 else -1)
    }
    val expected = months.indices.map(i => (20 + i) -> -1).toMap
    assert(net.toMap.filter(_._2 != 0) == expected,
      s"crash+resume must still sum to the exact feed, got $net")
  }

  test("schema evolution mid-CHUNKED-DIFF: restart resumes the slice sequence under the new schema") {
    val store = tmpDir("cdcevodiff"); val ck = tmpDir("cdcevodiff-ck")
    val months = Seq("2019-05-10", "2019-06-10", "2019-07-10", "2019-08-10")
    TraceStore.append(mk((1, "m0", "ok", "2019-04-01 10:00:00")), store, splitsPerMonth = 1)
    drain(store, ck, Map("initialLoad" -> "true"))
    // 4 new one-file months → a 4-slice diff at 1 file/trigger
    TraceStore.append(mk(months.zipWithIndex.map { case (d, i) =>
      (10 + i, "m1", "ok", s"$d 10:00:00")
    }: _*), store, splitsPerMonth = 1)

    // evolve the store after the FIRST slice lands: the next slice reads
    // through the evolved stored schema and must fail with the restart
    // instruction, mid-diff
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    val fn: (DataFrame, Long) => Unit = (df, _) => {
      seen += df.select("Severity").collect().map((r: Row) => r.getInt(0)).toSeq.sorted
      if (seen.size == 1)
        TraceStore.evolveSchema(store,
          org.apache.spark.sql.types.StructField("Region",
            org.apache.spark.sql.types.StringType, nullable = true))
      ()
    }
    val q = spark.readStream.format("graft-cdc")
      .option("path", store).option("maxFilesPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).foreachBatch(fn).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("Restart the stream")), messages(ex))
    val delivered = seen.flatten.toSet
    assert(delivered.nonEmpty && delivered.subsetOf(Set(10, 11, 12, 13)))

    // a fresh stream (evolved schema, same checkpoint) resumes the
    // remaining slices — nothing re-delivered, nothing lost
    val rest = drain(store, ck, Map("maxFilesPerTrigger" -> "1"))
    val resumed = rest.flatMap(_._2.map(_._2)).toSet
    assert(delivered.intersect(resumed).isEmpty,
      s"slice re-delivery across the evolution restart: $delivered vs $resumed")
    assert(delivered ++ resumed == Set(10, 11, 12, 13),
      s"diff lost rows across the restart: $delivered ++ $resumed")
  }

  test("maxBytesPerTrigger bounds batches by size; an oversized file arrives alone") {
    val store = tmpDir("cdcbytes"); val ck = tmpDir("cdcbytes-ck")
    // 4 months × 1 file each
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "ok", "2019-06-01 10:00:00"),
      (30, "m3", "ok", "2019-07-01 10:00:00"),
      (40, "m4", "ok", "2019-08-01 10:00:00")), store, splitsPerMonth = 1)
    // a 1-byte budget is smaller than ANY parquet file: every file is
    // "oversized" and must be admitted ALONE → 4 single-file batches
    val runs = drain(store, ck,
      Map("initialLoad" -> "true", "maxBytesPerTrigger" -> "1"))
    assert(runs.size == 4, s"1-byte budget → one file per batch: $runs")
    assert(runs.flatMap(_._2.map(_._2)).sorted == Seq(10, 20, 30, 40))

    // post-bootstrap diff under the same budget: 2 new files → 2 batches
    TraceStore.append(mk(
      (50, "m5", "ok", "2019-09-01 10:00:00"),
      (60, "m6", "ok", "2019-10-01 10:00:00")), store, splitsPerMonth = 1)
    val r2 = drain(store, ck, Map("maxBytesPerTrigger" -> "1"))
    assert(r2.size == 2, s"diff slices must honor the byte budget: $r2")
    assert(r2.flatMap(_._2.map(_._2)).sorted == Seq(50, 60))

    // a generous budget delivers the next diff whole, and composing a
    // tighter file budget wins (tightest-of-each admission)
    TraceStore.append(mk(
      (70, "m7", "ok", "2019-11-01 10:00:00"),
      (80, "m8", "ok", "2019-12-01 10:00:00")), store, splitsPerMonth = 1)
    val r3 = drain(store, ck,
      Map("maxBytesPerTrigger" -> s"${10L * 1024 * 1024}", "maxFilesPerTrigger" -> "1"))
    assert(r3.size == 2, s"composite: the 1-file budget must win: $r3")
    assert(r3.flatMap(_._2.map(_._2)).sorted == Seq(70, 80))
  }

  test("a fresh stream from a user pin honors maxFilesPerTrigger (chunked first diff)") {
    val store = tmpDir("cdcuserchunk")
    val months = Seq("2019-05-10", "2019-06-10", "2019-07-10", "2019-08-10")
    TraceStore.append(mk((1, "m0", "ok", "2019-04-01 00:00:00")), store, splitsPerMonth = 1)
    val pin = TraceStore.snapshot(store)
    TraceStore.append(mk(months.zipWithIndex.map { case (d, i) =>
      (10 + i, "m1", "ok", s"$d 10:00:00")
    }: _*), store, splitsPerMonth = 1)
    val runs = drain(store, tmpDir("cdcuserchunk-ck"),
      Map("startingSnapshot" -> pin, "maxFilesPerTrigger" -> "2"))
    assert(runs.size == 2, s"4 new files at 2/trigger should be 2 slices: $runs")
    assert(runs.flatMap(_._2.map(_._2)).sorted == Seq(10, 11, 12, 13))
  }

  test("AvailableNow resuming a mid-bootstrap checkpoint catches up to the LIVE state") {
    val store = tmpDir("cdcresume"); val ck = tmpDir("cdcresume-ck")
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "ok", "2019-06-01 10:00:00"),
      (30, "m3", "ok", "2019-07-01 10:00:00"),
      (40, "m4", "ok", "2019-08-01 10:00:00")), store, splitsPerMonth = 1)
    // crash the bootstrap after 2 of 4 chunks
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    val failing: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) => {
      seen += df.select("Severity").collect().map((r: Row) => r.getInt(0)).toSeq.sorted
      if (seen.size == 2) sys.error("injected mid-bootstrap crash")
      ()
    }
    val q = spark.readStream.format("graft-cdc")
      .option("path", store).option("initialLoad", "true")
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).foreachBatch(failing).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { q.awaitTermination() }

    // the store moves on while the stream is down
    TraceStore.append(mk((50, "m5", "ok", "2019-09-01 10:00:00")), store, splitsPerMonth = 1)

    // ONE AvailableNow resume must finish the bootstrap AND deliver the
    // accumulated diff (round-10 gap: it froze the run target at the
    // bootstrap pin and stopped short of the live state)
    val resumed = drain(store, ck,
      Map("initialLoad" -> "true", "maxFilesPerTrigger" -> "1"))
    val all = (seen.flatten ++ resumed.flatMap(_._2.map(_._2))).toSet
    assert(all == Set(10, 20, 30, 40, 50),
      s"one resume run must deliver bootstrap remainder + live diff, got $all")
    assert(drain(store, ck, Map("initialLoad" -> "true")).isEmpty, "nothing left after catch-up")
  }

  test("feed rows carry commit metadata: the producing pin and its capture time") {
    val store = tmpDir("cdcmeta"); val ck = tmpDir("cdcmeta-ck")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 10:00:00")), store)
    val rows = scala.collection.mutable.ArrayBuffer[(Int, String, java.sql.Timestamp)]()
    val fn: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) => {
      rows ++= df.select("Severity", "_commit_snapshot", "_commit_ts").collect()
        .map((r: Row) => (r.getInt(0), r.getString(1), r.getTimestamp(2)))
      ()
    }
    def go(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", store).option("initialLoad", "true").load()
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).foreachBatch(fn).start()
      q.awaitTermination()
    }
    go()
    TraceStore.append(mk((20, "m2", "ok", "2019-06-01 10:00:00")), store)
    go()
    val byCommit = rows.toSeq.groupBy(_._2)
    assert(byCommit.size == 2, s"two commits expected: $rows")
    // each commit's snapshot is a real pin id and its ts matches the
    // manifest's install time (replay-stable), increasing across commits
    val ordered = byCommit.toSeq.sortBy(_._1)
    ordered.foreach { case (snap, rs) =>
      assert(snap.matches("s\\d{6,}"))
      rs.foreach(r => assert(r._3 != null))
    }
    assert(ordered(0)._2.head._3.getTime <= ordered(1)._2.head._3.getTime)
    assert(ordered(0)._2.map(_._1) == Seq(10) && ordered(1)._2.map(_._1) == Seq(20))
  }

  test("pin-leak crash window: the ownership marker lands BEFORE the manifest") {
    val store = tmpDir("cdcpinleak")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32")), store)
    // simulate a crash inside the pin-creation window: the pre-install
    // hook (where the stream writes its marker) dies before the manifest
    var cand: String = null
    intercept[RuntimeException] {
      TraceStore.snapshot(store, { c => cand = c; sys.error("crash mid-pin") })
    }
    assert(cand != null)
    assert(!TraceStore.listSnapshots(store).contains(cand),
      "a crash before manifest install must leave NO pin (nothing to leak)")
    // the claimed id is burned, never reissued — an offset can't re-bind
    assert(TraceStore.snapshot(store) != cand)
  }

  test("an orphan ownership marker (crash artifact) is inert and swept by commit GC") {
    val store = tmpDir("cdcorphan"); val ck = tmpDir("cdcorphan-ck")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32")), store)
    drain(store, ck, Map("initialLoad" -> "true")) // batch 0 at s000001
    // plant a marker with NO pin below future offsets — exactly what a
    // crash between marker write and manifest install leaves behind
    val pins = java.nio.file.Paths.get(ck, "sources", "0", "pins")
    assert(java.nio.file.Files.exists(pins), s"pins dir expected at $pins")
    java.nio.file.Files.createFile(pins.resolve("s000000"))
    TraceStore.append(mk((20, "m2", "ok", "2019-05-14 10:00:00")), store)
    drain(store, ck)
    TraceStore.append(mk((30, "m3", "ok", "2019-05-15 10:00:00")), store)
    drain(store, ck) // commit GC runs below the new offset
    assert(!java.nio.file.Files.exists(pins.resolve("s000000")),
      "orphan marker must be swept once the committed offset passes it")
    assert(TraceStore.listSnapshots(store).nonEmpty) // stream pins intact
  }

  test("a stream's live offset pin carries an owner annotation; GC removes it") {
    val store = tmpDir("cdcowner"); val ck = tmpDir("cdcowner-ck")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 15:37:32")), store)
    val userPin = TraceStore.snapshot(store)
    drain(store, ck, Map("initialLoad" -> "true"))
    val owners1 = TraceStore.snapshotOwners(store)
    val streamPins1 = TraceStore.listSnapshots(store).filterNot(_ == userPin)
    assert(streamPins1.nonEmpty)
    streamPins1.foreach(id => assert(owners1.get(id).exists(_.contains("graft-cdc")),
      s"stream pin $id must be annotated; owners=$owners1"))
    assert(!owners1.contains(userPin), "user pins are not the stream's to annotate")
    // advance twice so the earliest stream pin is GC'd — its note must go too
    TraceStore.append(mk((20, "m2", "ok", "2019-05-14 10:00:00")), store)
    drain(store, ck)
    TraceStore.append(mk((30, "m3", "ok", "2019-05-15 10:00:00")), store)
    drain(store, ck)
    val owners2 = TraceStore.snapshotOwners(store)
    val live = TraceStore.listSnapshots(store).toSet
    assert(owners2.keySet.forall(live.contains),
      s"GC'd pins must shed their notes: notes=${owners2.keySet}, live=$live")
  }

  test("followIndex maintains the band-bucket index across restarts, delete, and compaction") {
    import graft.store.ChangeFeedQuery
    val store = tmpDir("cdcfidx"); val index = tmpDir("cdcfidx-idx")
    val ck = tmpDir("cdcfidx-ck")
    def rebuilt(): Set[(Int, Long, Long)] =
      ChangeFeedQuery.bucketRows(TraceStore.read(spark, store))
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
        .collect().map((r: Row) => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def current(): Set[(Int, Long, Long)] =
      TraceStream.readIndex(spark, index)
        .collect().map((r: Row) => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def catchUp(): Unit = {
      val q = TraceStream.followIndex(spark, store, index, ck,
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
    }
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "bad", "2019-06-01 10:00:00"),
      (30, "m3", "ok", "2019-07-01 10:00:00")), store, splitsPerMonth = 1)
    // ONE micro-batch of the chunked bootstrap, then stop: the index is
    // left mid-bootstrap and the next run must RESUME, not double-count
    val q0 = TraceStream.followIndex(spark, store, index, ck,
      trigger = Trigger.Once(), maxFilesPerTrigger = Some(1))
    q0.awaitTermination()
    // the store moves while the follower is down
    TraceStore.append(mk((40, "m4", "ok", "2019-08-01 10:00:00")), store)
    catchUp()
    assert(current() == rebuilt(), "bootstrap remainder + live diff in one resume")
    // deletes retract their bucket rows
    TraceStore.deleteWhere(spark, store, col("Type") === "bad", splitsPerMonth = 1)
    catchUp()
    assert(current() == rebuilt(), "DELETE WHERE must retract bucket rows")
    // a compaction's cancelling pairs (split across maxFiles=1 chunks) net out
    TraceStore.compact(spark, store, maxFilesPerMonth = 1, splitsPerMonth = 1)
    catchUp()
    assert(current() == rebuilt(), "compaction must be invisible to the index")
    // an idle catch-up changes nothing and creates no version churn
    val before = current()
    catchUp()
    assert(current() == before)
  }

  test("seeded index: batch census + stream-from-pin equals rebuild, no streaming bootstrap") {
    import graft.store.ChangeFeedQuery
    val store = tmpDir("seedidx-store"); val idx = tmpDir("seedidx-idx")
    val ck = tmpDir("seedidx-ck")
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "bad", "2019-06-01 10:00:00"),
      (30, "m3", "ok", "2019-07-01 10:00:00")), store, splitsPerMonth = 1)
    // corpus-scale shape: pin, build the base in ONE batch job…
    val seeded = TraceStream.seedIndex(spark, store, idx)
    def rebuilt(): Set[(Int, Long, Long)] =
      ChangeFeedQuery.bucketRows(TraceStore.read(spark, store))
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
        .collect().map((r: Row) => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def current(): Set[(Int, Long, Long)] =
      TraceStream.readIndex(spark, idx)
        .collect().map((r: Row) => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(current() == rebuilt(), "the seed alone must equal the pinned state's census")
    // …then follow CHANGES from the pin — no streaming bootstrap runs
    def catchUp(): Unit = {
      val q = TraceStream.followIndex(spark, seeded, idx, ck,
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
    }
    TraceStore.append(mk((40, "m4", "ok", "2019-08-01 10:00:00")), store)
    TraceStore.deleteWhere(spark, store, col("Type") === "bad", splitsPerMonth = 1)
    catchUp()
    assert(current() == rebuilt(), "seed + streamed increments must equal rebuild")
    // restarts keep following (the starting pin is only the FIRST diff's base)
    TraceStore.append(mk((50, "m5", "ok", "2019-08-02 10:00:00")), store)
    catchUp()
    assert(current() == rebuilt())
    // seeding refuses a live index — it would double-count
    val ex = intercept[IllegalArgumentException] {
      TraceStream.seedIndex(spark, store, idx)
    }
    assert(ex.getMessage.contains("already has parts"))
  }

  test("segmented index: O(delta) appends, cadenced compaction, retraction, replay") {
    import spark.implicits._
    val idx = tmpDir("segidx")
    def put(id: Long, rows: (Int, Long, Long)*): Unit =
      TraceStream.upsertSegment(spark, rows.toSeq.toDF("band", "bkey", "n"),
        id, idx, "lineage-a", Seq("band", "bkey"), Seq("n"), compactOver = 3)
    def parts(prefix: String): Seq[Long] =
      new java.io.File(idx).listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
          new java.io.File(f, "_SUCCESS").exists)
        .map(_.getName.drop(prefix.length).toLong).sorted
    def state(): Map[(Int, Long), Long] =
      TraceStream.readIndex(spark, idx).collect()
        .map((r: Row) => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    put(0, (0, 10L, 2L)); put(1, (0, 11L, 1L)); put(2, (1, 10L, 3L))
    // three batches = three O(delta) segments, no base rewritten
    assert(parts("seg-") == Seq(0L, 1L, 2L) && parts("base-").isEmpty)
    assert(state() == Map((0, 10L) -> 2L, (0, 11L) -> 1L, (1, 10L) -> 3L))
    // a retraction rides a segment as a NEGATIVE row (merge-on-read nets it)
    put(3, (0, 10L, -2L), (0, 11L, 1L))
    assert(parts("base-") == Seq(3L), "4th state change must compact (compactOver=3)")
    // ...but batch 3 crossed the threshold, so it compacted instead:
    // emptied bucket (0,10) left the index AT the compaction
    assert(state() == Map((0, 11L) -> 2L, (1, 10L) -> 3L))
    // post-compaction appends are segments again
    put(4, (2, 7L, 1L))
    assert(parts("seg-").contains(4L) && parts("base-") == Seq(3L))
    assert(state() == Map((0, 11L) -> 2L, (1, 10L) -> 3L, (2, 7L) -> 1L))
    // replay of a committed batch is a no-op (never rewrites a live dir)
    put(4, (2, 7L, 999L))
    assert(state()((2, 7L)) == 1L, "replayed batch must not double-count")
    // a wiped-checkpoint lineage fails loudly
    val ex = intercept[IllegalArgumentException] {
      TraceStream.upsertSegment(spark, Seq((0, 1L, 1L)).toDF("band", "bkey", "n"),
        99, idx, "lineage-B", Seq("band", "bkey"), Seq("n"), 3)
    }
    assert(ex.getMessage.contains("lineage"))
    // and so does a part AHEAD of the batch id (restarted ids)
    val ex2 = intercept[IllegalArgumentException] {
      TraceStream.upsertSegment(spark, Seq((0, 1L, 1L)).toDF("band", "bkey", "n"),
        1, idx, "lineage-a", Seq("band", "bkey"), Seq("n"), 3)
    }
    assert(ex2.getMessage.contains("wiped"))
    // second compaction prunes the superseded tail but keeps the replay
    // window (previous base + its segment tail survive one cycle)
    put(5, (2, 8L, 1L)); put(6, (2, 9L, 1L)); put(7, (2, 9L, 1L))
    assert(parts("base-") == Seq(3L, 7L))
    assert(parts("seg-").forall(_ > 3L), s"segments at/under the old base must prune: ${parts("seg-")}")
    assert(state()((2, 9L)) == 2L)
  }

  test("multi-measure segments: a zero-count, nonzero-secondary delta survives the append") {
    import spark.implicits._
    val idx = tmpDir("segmm")
    def put(id: Long, rows: (Long, String, Long, Long)*): Unit =
      TraceStream.upsertSegment(spark, rows.toSeq.toDF("slot", "Type", "n", "sev_sum"),
        id, idx, "lineage-a", Seq("slot", "Type"), Seq("n", "sev_sum"), compactOver = 3)
    def state(): Map[(Long, String), (Long, Long)] =
      TraceStream.readSlotRollup(spark, idx).collect()
        .map((r: Row) => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    put(0, (10L, "ok", 2L, 7L))
    // same-key replace: the COUNT nets to zero but the secondary moved —
    // the segment row must keep (an all-measures-zero row may drop)
    put(1, (10L, "ok", 0L, 5L))
    assert(state() == Map((10L, "ok") -> ((2L, 12L))))
    // a full retraction empties the group (head measure reaches zero):
    // merge-on-read hides it now, the next fold drops it from storage
    put(2, (10L, "ok", -2L, -12L), (11L, "err", 1L, 3L))
    assert(state() == Map((11L, "err") -> ((1L, 3L))))
    put(3, (12L, "ok", 1L, 1L)) // 4th state change folds (compactOver=3)
    val bases = new java.io.File(idx).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("base-") &&
        new java.io.File(f, "_SUCCESS").exists)
    assert(bases.nonEmpty, "the 4th state change must fold a base")
    assert(state() == Map((11L, "err") -> ((1L, 3L)), (12L, "ok") -> ((1L, 1L))))
  }

  test("followSlotRollup: sub-second slots ride the segment store across maintenance and replay") {
    import org.apache.spark.sql.functions.{expr => sexpr}
    val store = tmpDir("slotstore")
    val roll = tmpDir("slotroll")
    val ck = tmpDir("slotck")
    def follow(): Unit = {
      val q = TraceStream.followSlotRollup(spark, store, roll, ck,
        slotMicros = 250000L, maxFilesPerTrigger = Some(1), compactOver = 2)
      q.awaitTermination()
    }
    def fromIndex(): Map[(Long, String), (Long, Long)] =
      TraceStream.readSlotRollup(spark, roll).collect()
        .map((r: Row) => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    def recomputed(): Map[(Long, String), (Long, Long)] =
      TraceStore.read(spark, store)
        .groupBy(sexpr("unix_micros(Time) div 250000").as("slot"), col("Type"))
        .agg(count(lit(1)).as("n"), sum(col("Severity").cast("long")).as("sev_sum"))
        .collect()
        .map((r: Row) => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // two rows 200 ms apart land in DIFFERENT 250 ms slots — the
    // sub-second resolution the segment path must preserve end to end
    TraceStore.append(mk(
      (1, "m1", "ok", "2019-08-02 10:00:00.1"),
      (2, "m1", "ok", "2019-08-02 10:00:00.3"),
      (3, "m2", "error", "2019-08-02 10:00:00.3")), store)
    follow()
    assert(fromIndex() == recomputed())
    assert(fromIndex().size == 3, "each 250 ms slot × Type must stay distinct")
    TraceStore.append(mk((4, "m1", "ok", "2019-08-02 10:00:00.35")), store)
    follow() // same slot as the .3 row: counts add within the slot
    assert(fromIndex() == recomputed())
    TraceStore.deleteWhere(spark, store, col("Type") === "error")
    follow() // negative increments retract exactly the erased slots
    assert(fromIndex() == recomputed())
    TraceStore.compact(spark, store, maxFilesPerMonth = 1)
    follow() // a rewrite nets to zero at micros resolution
    follow() // an idle restart replays nothing
    assert(fromIndex() == recomputed())
    // the maintainer is the SEGMENT family: with compactOver=2 and this
    // many chunked batches a base fold must have run (O(delta) appends +
    // cadenced folds — never a per-batch version rewrite)
    val parts = new java.io.File(roll).listFiles.toSeq.map(_.getName)
    assert(parts.exists(_.startsWith("base-")), s"expected a folded base among $parts")
    assert(!parts.exists(_.startsWith("v")), s"slot table must not store merged versions: $parts")
  }

  test("an mtime-absorbed mutation is delivered on the first poll") {
    // coarse-timestamp hazard (ADVICE r11): a mutation landing in the
    // same filesystem tick as an idle poll leaves every directory mtime
    // unchanged. Simulate the absorption directly — append, then restore
    // the directory mtimes — and pin that an idle poll compares the
    // snapshot against the live file set itself, so the very next poll
    // delivers the change.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val store = tmpDir("cdcidle"); val meta = tmpDir("cdcidle-meta")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 10:00:00")), store)
    val src = new graft.sources.CdcSource(
      spark.sqlContext, store, meta, None, true, None,
      maxBytesPerTrigger = None, months = None)
    val all = ReadLimit.allAvailable()
    val o1 = CdcOffset.of(src.latestOffset(null, all))
    assert(src.latestOffset(o1, all) == o1, "idle store echoes the offset")
    // mutate the store, then roll the mtimes back to the idle state
    val root = Paths.get(store)
    val dirs = root +: root.toFile.listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("ym=")).map(_.toPath)
    val saved = dirs.map(d => d -> Files.getLastModifiedTime(d))
    TraceStore.append(mk((20, "m1", "ok", "2019-05-14 10:00:00")), store)
    saved.foreach { case (d, t) => Files.setLastModifiedTime(d, t) }
    assert(CdcOffset.of(src.latestOffset(o1, all)) != o1,
      "the absorbed append must advance the offset on the first poll")
  }

  test("non-numeric admission options fail with the option's name, not a bare NumberFormatException") {
    val store = tmpDir("cdcopt")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 10:00:00")), store)
    val provider = new graft.sources.CdcStreamProvider
    def mkSource(opts: (String, String)*): Unit = {
      provider.createSource(spark.sqlContext, tmpDir("cdcopt-meta"), None,
        "graft-cdc", Map("path" -> store) ++ opts)
      ()
    }
    val e1 = intercept[IllegalArgumentException] { mkSource("maxFilesPerTrigger" -> "lots") }
    assert(e1.getMessage.contains("maxFilesPerTrigger") && e1.getMessage.contains("lots"))
    val e2 = intercept[IllegalArgumentException] { mkSource("maxBytesPerTrigger" -> "10MB") }
    assert(e2.getMessage.contains("maxBytesPerTrigger") && e2.getMessage.contains("10MB"))
    val e3 = intercept[IllegalArgumentException] { mkSource("maxFilesPerTrigger" -> "0") }
    assert(e3.getMessage.contains("maxFilesPerTrigger"))
  }

  test("multi-store stream: one checkpoint, per-store pins, round-robin advance, isolation") {
    val a = tmpDir("cdcmulti-a"); val b = tmpDir("cdcmulti-b")
    val ck = tmpDir("cdcmulti-ck")
    def drain(paths: String): Seq[(Long, Seq[(String, Int, String)])] = {
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Seq[(String, Int, String)])]()
      val fn: (DataFrame, Long) => Unit = (df, id) => {
        buf += ((id, df.select("_change", "Severity", "_store").collect()
          .map((r: Row) => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted))
        ()
      }
      val q = spark.readStream.format("graft-cdc")
        .option("paths", paths).option("initialLoad", "true")
        .option("maxFilesPerTrigger", "1")
        .load()
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).foreachBatch(fn).start()
      q.awaitTermination()
      buf.toSeq
    }
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "ok", "2019-06-01 10:00:00")), a, splitsPerMonth = 1)
    TraceStore.append(mk((30, "m3", "ok", "2019-05-13 10:00:00")), b)
    val boot = drain(s"$a,$b")
    // at most one store per batch (the budget bounds the BATCH, not
    // batch × N); an empty batch is a legitimate chunk slice (e.g. a
    // rewrite's emptied-file side arriving alone under maxFiles=1)
    boot.foreach { case (id, rows) =>
      assert(rows.map(_._3).distinct.size <= 1, s"batch $id mixes stores: $rows")
    }
    def bySev(rows: Seq[(Long, Seq[(String, Int, String)])]) =
      rows.flatMap(_._2).map(r => (r._2, r._3)).toSet
    assert(bySev(boot) == Set((10, a), (20, a), (30, b)))
    // offset evolution: only B moves; A's pin stays put and contributes nothing
    TraceStore.append(mk((40, "m4", "ok", "2019-07-01 10:00:00")), b)
    assert(bySev(drain(s"$a,$b")) == Set((40, b)))
    // maintenance in A must not leak into B's feed (and vice versa)
    TraceStore.deleteWhere(spark, a, col("Severity") === 20, splitsPerMonth = 1)
    TraceStore.append(mk((50, "m5", "ok", "2019-07-02 10:00:00")), b)
    val mixed = drain(s"$a,$b")
    mixed.foreach { case (id, rows) =>
      assert(rows.map(_._3).distinct.size <= 1, s"batch $id mixes stores: $rows")
    }
    assert(mixed.flatMap(_._2).map(r => (r._1, r._2, r._3)).toSet ==
      Set(("delete", 20, a), ("insert", 50, b)))
    // the path list is part of the checkpoint contract: a reshaped fleet
    // under the same checkpoint fails loudly, never misattributes pins
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-cdc")
        .option("paths", a).option("initialLoad", "true").load()
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((_: DataFrame, _: Long) => ()).start()
      TraceStore.append(mk((60, "m6", "ok", "2019-07-03 10:00:00")), a)
      q.awaitTermination()
    }
    assert(ex.getMessage.contains("only GROW") ||
      Option(ex.getCause).exists(_.getMessage.contains("only GROW")))
    // same COUNT but reordered is the insidious variant: positional pins
    // would silently re-bind each store to the other's offset — the
    // durable path-list pin must reject it before any batch is planned
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-cdc")
        .option("paths", s"$b,$a").option("initialLoad", "true").load()
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((_: DataFrame, _: Long) => ()).start()
      q.awaitTermination()
    }
    assert(ex2.getMessage.contains("only GROW") ||
      Option(ex2.getCause).exists(_.getMessage.contains("only GROW")))
    // APPEND-ONLY growth is the one supported reshape: resuming with a
    // store added at the END keeps every existing pin (the failed
    // reshapes above never touched them), bootstraps only the newcomer,
    // and delivers existing stores' NEW changes only (row 60 has been
    // pending in A since the failed single-path attempt)
    val c = tmpDir("cdcmulti-c")
    TraceStore.append(mk((70, "m7", "ok", "2019-05-20 10:00:00")), c)
    TraceStore.append(mk((80, "m8", "ok", "2019-07-04 10:00:00")), a)
    val grown = drain(s"$a,$b,$c")
    grown.foreach { case (id, rows) =>
      assert(rows.map(_._3).distinct.size <= 1, s"batch $id mixes stores: $rows")
    }
    assert(bySev(grown) == Set((60, a), (70, c), (80, a)),
      s"newcomer bootstraps, existing stores deliver only their changes: $grown")
    // and the grown fleet keeps draining incrementally from its pins
    TraceStore.append(mk((90, "m9", "ok", "2019-07-05 10:00:00")), c)
    assert(bySev(drain(s"$a,$b,$c")) == Set((90, c)))
    // removal keeps failing loudly AFTER growth too (shrinking back)
    val ex3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-cdc")
        .option("paths", s"$a,$b").option("initialLoad", "true").load()
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((_: DataFrame, _: Long) => ()).start()
      q.awaitTermination()
    }
    assert(ex3.getMessage.contains("only GROW") ||
      Option(ex3.getCause).exists(_.getMessage.contains("only GROW")))
  }

  test("base compaction writes size-targeted MULTI-FILE parts that read and fold identically") {
    import spark.implicits._
    val idx = tmpDir("segidx-multifile")
    // baseFileBytes=1: every fold targets one file per input byte —
    // i.e. maximal splitting (capped by the shuffle width), so the base
    // part is guaranteed multi-file if the parallel path works at all
    def put(id: Long, rows: (Int, Long, Long)*): Unit =
      TraceStream.upsertSegment(spark, rows.toSeq.toDF("band", "bkey", "n"),
        id, idx, "lineage-a", Seq("band", "bkey"), Seq("n"), compactOver = 2,
        baseFileBytes = 1L)
    put(0, (0, 10L, 2L), (0, 11L, 1L)); put(1, (1, 10L, 3L))
    put(2, (0, 10L, 1L), (1, 12L, 5L)) // 3rd state change → compaction
    val base = new java.io.File(idx).listFiles.toSeq
      .find(f => f.getName.startsWith("base-") && new java.io.File(f, "_SUCCESS").exists)
    assert(base.isDefined, "3rd state change must have compacted")
    val parquets = base.get.listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquets > 1, s"1-byte target must write a multi-file base, got $parquets file(s)")
    // the multi-file base reads and folds exactly like the single-file one
    val state = TraceStream.readIndex(spark, idx).collect()
      .map((r: Row) => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(state == Map((0, 10L) -> 3L, (0, 11L) -> 1L, (1, 10L) -> 3L, (1, 12L) -> 5L))
    // and later segments keep merging over it
    put(3, (0, 10L, -3L))
    val after = TraceStream.readIndex(spark, idx).collect()
      .map((r: Row) => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after == Map((0, 11L) -> 1L, (1, 10L) -> 3L, (1, 12L) -> 5L))
  }

  test("compaction sweeps crash-orphaned incomplete parts; readers never stumble on them") {
    import spark.implicits._
    val idx = tmpDir("segidx-orphan")
    def put(id: Long, rows: (Int, Long, Long)*): Unit =
      TraceStream.upsertSegment(spark, rows.toSeq.toDF("band", "bkey", "n"),
        id, idx, "lineage-a", Seq("band", "bkey"), Seq("n"), compactOver = 3)
    put(0, (0, 10L, 2L))
    // plant what a crash mid-segment-write leaves: a part dir with data
    // but no _SUCCESS (invisible to readers, never reclaimed before)
    val orphan = java.nio.file.Paths.get(idx, "seg-1")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    // readers skip it
    val s0 = TraceStream.readIndex(spark, idx).collect()
      .map((r: Row) => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(s0 == Map((0, 10L) -> 2L))
    // appends leave it alone (sweep is compaction-time only)...
    put(2, (0, 11L, 1L)); put(3, (0, 12L, 1L))
    assert(java.nio.file.Files.exists(orphan))
    // ...and the next fold reclaims it while complete parts are untouched
    put(4, (0, 13L, 1L)) // 4th state change → compaction (compactOver=3)
    assert(!java.nio.file.Files.exists(orphan), "orphan must be swept at compaction")
    val s1 = TraceStream.readIndex(spark, idx).collect()
      .map((r: Row) => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(s1 == Map((0, 10L) -> 2L, (0, 11L) -> 1L, (0, 12L) -> 1L, (0, 13L) -> 1L))
  }

  test("the FIRST compaction keeps the just-merged segment tail for one grace cycle") {
    import spark.implicits._
    val idx = tmpDir("segidx-grace")
    def put(id: Long, rows: (Int, Long, Long)*): Unit =
      TraceStream.upsertSegment(spark, rows.toSeq.toDF("band", "bkey", "n"),
        id, idx, "lineage-a", Seq("band", "bkey"), Seq("n"), compactOver = 3)
    def segs(): Seq[Long] = new java.io.File(idx).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("seg-") &&
        new java.io.File(f, "_SUCCESS").exists)
      .map(_.getName.drop(4).toLong).sorted
    put(0, (0, 10L, 1L)); put(1, (0, 11L, 1L)); put(2, (0, 12L, 1L))
    put(3, (0, 13L, 1L)) // first compaction → base-3, NO older base exists
    // ADVICE r12: a reader that resolved seg paths just before base-3
    // committed must still find them — the tail survives this transition
    assert(segs() == Seq(0L, 1L, 2L),
      s"first compaction must keep the merged tail one cycle, got ${segs()}")
    // the second compaction provides the grace via the older base and
    // prunes the now-twice-superseded tail
    put(4, (0, 14L, 1L)); put(5, (0, 15L, 1L)); put(6, (0, 16L, 1L))
    put(7, (0, 17L, 1L)) // second compaction → base-7; floor = base-3
    assert(segs().forall(_ > 3L), s"tail under the old base must prune: ${segs()}")
    val state = TraceStream.readIndex(spark, idx).collect()
      .map((r: Row) => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(state == (10L to 17L).map(k => (0, k) -> 1L).toMap)
  }

  test("readIndex validates the declared keys/measure against the stored shape") {
    import spark.implicits._
    val idx = tmpDir("segidx-shape")
    TraceStream.upsertSegment(spark,
      Seq(("s1", 0, 10L, 2L)).toDF("_store", "band", "bkey", "n"),
      0, idx, "lineage-a", Seq("_store", "band", "bkey"), Seq("n"), compactOver = 8)
    // the default (band, bkey, n) read must REFUSE a fleet-shaped index
    // instead of silently mis-grouping by column position
    val ex = intercept[IllegalArgumentException] {
      TraceStream.readIndex(spark, idx).collect()
    }
    assert(ex.getMessage.contains("_store"))
    val rows = TraceStream.readIndex(spark, idx,
      keys = Seq("_store", "band", "bkey"), measures = Seq("n")).collect()
      .map((r: Row) => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq(("s1", 0, 10L, 2L)))
  }

  test("months scopes the stream: non-matching months are never opened (poisoned-month pin)") {
    val store = tmpDir("cdcmonths"); val ck = tmpDir("cdcmonths-ck")
    val ctl = tmpDir("cdcmonths-ctl")
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "ok", "2019-06-13 10:00:00"),
      (30, "m3", "ok", "2019-07-13 10:00:00")), store, splitsPerMonth = 1)
    val scoped = Map("initialLoad" -> "true", "months" -> ">=201906")
    // month-scoped bootstrap: May's file is dropped from the manifest
    // worklist (metadata-level), June+July arrive
    val r1 = drain(store, ck, scoped)
    assert(r1.flatMap(_._2.map(_._2)).sorted == Seq(20, 30))
    // an unscoped control stream pins the same state — its worklist will
    // include the file the poison removes below
    assert(drain(store, ctl, Map("initialLoad" -> "true"))
      .flatMap(_._2.map(_._2)).sorted == Seq(10, 20, 30))
    // a cross-month rewrite: May and June both rewritten, old files retire
    TraceStore.deleteWhere(spark, store, col("Severity") < 25, splitsPerMonth = 1)
    // poison May's RETIRED file — both streams' diff worklists reference
    // it as the delete side; only the unscoped one may ever open it
    val retiredMay = java.nio.file.Paths.get(store, "_retired", "ym=201905")
    val mayFiles = java.nio.file.Files.list(retiredMay).iterator()
    scala.jdk.CollectionConverters.IteratorHasAsScala(mayFiles).asScala
      .foreach(java.nio.file.Files.delete)
    // the scoped diff never schedules May: it sees June's delete only
    val r2 = drain(store, ck, scoped)
    assert(r2.flatMap(_._2) == Seq(("delete", 20, "m2")))
    // the poison is real: the unscoped stream's diff DOES need the file
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(store, ctl, Map("initialLoad" -> "true"))
    }
    // a change wholly OUTSIDE the scope advances the offset as an empty
    // batch (the pin moves; nothing is read)
    TraceStore.append(mk((40, "m4", "ok", "2019-05-20 10:00:00")), store)
    val r3 = drain(store, ck, scoped)
    assert(r3.map(_._2) == Seq(Seq.empty), s"out-of-scope change must be an empty batch: $r3")
    // and the idle follow-up delivers nothing at all
    assert(drain(store, ck, scoped).isEmpty)
  }

  test("the months spec is fixed per checkpoint") {
    val store = tmpDir("cdcmonthspin"); val ck = tmpDir("cdcmonthspin-ck")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 10:00:00")), store)
    drain(store, ck, Map("initialLoad" -> "true", "months" -> ">=201905"))
    TraceStore.append(mk((20, "m2", "ok", "2019-05-14 10:00:00")), store)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(store, ck, Map("initialLoad" -> "true", "months" -> ">=201906"))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("fixed per checkpoint")), messages(ex))
    // dropping the scope entirely is the same contract violation
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(store, ck, Map("initialLoad" -> "true"))
    }
    assert(messages(ex2).exists(_.contains("fixed per checkpoint")), messages(ex2))
  }

  test("month-scope migration: seed-from-old-rollup + scoped follow equals the scoped recompute") {
    val store = tmpDir("mig-store")
    val r1 = tmpDir("mig-r1"); val ck1 = tmpDir("mig-ck1")
    val r2 = tmpDir("mig-r2"); val ck2 = tmpDir("mig-ck2")
    def follow(roll: String, ck: String, months: Option[String],
               pin: Option[String] = None): Unit = {
      val q = TraceStream.followRollup(spark,
        TraceStream.Stores(Seq(store), pins = pin.map(Seq(_))), roll, ck, months = months)
      q.awaitTermination()
    }
    def state(roll: String): Map[(String, String), (Long, Long)] =
      TraceStream.readRollup(spark, roll).collect()
        .map((r: Row) => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "ok", "2019-06-01 10:00:00"),
      (30, "m3", "error", "2019-07-01 10:00:00")), store)
    follow(r1, ck1, None) // the unscoped maintainer, quiesced at current
    // MIGRATE to a rolling scope that drops May: the seed is a pure
    // filter of the old rollup (ym is part of the key), the store is
    // never recomputed, and the returned pin bases the new follow
    val pin = TraceStream.migrateRollupMonths(spark, store, r1, r2, ">=201906")
    follow(r2, ck2, Some(">=201906"), Some(pin)) // no changes yet: seed only
    assert(state(r2) == Map(("201906", "ok") -> ((1L, 20L)),
      ("201907", "error") -> ((1L, 30L))))
    // post-migration life: an in-scope append, an out-of-scope append
    // (pruned to an empty batch), and a DELETE WHERE rewriting every month
    TraceStore.append(mk(
      (40, "m4", "ok", "2019-07-02 10:00:00"),
      (50, "m5", "ok", "2019-05-20 10:00:00")), store)
    TraceStore.deleteWhere(spark, store, col("Type") === "error")
    follow(r2, ck2, Some(">=201906"), Some(pin))
    // migrate == recompute: a from-scratch scoped maintainer over the
    // same store state must land on the identical table
    val r3 = tmpDir("mig-r3"); val ck3 = tmpDir("mig-ck3")
    follow(r3, ck3, Some(">=201906"))
    assert(state(r2) == state(r3), s"migrated=${state(r2)} rebuilt=${state(r3)}")
    // re-seeding over a consumed migration must refuse (batch ids would
    // be incomparable under the live checkpoint)
    val ex = intercept[IllegalArgumentException] {
      TraceStream.migrateRollupMonths(spark, store, r1, r2, ">=201907")
    }
    assert(ex.getMessage.contains("maintained versions"))
  }

  test("monthsPredicate parses ranges and IN-sets and rejects malformed tokens") {
    import graft.sources.CdcStreamProvider.monthsPredicate
    val ge = monthsPredicate(">=201906")
    assert(ge("201906") && ge("202001") && !ge("201905"))
    val band = monthsPredicate(">=201906,<=201908")
    assert(band("201907") && !band("201909") && !band("201905"))
    val inset = monthsPredicate("201905,201907")
    assert(inset("201905") && inset("201907") && !inset("201906"))
    val mixed = monthsPredicate("201906,201907,>=201907")
    assert(mixed("201907") && !mixed("201906") && !mixed("201908"))
    intercept[IllegalArgumentException] { monthsPredicate("2019") }
    intercept[IllegalArgumentException] { monthsPredicate("=>201906") }
    intercept[IllegalArgumentException] { monthsPredicate("") }
    // and the stream surface validates at load(), with the option named
    val store = tmpDir("cdcmonthsbad")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 10:00:00")), store)
    val exl = intercept[IllegalArgumentException] {
      new graft.sources.CdcStreamProvider().createSource(spark.sqlContext,
        tmpDir("cdcmonthsbad-meta"), None, "graft-cdc",
        Map("path" -> store, "months" -> "May"))
    }
    assert(exl.getMessage.contains("months"))
  }

  test("followFleetIndex: per-store attribution in one shared index, restart-safe") {
    import graft.store.ChangeFeedQuery
    val a = tmpDir("fleetidx-a"); val b = tmpDir("fleetidx-b")
    val idx = tmpDir("fleetidx-idx"); val ck = tmpDir("fleetidx-ck")
    def catchUp(): Unit = {
      val q = TraceStream.followIndex(spark, TraceStream.Stores(Seq(a, b), fleet = true),
        idx, ck, maxFilesPerTrigger = Some(1))
      q.awaitTermination()
    }
    def rebuilt(): Set[(String, Int, Long, Long)] =
      ChangeFeedQuery.bucketRows(
        TraceStore.read(spark, a).withColumn("_store", lit(a))
          .unionByName(TraceStore.read(spark, b).withColumn("_store", lit(b))),
        carry = Seq("_store"))
        .groupBy(col("_store"), col("band"), col("bkey")).agg(count(lit(1)).as("n"))
        .collect()
        .map((r: Row) => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    def current(): Set[(String, Int, Long, Long)] =
      TraceStream.readIndex(spark, idx, keys = Seq("_store", "band", "bkey"))
        .collect()
        .map((r: Row) => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "bad", "2019-06-01 10:00:00")), a, splitsPerMonth = 1)
    TraceStore.append(mk(
      (30, "m3", "ok", "2019-05-13 10:00:00"),
      (40, "m4", "bad", "2019-06-01 10:00:00")), b, splitsPerMonth = 1)
    catchUp() // both chunked bootstraps through one checkpoint
    assert(current() == rebuilt())
    // store A's DELETE WHERE retracts ONLY A's bucket rows — B's rows
    // with the same content keep their (_store=b) entries
    TraceStore.deleteWhere(spark, a, col("Type") === "bad", splitsPerMonth = 1)
    catchUp() // a restart through the composite offset
    assert(current() == rebuilt())
    assert(current().exists(_._1 == b), "B's contributions must survive A's maintenance")
    // B compacts (invisible), then grows — the follower keeps following
    TraceStore.compact(spark, b, maxFilesPerMonth = 1, splitsPerMonth = 1)
    TraceStore.append(mk((50, "m5", "ok", "2019-07-01 10:00:00")), b)
    catchUp()
    assert(current() == rebuilt())
  }

  test("a rollup root still holding a merged-version v0 dir fails loudly on read and write") {
    import spark.implicits._
    val roll = tmpDir("rollv0")
    // the retired merged-version layout: a complete v<batchId> dir
    Seq(("201905", "ok", 1L, 10L)).toDF("ym", "Type", "n", "sev_sum")
      .write.parquet(s"$roll/v0")
    val onRead = intercept[IllegalArgumentException] {
      TraceStream.readRollup(spark, roll)
    }
    assert(onRead.getMessage.contains("rebuild"), onRead.getMessage)
    val store = tmpDir("rollv0-store")
    TraceStore.append(mk((20, "m2", "ok", "2019-05-14 10:00:00")), store)
    val onWrite = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      TraceStream.followRollup(spark, store, roll, tmpDir("rollv0-ck")).awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(onWrite).exists(_.contains("rebuild")), messages(onWrite))
    // the refused write left nothing behind that would hide the old history
    assert(new java.io.File(roll).list().toSet == Set("v0"))
  }

  test("fleet index keeps per-store attribution across membership growth") {
    import graft.store.ChangeFeedQuery
    val a = tmpDir("figrow-a"); val b = tmpDir("figrow-b"); val c = tmpDir("figrow-c")
    val idx = tmpDir("figrow-idx"); val ck = tmpDir("figrow-ck")
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 10:00:00")), a)
    TraceStore.append(mk((20, "m2", "ok", "2019-05-13 10:00:00")), b)
    def catchUp(paths: Seq[String]): Unit = {
      val q = TraceStream.followIndex(spark, TraceStream.Stores(paths, fleet = true),
        idx, ck, maxFilesPerTrigger = Some(1))
      q.awaitTermination()
    }
    def rebuilt(paths: Seq[String]): Set[(String, Int, Long, Long)] =
      ChangeFeedQuery.bucketRows(
        paths.map(p => TraceStore.read(spark, p).withColumn("_store", lit(p)))
          .reduce(_ unionByName _), carry = Seq("_store"))
        .groupBy(col("_store"), col("band"), col("bkey")).agg(count(lit(1)).as("n"))
        .collect()
        .map((r: Row) => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    def current(): Set[(String, Int, Long, Long)] =
      TraceStream.readIndex(spark, idx, keys = Seq("_store", "band", "bkey"))
        .collect()
        .map((r: Row) => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    catchUp(Seq(a, b))
    assert(current() == rebuilt(Seq(a, b)))
    // the fleet GROWS while an existing store retracts: C's census joins
    // under its fresh position, A's DELETE WHERE retracts exactly A's
    // attributed rows, B is untouched
    TraceStore.append(mk((30, "m3", "ok", "2019-05-13 10:00:00")), c)
    TraceStore.deleteWhere(spark, a, col("Severity") === 10)
    catchUp(Seq(a, b, c))
    assert(current() == rebuilt(Seq(a, b, c)),
      s"grown fleet index must equal the three-store rebuild: ${current()}")
    assert(!current().exists(_._1 == a), "A emptied — its attributed rows must be gone")
    assert(current().exists(_._1 == c), "the newcomer's census must be present")
  }

  test("chunked fleet census equals the one-shot census at N=21") {
    import graft.store.ChangeFeedQuery
    // 21 stores, bounded chunks of 4: every Spark plan in the seed sees
    // at most 4 stores (the N-way-union analyzer wall never builds),
    // and the merged seed must be row-identical to the one-shot census
    val stores = (0 until 21).map { i =>
      val p = tmpDir(s"chseed-$i")
      TraceStore.append(mk((10 + i, s"m$i", "ok", "2019-05-13 10:00:00")), p)
      p
    }
    val chunked = tmpDir("chseed-idx-chunked")
    val oneShot = tmpDir("chseed-idx-oneshot")
    TraceStream.seedIndex(spark, TraceStream.Stores(stores, fleet = true), chunked,
      censusChunk = 4)
    TraceStream.seedIndex(spark, TraceStream.Stores(stores, fleet = true), oneShot,
      censusChunk = 1000)
    def stateOf(idx: String): Set[(String, Int, Long, Long)] =
      TraceStream.readIndex(spark, idx, keys = Seq("_store", "band", "bkey"))
        .collect()
        .map((r: Row) => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(stateOf(chunked) == stateOf(oneShot),
      "chunked and one-shot censuses must be identical")
    assert(stateOf(chunked).map(_._1) == stores.toSet,
      "every store must appear in the chunked census")
    // the chunk scratch dir is swept after the merge
    assert(!new java.io.File(chunked, "_seed-census").exists())
  }

  test("month-scoped seed + scoped follow equals the scoped rebuild") {
    import graft.store.ChangeFeedQuery
    val store = tmpDir("mseed-store")
    val idx = tmpDir("mseed-idx"); val ck = tmpDir("mseed-ck")
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "ok", "2019-06-01 10:00:00")), store, splitsPerMonth = 1)
    // the seed census carries the SAME scope as the follow — an
    // unscoped seed under a scoped follow would equal neither rebuild
    val seeded = TraceStream.seedIndex(spark, store, idx, months = Some(">=201906"))
    def scopedRebuild(): Set[(Int, Long, Long)] =
      ChangeFeedQuery.bucketRows(
        TraceStore.read(spark, store).filter(col("ym") >= "201906"))
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
        .collect().map((r: Row) => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def current(): Set[(Int, Long, Long)] =
      TraceStream.readIndex(spark, idx)
        .collect().map((r: Row) => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(current() == scopedRebuild(), "the scoped seed must equal the scoped census")
    // changes in BOTH months: only the in-scope one reaches the index
    TraceStore.append(mk(
      (30, "m3", "ok", "2019-05-20 10:00:00"),
      (40, "m4", "ok", "2019-06-20 10:00:00")), store, splitsPerMonth = 1)
    val q = TraceStream.followIndex(spark, seeded, idx, ck,
      maxFilesPerTrigger = Some(1), months = Some(">=201906"))
    q.awaitTermination()
    assert(current() == scopedRebuild(),
      "scoped seed + scoped increments must equal the scoped rebuild")
  }

  test("fleet seed: one batch census over all pins + follow-from-pins equals rebuild") {
    import graft.store.ChangeFeedQuery
    val a = tmpDir("fseed-a"); val b = tmpDir("fseed-b")
    val idx = tmpDir("fseed-idx"); val ck = tmpDir("fseed-ck")
    TraceStore.append(mk(
      (10, "m1", "ok", "2019-05-13 10:00:00"),
      (20, "m2", "bad", "2019-06-01 10:00:00")), a, splitsPerMonth = 1)
    TraceStore.append(mk((30, "m3", "ok", "2019-05-13 10:00:00")), b)
    // corpus-scale fleet bootstrap: pin every store, ONE parallel census
    val seeded = TraceStream.seedIndex(spark, TraceStream.Stores(Seq(a, b), fleet = true), idx)
    val pins = seeded.paths.zip(seeded.pins.get)
    assert(pins.map(_._1) == Seq(a, b))
    def rebuilt(): Set[(String, Int, Long, Long)] =
      ChangeFeedQuery.bucketRows(
        TraceStore.read(spark, a).withColumn("_store", lit(a))
          .unionByName(TraceStore.read(spark, b).withColumn("_store", lit(b))),
        carry = Seq("_store"))
        .groupBy(col("_store"), col("band"), col("bkey")).agg(count(lit(1)).as("n"))
        .collect()
        .map((r: Row) => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    def current(): Set[(String, Int, Long, Long)] =
      TraceStream.readIndex(spark, idx, keys = Seq("_store", "band", "bkey"))
        .collect()
        .map((r: Row) => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(current() == rebuilt(), "the fleet seed alone must equal both pinned censuses")
    // the fleet moves on; follow CHANGES from the pins — no streaming
    // bootstrap, per-store diffs from each store's own pin
    TraceStore.append(mk((40, "m4", "ok", "2019-07-01 10:00:00")), a)
    TraceStore.deleteWhere(spark, a, col("Type") === "bad", splitsPerMonth = 1)
    def catchUp(): Unit = {
      val q = TraceStream.followIndex(spark, seeded, idx, ck,
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
    }
    catchUp()
    assert(current() == rebuilt(), "fleet seed + streamed increments must equal rebuild")
    // restarts keep following (the pins only base the FIRST diffs)
    TraceStore.append(mk((50, "m5", "ok", "2019-07-02 10:00:00")), b)
    catchUp()
    assert(current() == rebuilt())
    // re-seeding a live index refuses
    val ex = intercept[IllegalArgumentException] {
      TraceStream.seedIndex(spark, TraceStream.Stores(Seq(a, b), fleet = true), idx)
    }
    assert(ex.getMessage.contains("already has parts"))
    // the pin list is positional — a count mismatch fails at construction
    val ex2 = intercept[IllegalArgumentException] {
      new graft.sources.CdcStreamProvider().createSource(spark.sqlContext,
        tmpDir("fseed-meta"), None, "graft-cdc",
        Map("paths" -> s"$a,$b", "startingSnapshots" -> pins.head._2))
    }
    assert(ex2.getMessage.contains("positional"))
  }

  test("fleet index pins its bands: a follow at other bands is refused") {
    val a = tmpDir("fbands-a"); val b = tmpDir("fbands-b")
    val idx = tmpDir("fbands-idx"); val ck = tmpDir("fbands-ck")
    val fleet = TraceStream.Stores(Seq(a, b), fleet = true)
    TraceStore.append(mk((10, "m1", "ok", "2019-05-13 10:00:00")), a)
    TraceStore.append(mk((20, "m2", "ok", "2019-05-13 10:00:00")), b)
    TraceStream.followIndex(spark, fleet, idx, ck).awaitTermination()
    assert(new java.io.File(idx, "_bands").exists(), "the fleet follow pins its bands")
    // a change gives the next run a batch, whose first step checks the pin
    TraceStore.append(mk((30, "m3", "ok", "2019-05-13 10:00:00")), a)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      TraceStream.followIndex(spark, fleet, idx, ck, bands = 4).awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m => m.contains("bands=2") && m.contains("bands=4") &&
      m.contains("incomparable")), messages(ex))
  }

  test("multi offset json round-trips") {
    val o = graft.sources.CdcMultiOffset(1, IndexedSeq(
      CdcOffset("s000003"),
      CdcOffset("s000007", Some(12), Some("s000004")),
      CdcOffset.Start))
    assert(graft.sources.CdcMultiOffset.parse(o.json) == o)
    intercept[IllegalArgumentException] {
      graft.sources.CdcMultiOffset.parse("""{"snapshot":"s000001"}""")
    }
  }

  test("offset json round-trips and rejects foreign offsets") {
    val o = CdcOffset("s000042")
    assert(CdcOffset.parse(o.json) == o)
    val c = CdcOffset("s000042", Some(128))
    assert(CdcOffset.parse(c.json) == c)
    val d = CdcOffset("s000042", Some(128), Some("s000040"))
    assert(CdcOffset.parse(d.json) == d)
    intercept[IllegalArgumentException] { CdcOffset.parse("""{"file":"x"}""") }
  }
}
