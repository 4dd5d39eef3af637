package graft.store

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-travel contract: a snapshot id pins the exact row set at capture
  * time across every maintenance mutation (compact, DELETE WHERE,
  * retention drop), survives crash recovery, and releases its storage
  * through drop + vacuum. */
class SnapshotSpec extends SparkSpec {

  private def row(sev: Int, t: String, id: Option[String]) =
    (sev, s"m$sev", "default", Timestamp.valueOf(t), "Role", id)

  private def mkStore(path: String, n: Int): Unit = {
    import spark.implicits._
    // n single-row appends → n files per touched month (compactable)
    (0 until n).foreach { i =>
      TraceStore.append(Seq(
        row(i, f"2019-05-${(i % 27) + 1}%02d 12:00:00", Some(s"id$i"))
      ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    }
  }

  private def rows(df: DataFrame): Set[(Int, String)] =
    df.select(col("Severity"), col("ID")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet

  test("snapshot survives compaction bit-for-bit; live read sees the compacted table") {
    val path = tmpDir("snap-compact")
    mkStore(path, 6)
    val before = rows(TraceStore.read(spark, path))
    val id = TraceStore.snapshot(path)
    val compacted = TraceStore.compact(spark, path, maxFilesPerMonth = 2, splitsPerMonth = 1)
    assert(compacted == Seq("201905"))
    assert(rows(TraceStore.read(spark, path)) == before)           // live rows unchanged
    assert(rows(TraceStore.readSnapshot(spark, path, id)) == before) // snapshot identical
    // pinned pre-compaction files moved to _retired, not deleted
    assert(Files.exists(Paths.get(path).resolve("_retired").resolve("ym=201905")))
    // ym partition column survives the snapshot read path
    val yms = TraceStore.readSnapshot(spark, path, id)
      .select("ym").distinct().collect().map(_.getString(0)).toSeq
    assert(yms == Seq("201905"))
  }

  test("snapshot is point-in-time across DELETE WHERE") {
    val path = tmpDir("snap-delete")
    mkStore(path, 4)
    val before = rows(TraceStore.read(spark, path))
    val id = TraceStore.snapshot(path)
    TraceStore.deleteWhere(spark, path, col("ID") === "id1")
    val live = rows(TraceStore.read(spark, path))
    assert(live == before.filterNot(_._2 == "id1"))
    assert(rows(TraceStore.readSnapshot(spark, path, id)) == before)
  }

  test("retention drop retires pinned files; snapshot still reads the dropped month") {
    import spark.implicits._
    val path = tmpDir("snap-drop")
    TraceStore.append(Seq(
      row(1, "2019-04-10 08:00:00", Some("old")),
      row(2, "2019-06-10 08:00:00", Some("new"))
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    val before = rows(TraceStore.read(spark, path))
    val id = TraceStore.snapshot(path)
    assert(TraceStore.dropPartitionsBefore(path, "201906") == Seq("201904"))
    assert(rows(TraceStore.read(spark, path)) == Set((2, "new")))
    assert(rows(TraceStore.readSnapshot(spark, path, id)) == before)
  }

  test("unpinned maintenance still deletes outright (no retired garbage)") {
    val path = tmpDir("snap-none")
    mkStore(path, 6)
    TraceStore.compact(spark, path, maxFilesPerMonth = 2, splitsPerMonth = 1)
    assert(!Files.exists(Paths.get(path).resolve("_retired")))
  }

  test("drop + vacuum reclaims exactly the unpinned retired files") {
    val path = tmpDir("snap-vacuum")
    mkStore(path, 6)
    val s1 = TraceStore.snapshot(path)
    TraceStore.compact(spark, path, maxFilesPerMonth = 2, splitsPerMonth = 1)
    val s2 = TraceStore.snapshot(path)                 // pins only live files
    assert(TraceStore.vacuumSnapshots(path).isEmpty)   // s1 still pins retired set
    val s1rows = rows(TraceStore.readSnapshot(spark, path, s1))
    TraceStore.dropSnapshot(path, s1)
    val removed = TraceStore.vacuumSnapshots(path)
    assert(removed.nonEmpty)
    assert(!Files.exists(Paths.get(path).resolve("_retired")),
      "vacuum must clear emptied month dirs")
    // s2 (live-file snapshot) still reads fine
    assert(rows(TraceStore.readSnapshot(spark, path, s2)) == s1rows)
    // s1 is gone; a read must fail loudly, not return partial data
    intercept[IllegalArgumentException] {
      TraceStore.readSnapshot(spark, path, s1)
    }
  }

  test("crash between install and delete: recovery retires pinned files") {
    val path = tmpDir("snap-crash")
    mkStore(path, 4)
    val before = rows(TraceStore.read(spark, path))
    val id = TraceStore.snapshot(path)
    val monthDir = Paths.get(path).resolve("ym=201905")
    val old = FsMaint.listDir(monthDir).filter(_.toString.endsWith(".parquet"))
    // fabricate the committed-but-undeleted crash state the soak spec
    // uses: rewrite done + installed, manifest present, old files still
    // in place (the transient-duplicate window)
    val tmp = monthDir.resolveSibling(".compact-201905-snapcr")
    spark.read.schema(graft.schema.TraceSchema.target)
      .parquet(old.map(_.toString): _*)
      .repartition(1).sortWithinPartitions(col("Time"))
      .write.mode("overwrite").parquet(tmp.toString)
    val installs = FsMaint.listDir(tmp).filter(_.toString.endsWith(".parquet"))
      .zipWithIndex.map { case (f, i) => (f.getFileName.toString, f"compacted-201905-snapcr-$i%05d.parquet") }
    Files.write(monthDir.resolve("_compact_manifest"),
      (".compact-201905-snapcr" +:
       (installs.map { case (a, b) => s"install\t$a\t$b" } ++
        old.map(p => s"delete\t${p.getFileName}"))).mkString("\n").getBytes)
    installs.foreach { case (from, to) =>
      Files.move(tmp.resolve(from), monthDir.resolve(to))
    }
    // the change feed must resolve the crashed attempt BEFORE diffing:
    // without recovery the installed copies are live-but-unpinned and
    // the whole month would over-report as inserts
    assert(TraceStore.readChangesSince(spark, path, id).count() == 0,
      "a half-committed rewrite must not surface in the feed")
    // next maintenance call runs recovery: the delete-set must RETIRE
    // (snapshot pins it), and the snapshot must still read exactly
    TraceStore.compact(spark, path, maxFilesPerMonth = 9999)
    assert(!Files.exists(monthDir.resolve("_compact_manifest")))
    assert(rows(TraceStore.read(spark, path)) == before)
    assert(rows(TraceStore.readSnapshot(spark, path, id)) == before)
    assert(Files.exists(Paths.get(path).resolve("_retired").resolve("ym=201905")))
  }

  test("readAppendedSince yields exactly the increment; refuses after a rewrite") {
    import spark.implicits._
    val path = tmpDir("snap-incr")
    mkStore(path, 3)
    val s1 = TraceStore.snapshot(path)
    // nothing appended yet → empty increment with the store schema
    val empty = TraceStore.readAppendedSince(spark, path, s1)
    assert(empty.count() == 0 && empty.columns.contains("ym"))
    TraceStore.append(Seq(
      row(100, "2019-06-02 09:00:00", Some("late"))
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    assert(rows(TraceStore.readAppendedSince(spark, path, s1)) == Set((100, "late")))
    // cycle: re-base, append again, increment is only the second batch
    val s2 = TraceStore.snapshot(path)
    TraceStore.append(Seq(
      row(101, "2019-06-03 09:00:00", Some("later"))
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    assert(rows(TraceStore.readAppendedSince(spark, path, s2)) == Set((101, "later")))
    // a maintenance rewrite invalidates the append-only premise: refuse
    TraceStore.compact(spark, path, maxFilesPerMonth = 1, splitsPerMonth = 1)
    intercept[IllegalArgumentException] {
      TraceStore.readAppendedSince(spark, path, s2)
    }
  }

  test("readChangesSince survives rewrites: compaction no-op, erase → deletes") {
    import spark.implicits._
    val path = tmpDir("snap-feed")
    mkStore(path, 4) // ids 0..3, May 2019
    val s1 = TraceStore.snapshot(path)
    def feed(): Map[String, Set[(Int, String)]] =
      TraceStore.readChangesSince(spark, path, s1)
        .select(col("_change"), col("Severity"), col("ID")).collect()
        .groupBy(_.getString(0))
        .map { case (k, rs) => k -> rs.map(r => (r.getInt(1), r.getString(2))).toSet }
    assert(feed() == Map.empty) // no changes yet
    // pure compaction must be INVISIBLE — the exact state
    // readAppendedSince refuses (its own spec above proves the refusal)
    TraceStore.compact(spark, path, maxFilesPerMonth = 1, splitsPerMonth = 1)
    assert(feed() == Map.empty, "a pure rewrite must not surface in the feed")
    // append B, then erase one baseline row and one B row
    TraceStore.append(Seq(
      row(100, "2019-06-02 09:00:00", Some("b0")),
      row(101, "2019-06-02 10:00:00", Some("b1"))
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    TraceStore.deleteWhere(spark, path, col("ID") === "id1" || col("ID") === "b1")
    // compact again across the erase boundary
    TraceStore.compact(spark, path, maxFilesPerMonth = 1, splitsPerMonth = 1)
    assert(feed() == Map(
      "insert" -> Set((100, "b0")),          // b1 inserted+erased in-window: never surfaces
      "delete" -> Set((1, "id1"))))          // baseline row erased → delete
    // retention drop of the baseline month → remaining baseline rows delete
    TraceStore.dropPartitionsBefore(path, "201906")
    assert(feed() == Map(
      "insert" -> Set((100, "b0")),
      "delete" -> Set((0, "id0"), (1, "id1"), (2, "id2"), (3, "id3"))))
    // releasing the snapshot destroys the baseline: refuse loudly (a
    // pinned-but-manually-deleted retired file fails the same way via
    // the vacuumed-file check; vacuum itself can never remove a pin of
    // a LIVE manifest, so that arm is only reachable by interference)
    TraceStore.dropSnapshot(path, s1)
    TraceStore.vacuumSnapshots(path)
    intercept[IllegalArgumentException] { TraceStore.readChangesSince(spark, path, s1) }
  }

  test("advanceCursor drives an at-least-once CDC consumer loop across maintenance") {
    import spark.implicits._
    val path = tmpDir("snap-cursor")
    mkStore(path, 3) // ids 0..2
    val s0 = TraceStore.snapshot(path)
    TraceStore.append(Seq(
      row(100, "2019-06-02 09:00:00", Some("b0"))
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    TraceStore.deleteWhere(spark, path, col("ID") === "id1")
    TraceStore.compact(spark, path, maxFilesPerMonth = 1, splitsPerMonth = 1)
    def asSets(df: DataFrame) = {
      val rs = df.select(col("_change"), col("Severity"), col("ID")).collect()
      (rs.filter(_.getString(0) == "insert").map(r => (r.getInt(1), r.getString(2))).toSet,
       rs.filter(_.getString(0) == "delete").map(r => (r.getInt(1), r.getString(2))).toSet)
    }
    val (feed1, s1) = TraceStore.advanceCursor(spark, path, s0)
    assert(asSets(feed1) == (Set((100, "b0")), Set((1, "id1"))))
    // crash before commit → re-run from the SAME prev pin: identical feed
    // (both pins still exist; the extra pin is dropped with the old one)
    val (feed1b, s1b) = TraceStore.advanceCursor(spark, path, s0)
    assert(asSets(feed1b) == asSets(feed1))
    // durable commit → release everything before the new cursor
    TraceStore.dropSnapshot(path, s0); TraceStore.dropSnapshot(path, s1)
    TraceStore.vacuumSnapshots(path)
    // next cycle sees only the new increment
    TraceStore.append(Seq(
      row(101, "2019-06-03 09:00:00", Some("b1"))
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    val (feed2, s2) = TraceStore.advanceCursor(spark, path, s1b)
    assert(asSets(feed2) == (Set((101, "b1")), Set.empty[(Int, String)]))
    assert(TraceStore.listSnapshots(path) == Seq(s1b, s2))
  }

  test("changedKeysBetween order is pinned: months ascending, sides merged by file fraction") {
    import spark.implicits._
    // chunk offsets index this list, so its order is an offset contract
    val path = tmpDir("snap-order")
    def put(sev: Int, t: String): Unit = TraceStore.append(Seq(row(sev, t, Some(s"id$sev")))
      .toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    put(0, "2019-04-01 08:00:00")                   // 201904: one file
    (1 to 3).foreach(i => put(i, f"2019-05-0$i%d 08:00:00")) // 201905: three files
    val from = TraceStore.snapshot(path)
    assert(TraceStore.compact(spark, path, maxFilesPerMonth = 2, splitsPerMonth = 2) ==
      Seq("201905"))
    put(4, "2019-04-02 08:00:00"); put(5, "2019-04-03 08:00:00") // 201904: two appends
    val to = TraceStore.snapshot(path)
    def month(id: String, ym: String): Set[String] =
      TraceStore.snapshotKeys(path, id).filter(_.startsWith(s"ym=$ym/")).toSet
    val appended = (month(to, "201904") -- month(from, "201904")).toSeq.sorted
    val retired = (month(from, "201905") -- month(to, "201905")).toSeq.sorted
    val rewritten = (month(to, "201905") -- month(from, "201905")).toSeq.sorted
    assert(appended.size == 2 && retired.size == 3 && rewritten.size == 2)
    // 201905's fractions: retired 1/6, 3/6, 5/6 against rewritten 1/4, 3/4
    val may = Seq(retired(0) -> false, rewritten(0) -> true, retired(1) -> false,
      rewritten(1) -> true, retired(2) -> false)
    val got = TraceStore.changedKeysBetween(path, from, to)
    assert(got == appended.map(_ -> true) ++ may)
    // a month-scoped worklist is that month's contiguous run, in order
    assert(got.filter(_._1.startsWith("ym=201905/")) == may)
    assert(got.slice(2, 7) == may)
  }

  test("one-sided slices are a tagged scan equal to the signed diff; a compaction slice cancels") {
    import spark.implicits._
    val path = tmpDir("snap-slices")
    mkStore(path, 2) // ids 0..1, May 2019
    val s1 = TraceStore.snapshot(path)
    val dup = row(7, "2019-06-02 09:00:00", Some("dup"))
    TraceStore.append(Seq(dup, dup, row(8, "2019-06-03 09:00:00", None))
      .toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    val s2 = TraceStore.snapshot(path)
    def bag(df: DataFrame): Map[String, Int] =
      df.collect().map(_.toSeq.mkString("|")).groupBy(identity).map { case (k, v) => k -> v.length }
    def slice(from: String, to: String): DataFrame =
      TraceStore.readChangedKeys(spark, path, TraceStore.changedKeysBetween(path, from, to), "slice")
    def signed(from: String, to: String): DataFrame = {
      val (a, b) = (TraceStore.readSnapshot(spark, path, from), TraceStore.readSnapshot(spark, path, to))
      b.exceptAll(a).withColumn("_change", lit("insert"))
        .unionByName(a.exceptAll(b).withColumn("_change", lit("delete")))
    }
    def shuffles(df: DataFrame): Boolean = {
      df.collect() // settle the adaptive plan
      df.queryExecution.executedPlan.toString.contains("Exchange")
    }
    val cols = TraceStore.readSnapshot(spark, path, s2).columns.toSeq :+ "_change"
    // append-only: every changed file is an insert, duplicates keep their count
    assert(TraceStore.changedKeysBetween(path, s1, s2).forall(_._2))
    val inserts = slice(s1, s2)
    assert(inserts.columns.toSeq == cols)
    assert(bag(inserts) == bag(signed(s1, s2)) && bag(inserts).values.sum == 3)
    assert(!shuffles(inserts), "a one-sided slice needs no exchange")
    // the reverse pair is delete-only: the same rows, signed the other way
    val deletes = slice(s2, s1)
    assert(deletes.columns.toSeq == cols && !shuffles(deletes))
    assert(bag(deletes) == bag(signed(s2, s1)) && bag(deletes).values.sum == 3)
    // a retention drop retires whole files: delete-only again
    TraceStore.dropPartitionsBefore(path, "201906")
    val s3 = TraceStore.snapshot(path)
    assert(TraceStore.changedKeysBetween(path, s2, s3).forall(!_._2))
    assert(bag(slice(s2, s3)) == bag(signed(s2, s3)) && bag(slice(s2, s3)).values.sum == 2)
    // a compaction's slice holds both sides and still cancels to nothing
    TraceStore.append(Seq(row(9, "2019-06-04 09:00:00", Some("id9")))
      .toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), path)
    val s3b = TraceStore.snapshot(path)
    TraceStore.compact(spark, path, maxFilesPerMonth = 1, splitsPerMonth = 1)
    val s4 = TraceStore.snapshot(path)
    assert(TraceStore.changedKeysBetween(path, s3b, s4).map(_._2).toSet == Set(true, false))
    assert(slice(s3b, s4).count() == 0)
  }

  test("snapshot ids are monotonic and listable") {
    val path = tmpDir("snap-ids")
    mkStore(path, 2)
    val a = TraceStore.snapshot(path)
    val b = TraceStore.snapshot(path)
    assert(a == "s000001" && b == "s000002")
    assert(TraceStore.listSnapshots(path) == Seq(a, b))
  }
}
