package graft.store

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Store layout contract (SURVEY.md §1.5): month partitions, sorted files,
  * pruning. */
class StoreSpec extends SparkSpec {

  private def mkBatch() = {
    import spark.implicits._
    Seq(
      (10, "m1", "default", Timestamp.valueOf("2019-05-13 15:37:32"), "Role", Option("a")),
      (20, "m2", "default", Timestamp.valueOf("2019-06-01 00:00:00"), "Metrics", None),
      (30, "m1", "default", Timestamp.valueOf("2019-05-20 10:00:00"), "Role", Option("b")),
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID")
  }

  test("append writes Hive-style ym partitions sorted by Time") {
    val path = tmpDir("store")
    TraceStore.append(mkBatch(), path)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("ym=201905", "ym=201906"))
    val may = TraceStore.read(spark, path).filter(col("ym") === "201905")
      .orderBy("Time").select("Severity").collect().map(_.getInt(0))
    assert(may.toSeq == Seq(10, 30))
  }

  test("timeRange prunes to the matching month partitions") {
    val path = tmpDir("store2")
    TraceStore.append(mkBatch(), path)
    val got = TraceStore.timeRange(spark, path,
      Timestamp.valueOf("2019-05-01 00:00:00"), Timestamp.valueOf("2019-06-01 00:00:00"))
    assert(got.count() == 2)
    // partition filter must appear in the plan (pruning, not post-filter)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ym"))
  }

  test("dim-filtered joins prune fact partitions dynamically (DPP)") {
    import spark.implicits._
    val path = tmpDir("storedpp")
    TraceStore.append(mkBatch(), path)
    // a month→period dimension with a selective filter: Catalyst should
    // inject a dynamicpruning subquery into the fact scan's partition
    // filters so only the qualifying ym directories are read at runtime —
    // the 100 TB behavior for star joins keyed on the partition column.
    // (The dim must be a file relation: a driver-LocalRelation gets its
    // filter constant-folded away and never matches the DPP rule.)
    val dimPath = tmpDir("dppdim")
    Seq(("201905", "spring"), ("201906", "summer"))
      .toDF("ym", "period").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val q = TraceStore.read(spark, path)
      .join(dim, Seq("ym"))
      .filter(col("period") === "spring")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery in:\n$plan")
    assert(q.count() == 2)   // only the 201905 rows
  }

  test("store files carry bloom filters on the dimension columns (skip-index analogue)") {
    import scala.jdk.CollectionConverters._
    // parquet only materializes a bloom filter once a column's dictionary
    // overflows (a fully-dictionary-encoded column IS an exact filter) —
    // so the fixture needs production-like Machine cardinality
    val big = spark.range(50000).select(
      lit(10).as("Severity"),
      concat(lit("machine-with-a-long-host-prefix-"), col("id").cast("string"),
        lit(":4500")).as("Machine"),
      lit("default").as("LogGroup"),
      to_timestamp(lit("2019-05-13 15:37:32")).as("Time"),
      lit("Role").as("Type"),
      col("id").cast("string").as("ID"))
    val path = tmpDir("storebloom")
    TraceStore.append(big, path)
    val file = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val bfReader = reader.getBloomFilterDataReader(block)
      def bloomOf(name: String) = block.getColumns.asScala
        .find(_.getPath.toDotString == name).map(bfReader.readBloomFilter)
      assert(bloomOf("Machine").exists(_ != null), "Machine bloom filter missing")
      // constant Type stays dictionary-encoded -> parquet correctly omits
      // its bloom; LogGroup has bloom disabled entirely
      assert(bloomOf("LogGroup").forall(_ == null), "LogGroup should have no bloom")
    } finally reader.close()
  }

  test("appends are additive (micro-batch commit unit)") {
    val path = tmpDir("store3")
    TraceStore.append(mkBatch(), path)
    TraceStore.append(mkBatch(), path)
    assert(TraceStore.read(spark, path).count() == 6)
  }

  test("compact merges many micro-batch files, preserves rows, skips small months") {
    val path = tmpDir("store4")
    (1 to 20).foreach(_ => TraceStore.append(mkBatch(), path))   // 20 files/month
    def nFiles(ym: String) =
      new java.io.File(s"$path/ym=$ym").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(nFiles("201905") == 20)
    val before = TraceStore.read(spark, path).orderBy("Time", "Severity")
      .collect().map(_.toSeq)
    val compacted = TraceStore.compact(spark, path, maxFilesPerMonth = 16,
      splitsPerMonth = 2)
    assert(compacted.sorted == Seq("201905", "201906"))
    assert(nFiles("201905") <= 2 && nFiles("201906") <= 2)
    val after = TraceStore.read(spark, path).orderBy("Time", "Severity")
      .collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq)        // lossless rewrite
    // second run is a no-op: both months are now under the threshold
    assert(TraceStore.compact(spark, path, maxFilesPerMonth = 16).isEmpty)
  }

  test("re-compacting a regrown month keeps every row (no name collisions)") {
    val path = tmpDir("store5")
    (1 to 6).foreach(_ => TraceStore.append(mkBatch(), path))
    TraceStore.compact(spark, path, maxFilesPerMonth = 4, splitsPerMonth = 2)
    assert(TraceStore.read(spark, path).count() == 18)
    // month regrows past the threshold, including the compacted-* files
    (1 to 6).foreach(_ => TraceStore.append(mkBatch(), path))
    TraceStore.compact(spark, path, maxFilesPerMonth = 4, splitsPerMonth = 2)
    assert(TraceStore.read(spark, path).count() == 36)
    TraceStore.compact(spark, path, maxFilesPerMonth = 4, splitsPerMonth = 2)
    assert(TraceStore.read(spark, path).count() == 36)
  }

  test("a crashed compaction attempt is completed from its manifest") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = tmpDir("store6")
    TraceStore.append(mkBatch(), path)            // 201905: 2 rows, 201906: 1
    val monthDir = Paths.get(path, "ym=201905")
    val old = Files.list(monthDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    // fabricate the post-rewrite, pre-install crash state: temp output
    // exists, manifest written, nothing installed yet
    val tmpName = ".compact-201905-testattempt"
    val tmp = monthDir.resolveSibling(tmpName)
    spark.read.schema(graft.schema.TraceSchema.target)
      .parquet(old.map(_.toString): _*)
      .coalesce(1).sortWithinPartitions(org.apache.spark.sql.functions.col("Time"))
      .write.option("compression", "zstd").parquet(tmp.toString)
    val installs = Files.list(tmp).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.zipWithIndex
      .map { case (f, i) => s"install\t${f.getFileName}\tcompacted-201905-testattempt-$i.parquet" }
    val deletes = old.map(p => s"delete\t${p.getFileName}")
    Files.write(monthDir.resolve("_compact_manifest"),
      (tmpName +: (installs ++ deletes)).mkString("\n").getBytes)
    // recovery runs at the head of the next compact() call
    TraceStore.compact(spark, path, maxFilesPerMonth = 1000)
    assert(!Files.exists(monthDir.resolve("_compact_manifest")))
    assert(!Files.exists(tmp))
    val after = Files.list(monthDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.getFileName.toString).toSeq
    assert(after.forall(_.startsWith("compacted-201905-testattempt")), after.toString)
    assert(TraceStore.read(spark, path).count() == 3)   // no loss, no dupes
  }

  test("compact clears a crashed rewrite's nested temp tree and a stray manifest tmp") {
    import java.nio.file.{Files, Paths}
    val path = tmpDir("store7")
    TraceStore.append(mkBatch(), path)
    val monthDir = Paths.get(path, "ym=201905")
    // crash state A: rewrite died mid-job — orphan .compact-* dir with a
    // _temporary/ SUBTREE (a non-recursive cleanup wedges on this)
    val orphan = monthDir.resolveSibling(".compact-201905-deadattempt")
    Files.createDirectories(orphan.resolve("_temporary").resolve("0"))
    Files.write(orphan.resolve("_temporary").resolve("0").resolve("task.parquet"),
      Array[Byte](1, 2, 3))
    // crash state B: manifest staged but never renamed — must be discarded
    Files.write(monthDir.resolve("_compact_manifest.tmp"), "garbage".getBytes)

    TraceStore.compact(spark, path, maxFilesPerMonth = 1000)

    assert(!Files.exists(orphan), "orphan temp tree not cleared")
    assert(!Files.exists(monthDir.resolve("_compact_manifest.tmp")))
    assert(TraceStore.read(spark, path).count() == 3)   // data untouched
    // and the store still compacts afterwards
    assert(TraceStore.compact(spark, path, maxFilesPerMonth = 1000).isEmpty)
  }

  test("deleteWhere erases matching rows, leaves clean months byte-identical") {
    val path = tmpDir("store-del")
    (1 to 3).foreach(_ => TraceStore.append(mkBatch(), path))
    // m2 rows live only in 201906; 201905 (m1-only) must not be rewritten
    def fileNames(ym: String) =
      new java.io.File(s"$path/ym=$ym").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq
    val mayBefore = fileNames("201905")
    val redacted = TraceStore.deleteWhere(spark, path, col("Machine") === "m2")
    assert(redacted == Seq("201906"))
    val rows = TraceStore.read(spark, path).collect()
    assert(!rows.exists(_.getAs[String]("Machine") == "m2"))
    assert(rows.count(_.getAs[String]("Machine") == "m1") == 6) // 2 rows × 3 appends
    assert(fileNames("201905") == mayBefore)       // untouched month: same files
    // idempotent: nothing left to erase
    assert(TraceStore.deleteWhere(spark, path, col("Machine") === "m2").isEmpty)
    // erasing the rest empties the table but keeps the layout valid
    TraceStore.deleteWhere(spark, path, col("Severity") >= 0)
    assert(TraceStore.read(spark, path).count() == 0)
  }

  test("dropPartitionsBefore drops whole months, cleans crash leftovers, idempotent") {
    import java.nio.file.{Files, Paths}
    val path = tmpDir("store-ttl")
    (1 to 3).foreach(_ => TraceStore.append(mkBatch(), path))   // 201905 + 201906
    // a crashed previous drop left a trash orphan; next call must clear it
    val orphan = Paths.get(path, ".trash-201904-deadbeef")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("stale.parquet"), Array[Byte](1, 2, 3))

    val dropped = TraceStore.dropPartitionsBefore(path, "201906")
    assert(dropped == Seq("201905"))
    assert(!Files.exists(orphan), "crash leftover not cleared")
    assert(!Files.exists(Paths.get(path, "ym=201905")))
    val left = TraceStore.read(spark, path)
    assert(left.count() == 3 &&
      left.select("ym").distinct().collect().map(_.getString(0)).toSeq == Seq("201906"))
    // idempotent; an equal-ym cutoff is exclusive (the cutoff month stays)
    assert(TraceStore.dropPartitionsBefore(path, "201906").isEmpty)
    assert(TraceStore.read(spark, path).count() == 3)
    // malformed cutoff fails loudly instead of silently dropping nothing
    intercept[IllegalArgumentException] {
      TraceStore.dropPartitionsBefore(path, "2019-06")
    }
    // dropping everything leaves a valid empty table
    assert(TraceStore.dropPartitionsBefore(path, "999912") == Seq("201906"))
    assert(TraceStore.read(spark, path).count() == 0)
  }

  test("retainLastMonths anchors the TTL window to data time, not wall-clock") {
    import java.nio.file.{Files, Paths}
    val path = tmpDir("store-ttl3")
    TraceStore.append(mkBatch(), path)   // 201905 + 201906
    // window covers everything present → no-op
    assert(TraceStore.retainLastMonths(path, 2).isEmpty)
    // keep the newest month only: 201905 expires RELATIVE to 201906 — a
    // 2019 backfill ages against itself, never against today's clock
    assert(TraceStore.retainLastMonths(path, 1) == Seq("201905"))
    assert(TraceStore.read(spark, path).select("ym").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("201906"))
    assert(TraceStore.retainLastMonths(path, 1).isEmpty)   // idempotent
    // year-boundary month arithmetic: newest 202001, keep 3 → cutoff 201911
    Files.createDirectories(Paths.get(path, "ym=202001"))
    assert(TraceStore.retainLastMonths(path, 3) == Seq("201906"))
    intercept[IllegalArgumentException](TraceStore.retainLastMonths(path, 0))
    assert(TraceStore.retainLastMonths(tmpDir("store-ttl3e"), 3).isEmpty)
  }

  test("thinExpired keeps a deterministic 1-in-k sample in expired months only") {
    import spark.implicits._
    import graft.schema.TraceSchema
    val path = tmpDir("store-thin")
    val batch = (0 until 200).flatMap { i =>
      Seq("2019-04-05 08:00:00", "2019-05-05 08:00:00", "2019-06-05 08:00:00").map(t =>
        (i, s"m${i % 7}", "default", Timestamp.valueOf(t), "Role", Option(s"id$i")))
    }.toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID")
    TraceStore.append(batch, path)
    // keep the newest 2 months exact → only 201904 is thinned, and its
    // survivors are exactly the content-hash predicate's rows
    val stored = spark.read.schema(TraceSchema.target).parquet(s"$path/ym=201904")
    val expected = stored
      .filter(pmod(xxhash64(TraceSchema.target.fieldNames.map(col).toIndexedSeq: _*),
        lit(4L)) === 0L)
      .select("ID").collect().map(_.getString(0)).toSet
    assert(expected.nonEmpty && expected.size < 200, "fixture must actually thin")
    val mayFiles = new java.io.File(s"$path/ym=201905").list().sorted.toSeq
    assert(TraceStore.thinExpired(spark, path, keepExactMonths = 2, k = 4) == Seq("201904"))
    val after = TraceStore.read(spark, path)
    assert(after.filter(col("ym") === "201904").select("ID")
      .collect().map(_.getString(0)).toSet == expected)
    assert(after.filter(col("ym") =!= "201904").count() == 400)
    // exact months untouched on disk, not rewritten-to-equal
    assert(new java.io.File(s"$path/ym=201905").list().sorted.toSeq == mayFiles)
    // idempotent: survivors all satisfy the predicate → probe skips, no 1/k²
    assert(TraceStore.thinExpired(spark, path, keepExactMonths = 2, k = 4).isEmpty)
    assert(TraceStore.read(spark, path).filter(col("ym") === "201904")
      .count().toInt == expected.size)
    // window covering everything, or k=1: no-ops
    assert(TraceStore.thinExpired(spark, path, keepExactMonths = 3, k = 4).isEmpty)
    assert(TraceStore.thinExpired(spark, path, keepExactMonths = 1, k = 1).isEmpty)
    intercept[IllegalArgumentException](TraceStore.thinExpired(spark, path, 0, 4))
    intercept[IllegalArgumentException](TraceStore.thinExpired(spark, path, 1, 0))
    assert(TraceStore.thinExpired(spark, tmpDir("store-thin-e"), 1, 4).isEmpty)
  }

  test("dropPartitionsBefore resolves a condemned month's pending manifest first") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = tmpDir("store-ttl2")
    TraceStore.append(mkBatch(), path)
    // pending rewrite in the month that is about to be dropped: recovery
    // must complete it (restoring invariants) before the month goes
    val monthDir = Paths.get(path, "ym=201905")
    val old = Files.list(monthDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    val tmp = monthDir.resolveSibling(".compact-201905-ttlattempt")
    spark.read.schema(graft.schema.TraceSchema.target)
      .parquet(old.map(_.toString): _*)
      .coalesce(1).write.option("compression", "zstd").parquet(tmp.toString)
    val installs = Files.list(tmp).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.zipWithIndex
      .map { case (f, i) => s"install\t${f.getFileName}\tcompacted-201905-ttlattempt-$i.parquet" }
    Files.write(monthDir.resolve("_compact_manifest"),
      ((".compact-201905-ttlattempt" +: installs) ++
        old.map(p => s"delete\t${p.getFileName}")).mkString("\n").getBytes)

    assert(TraceStore.dropPartitionsBefore(path, "201906") == Seq("201905"))
    assert(!Files.exists(tmp) && !Files.exists(monthDir))
    assert(TraceStore.read(spark, path).count() == 1)   // 201906 untouched
  }
}
