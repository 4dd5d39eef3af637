package graft.store

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType,
  IntegerType, LongType, ShortType, StringType, StructField}

/** Schema evolution contract: adding a nullable column is metadata-only
  * (old files null-fill in the same scan), validation is loud, and every
  * downstream surface — maintenance rewrites, predicate erasure,
  * snapshots — resolves the EVOLVED schema, not the base one. */
class SchemaEvolutionSpec extends SparkSpec {

  private def baseBatch() = {
    import spark.implicits._
    Seq(
      (10, "m1", "default", Timestamp.valueOf("2019-05-13 15:37:32"), "Role", Option("a")),
      (20, "m2", "default", Timestamp.valueOf("2019-06-01 00:00:00"), "Metrics", None),
      (30, "m1", "default", Timestamp.valueOf("2019-05-20 10:00:00"), "Role", Option("b")),
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID")
  }

  private def evolvedBatch() = {
    import spark.implicits._
    Seq(
      (40, "m3", "default", Timestamp.valueOf("2019-05-25 12:00:00"), "Role", Option("c"), Option("eu")),
      (50, "m3", "default", Timestamp.valueOf("2019-07-02 08:00:00"), "Net", None, None: Option[String]),
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID", "Region")
  }

  test("evolve adds a nullable column; old files read as NULL, new files carry values") {
    val path = tmpDir("evo1")
    TraceStore.append(baseBatch(), path)
    val v = TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    assert(v == 2)
    TraceStore.append(evolvedBatch(), path)
    val got = TraceStore.read(spark, path)
    assert(got.columns.contains("Region"))
    assert(got.count() == 5)
    assert(got.filter(col("Region").isNull).count() == 4) // 3 old + 1 new null
    assert(got.filter(col("Region") === "eu").select("Severity").head().getInt(0) == 40)
    // a second evolution versions on top
    assert(TraceStore.evolveSchema(path, StructField("Score", IntegerType, nullable = true)) == 3)
    assert(TraceStore.read(spark, path).columns.takeRight(2).toSeq == Seq("Score", "ym"))
  }

  test("evolution validation is loud; appends validate against the stored schema") {
    val path = tmpDir("evo2")
    TraceStore.append(baseBatch(), path)
    // unknown column before evolution → rejected, not silently dropped
    intercept[IllegalArgumentException] { TraceStore.append(evolvedBatch(), path) }
    // non-nullable evolution is impossible (history has no values)
    intercept[IllegalArgumentException] {
      TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = false))
    }
    // duplicate / partition-column names rejected
    intercept[IllegalArgumentException] {
      TraceStore.evolveSchema(path, StructField("Severity", StringType, nullable = true))
    }
    // underscore-prefixed names are reserved for the store's own
    // surfaces (the change feed's _change would collide/ambiguate)
    intercept[IllegalArgumentException] {
      TraceStore.evolveSchema(path, StructField("_change", StringType, nullable = true))
    }
    TraceStore.evolveSchema(path, StructField("Tmp", StringType, nullable = true))
    intercept[IllegalArgumentException] {
      TraceStore.renameColumn(path, "Tmp", "_sign")
    }
    intercept[IllegalArgumentException] {
      TraceStore.evolveSchema(path, StructField("ym", StringType, nullable = true))
    }
    // missing base column rejected
    intercept[IllegalArgumentException] {
      TraceStore.append(baseBatch().drop("Machine"), path)
    }
  }

  test("maintenance rewrites carry evolved columns; deleteWhere can target them") {
    val path = tmpDir("evo3")
    TraceStore.append(baseBatch(), path)
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    TraceStore.append(evolvedBatch(), path)
    // force-compact every month: the rewrite must preserve Region values
    val compacted = TraceStore.compact(spark, path, maxFilesPerMonth = 0)
    assert(compacted.nonEmpty)
    val after = TraceStore.read(spark, path)
    assert(after.count() == 5)
    assert(after.filter(col("Region") === "eu").count() == 1)
    // predicate erasure on the EVOLVED column (old-file rows read it as
    // NULL, so cond is UNKNOWN there and must not erase them)
    val erased = TraceStore.deleteWhere(spark, path, col("Region") === "eu")
    assert(erased == Seq("201905"))
    val end = TraceStore.read(spark, path)
    assert(end.count() == 4)
    assert(end.filter(col("Region").isNotNull).count() == 0)
  }

  test("snapshots taken before an evolution read back under the evolved schema") {
    val path = tmpDir("evo4")
    TraceStore.append(baseBatch(), path)
    val snap = TraceStore.snapshot(path)
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    TraceStore.append(evolvedBatch(), path)
    val old = TraceStore.readSnapshot(spark, path, snap)
    assert(old.count() == 3 && old.filter(col("Region").isNotNull).count() == 0)
    val delta = TraceStore.readAppendedSince(spark, path, snap)
    assert(delta.count() == 2 && delta.filter(col("Region") === "eu").count() == 1)
  }

  // append one row carrying evolved column `name` with the given value
  private def oneRow(sev: Int, pairs: (String, org.apache.spark.sql.Column)*) =
    pairs.foldLeft(
      baseBatch().filter(col("Severity") === 10)
        .withColumn("Severity", lit(sev))) { case (d, (n, c)) => d.withColumn(n, c) }

  test("widenColumn is metadata-only for every promotion the parquet reader executes") {
    // the allowed set is exactly what this Spark build's vectorized
    // parquet reader promotes natively — each pair is proven by writing
    // a NARROW file and reading it under the WIDE declared schema
    val matrix: Seq[(DataType, DataType, Any)] = Seq(
      (ByteType, ShortType, 3.toByte), (ByteType, IntegerType, 3.toByte),
      (ByteType, LongType, 3.toByte), (ByteType, DoubleType, 3.toByte),
      (ShortType, IntegerType, 7.toShort), (ShortType, LongType, 7.toShort),
      (ShortType, DoubleType, 7.toShort),
      (IntegerType, LongType, 11), (IntegerType, DoubleType, 11),
      (FloatType, DoubleType, 2.5f))
    matrix.zipWithIndex.foreach { case ((from, to, v), i) =>
      val path = tmpDir(s"widen-$i")
      TraceStore.append(baseBatch(), path)
      TraceStore.evolveSchema(path, StructField("W", from, nullable = true))
      TraceStore.append(oneRow(90, "W" -> lit(v).cast(from)), path)
      TraceStore.widenColumn(path, "W", to)
      // the narrow file decodes under the widened schema without rewrite
      val got = TraceStore.read(spark, path)
      assert(got.schema("W").dataType == to, s"$from->$to")
      val wide = got.filter(col("Severity") === 90).select(col("W").cast("double"))
        .head().getDouble(0)
      assert(math.abs(wide - (v match {
        case b: Byte => b.toDouble; case s: Short => s.toDouble
        case n: Int => n.toDouble; case f: Float => f.toDouble
      })) < 1e-9, s"$from->$to read $wide")
      // a pre-widening-typed batch still appends (up-cast in alignToStored)
      TraceStore.append(oneRow(91, "W" -> lit(v).cast(from)), path)
      assert(TraceStore.read(spark, path).filter(col("W").isNotNull).count() == 2)
    }
    // refused widenings fail at evolve time, not at read time
    val path = tmpDir("widen-bad")
    TraceStore.append(baseBatch(), path)
    TraceStore.evolveSchema(path, StructField("L", LongType, nullable = true))
    intercept[IllegalArgumentException] { TraceStore.widenColumn(path, "L", DoubleType) }
    intercept[IllegalArgumentException] { TraceStore.widenColumn(path, "L", IntegerType) }
    intercept[IllegalArgumentException] { TraceStore.widenColumn(path, "Time", LongType) }
  }

  test("widening a base column up-casts appends and survives maintenance") {
    val path = tmpDir("widen-base")
    TraceStore.append(baseBatch(), path)
    TraceStore.widenColumn(path, "Severity", LongType)
    // int-typed batches (the pre-widening ingest shape) still append
    TraceStore.append(baseBatch().withColumn("Severity", col("Severity") + 100), path)
    // and a post-widening batch can carry values beyond int range
    TraceStore.append(
      baseBatch().withColumn("Severity", col("Severity") + lit(5000000000L)), path)
    val got = TraceStore.read(spark, path)
    assert(got.schema("Severity").dataType == LongType)
    assert(got.count() == 9 && got.filter(col("Severity") > 4000000000L).count() == 3)
    // compaction reads narrow+wide files together and rewrites wide
    TraceStore.compact(spark, path, maxFilesPerMonth = 0)
    val after = TraceStore.read(spark, path)
    assert(after.count() == 9 && after.filter(col("Severity") === 110L).count() == 1)
  }

  test("renameColumn keeps pre-rename history readable under the new name") {
    val path = tmpDir("ren1")
    TraceStore.append(baseBatch(), path)
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    TraceStore.append(evolvedBatch(), path)                   // files carry 'Region'
    TraceStore.renameColumn(path, "Region", "Zone")
    val got = TraceStore.read(spark, path)
    assert(got.columns.contains("Zone") && !got.columns.contains("Region"))
    // the pre-rename file's value surfaces under the NEW name, unrewritten
    assert(got.filter(col("Zone") === "eu").select("Severity").head().getInt(0) == 40)
    // new appends write the new name and coexist with old files
    TraceStore.append(oneRow(60, "Zone" -> lit("us")), path)
    val both = TraceStore.read(spark, path)
    assert(both.filter(col("Zone").isNotNull).count() == 2)
    // predicate erasure told in NEW-name terms must hit OLD-name files
    val erased = TraceStore.deleteWhere(spark, path, col("Zone") === "eu")
    assert(erased == Seq("201905"))
    assert(TraceStore.read(spark, path).filter(col("Zone") === "eu").count() == 0)
    // chained rename: values written under all three names resolve
    TraceStore.renameColumn(path, "Zone", "Area")
    val chained = TraceStore.read(spark, path)
    assert(chained.filter(col("Area") === "us").count() == 1)
    // compaction migrates old files to the current physical name...
    TraceStore.compact(spark, path, maxFilesPerMonth = 0)
    val after = TraceStore.read(spark, path)
    assert(after.filter(col("Area") === "us").count() == 1)
    // ...verified at the parquet level: no rewritten file carries a retired name
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .filterNot(_.toString.contains("_retired")).toSeq
    files.foreach { f =>
      val cols = spark.read.parquet(f.toString).columns.toSet
      assert(!cols.contains("Region") && !cols.contains("Zone"), s"$f kept a retired name")
    }
  }

  test("rename validation: base columns pinned, names never reused") {
    val path = tmpDir("ren2")
    TraceStore.append(baseBatch(), path)
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    intercept[IllegalArgumentException] { TraceStore.renameColumn(path, "Machine", "Host") }
    intercept[IllegalArgumentException] { TraceStore.renameColumn(path, "Region", "Severity") }
    intercept[IllegalArgumentException] { TraceStore.renameColumn(path, "Nope", "X") }
    TraceStore.renameColumn(path, "Region", "Zone")
    // the retired name can never come back: old files would resurrect
    intercept[IllegalArgumentException] {
      TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    }
    TraceStore.evolveSchema(path, StructField("Nu", LongType, nullable = true))
    intercept[IllegalArgumentException] { TraceStore.renameColumn(path, "Nu", "Region") }
  }

  test("dropColumn removes the surface; the name stays retired") {
    val path = tmpDir("drop1")
    TraceStore.append(baseBatch(), path)
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    TraceStore.append(evolvedBatch(), path)
    TraceStore.dropColumn(path, "Region")
    val got = TraceStore.read(spark, path)
    assert(!got.columns.contains("Region") && got.count() == 5)
    // appends carrying the dropped column are rejected (not silently shed)
    intercept[IllegalArgumentException] { TraceStore.append(evolvedBatch(), path) }
    // re-adding the name would resurrect the old files' values — refused
    intercept[IllegalArgumentException] {
      TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    }
    // base columns cannot be dropped: they are the ingest contract
    intercept[IllegalArgumentException] { TraceStore.dropColumn(path, "Machine") }
    // maintenance after the drop physically sheds the column
    TraceStore.compact(spark, path, maxFilesPerMonth = 0)
    assert(TraceStore.read(spark, path).count() == 5)
  }

  test("snapshots pinned before a rename resolve values under the current name") {
    val path = tmpDir("ren-snap")
    TraceStore.append(baseBatch(), path)
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    TraceStore.append(evolvedBatch(), path)
    val snap = TraceStore.snapshot(path)
    TraceStore.renameColumn(path, "Region", "Zone")
    TraceStore.append(oneRow(70, "Zone" -> lit("ap")), path)
    // snapshot = pre-rename files, read under the CURRENT schema
    val old = TraceStore.readSnapshot(spark, path, snap)
    assert(old.columns.contains("Zone") && old.filter(col("Zone") === "eu").count() == 1)
    assert(old.count() == 5)
    val delta = TraceStore.readAppendedSince(spark, path, snap)
    assert(delta.count() == 1 && delta.head().getAs[String]("Zone") == "ap")
  }

  test("catalog registration surfaces renamed-column history via a coalescing view") {
    val path = tmpDir("catview")
    TraceStore.append(baseBatch(), path)
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    TraceStore.append(evolvedBatch(), path) // files carry the OLD physical name
    try {
      // register BEFORE the rename: a plain external table
      TraceStore.registerCatalog(spark, path, "evo_view_t")
      assert(spark.catalog.getTable("evo_view_t").tableType != "VIEW")
      TraceStore.renameColumn(path, "Region", "Zone")
      // re-register: the shape must transition to files-table + view, and
      // pre-rename files' values must arrive through the coalesce — a
      // plain catalog table would silently read NULL for all history
      TraceStore.registerCatalog(spark, path, "evo_view_t")
      val t = spark.table("evo_view_t")
      assert(spark.catalog.getTable("evo_view_t").tableType == "VIEW")
      assert(t.columns.contains("Zone") && !t.columns.contains("Region"))
      assert(t.filter(col("Zone") === "eu").count() == 1)
      assert(t.filter(col("Zone").isNotNull).count() == 1)
      // the same surface through the CLI bootstrap path
      graft.schema.Ddl.createSchema(spark, "evo_view_db", "t", Some(path))
      assert(spark.table("evo_view_db.t").filter(col("Zone") === "eu").count() == 1)
      // idempotent re-registration keeps the view shape
      TraceStore.registerCatalog(spark, path, "evo_view_t")
      assert(spark.table("evo_view_t").filter(col("Zone") === "eu").count() == 1)
    } finally {
      spark.sql("DROP VIEW IF EXISTS evo_view_t")
      spark.sql("DROP TABLE IF EXISTS evo_view_t__files")
      spark.sql("DROP VIEW IF EXISTS evo_view_db.t")
      spark.sql("DROP TABLE IF EXISTS evo_view_db.t__files")
      spark.sql("DROP DATABASE IF EXISTS evo_view_db")
    }
  }

  test("evolved column gets a footer bloom that survives rename and compaction") {
    import scala.jdk.CollectionConverters._
    // parquet materializes a bloom only once the dictionary overflows, so
    // the evolved dimension needs production-like cardinality (same
    // fixture discipline as StoreSpec's base-dim bloom test)
    def bigBase = spark.range(50000).select(
      lit(10).as("Severity"),
      lit("m1").as("Machine"),
      lit("default").as("LogGroup"),
      to_timestamp(lit("2019-05-13 15:37:32")).as("Time"),
      lit("Role").as("Type"),
      col("id").cast("string").as("ID"))
    def withDim(colName: String) = bigBase.withColumn(colName,
      concat(lit("region-with-a-long-prefix-"), col("id").cast("string")))
    def bloomOf(file: java.nio.file.Path, name: String): Boolean = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toString),
          new org.apache.hadoop.conf.Configuration()))
      try {
        val block = reader.getFooter.getBlocks.get(0)
        val bf = reader.getBloomFilterDataReader(block)
        block.getColumns.asScala.find(_.getPath.toDotString == name)
          .exists(c => bf.readBloomFilter(c) != null)
      } finally reader.close()
    }
    def parquetFiles(path: String): Seq[java.nio.file.Path] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
    val path = tmpDir("bloomevo")
    TraceStore.append(bigBase, path) // one pre-evolution file, same month
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    TraceStore.append(withDim("Region"), path)
    val f1 = parquetFiles(path).maxBy(p =>
      java.nio.file.Files.getLastModifiedTime(p).toMillis)
    assert(bloomOf(f1, "Region"), "evolved column must carry a footer bloom")
    // no rename yet → the scan is alias-free and the point predicate on
    // the evolved column reaches parquet (where the bloom skips groups)
    val plan = TraceStore.read(spark, path)
      .filter(col("Region") === "region-with-a-long-prefix-7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(Region"),
      "evolved-column point predicate must be pushed to the scan")
    // rename: NEW files index the new physical name with zero rewrites
    TraceStore.renameColumn(path, "Region", "Zone")
    TraceStore.append(withDim("Zone"), path)
    val newest = parquetFiles(path).maxBy(p =>
      java.nio.file.Files.getLastModifiedTime(p).toMillis)
    assert(bloomOf(newest, "Zone"), "post-rename append must bloom the new name")
    // compaction migrates the OLD files' bloom to the post-rename name
    TraceStore.compact(spark, path, maxFilesPerMonth = 1, splitsPerMonth = 1)
    val after = parquetFiles(path)
    assert(after.forall(bloomOf(_, "Zone")),
      "compaction must rewrite every file with the current-name bloom")
    assert(after.forall(f => !bloomOf(f, "Region")))
  }

  test("change feed resolves renamed columns across the evolution boundary") {
    import spark.implicits._
    // the two newest store features meet: a row written pre-rename is
    // erased post-rename, and the feed must surface its DELETE with the
    // value under the CURRENT name (read from a retired pre-rename file
    // through the alias coalesce) — a resolution miss would emit a NULL
    // delete and the rewritten survivors would stop cancelling
    val path = tmpDir("feed-evo")
    TraceStore.append(baseBatch(), path)
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    TraceStore.append(evolvedBatch(), path) // carries Region: one 'eu', one null
    val s1 = TraceStore.snapshot(path)
    TraceStore.renameColumn(path, "Region", "Zone")
    TraceStore.append(Seq(
      (60, "m4", "default", java.sql.Timestamp.valueOf("2019-05-28 09:00:00"),
        "Role", Option("d"), Option("us"))
    ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID", "Zone"), path)
    TraceStore.deleteWhere(spark, path, col("Zone") === "eu") // erases through the alias
    val feed = TraceStore.readChangesSince(spark, path, s1)
    assert(feed.columns.contains("Zone") && !feed.columns.contains("Region"))
    val rows = feed.select(col("_change"), col("Severity"), col("Zone")).collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet
    assert(rows == Set(
      ("insert", 60, Some("us")),   // post-rename append
      ("delete", 40, Some("eu")))) // pre-rename row, value alias-resolved
  }

  test("CLI bootstrap over an existing NO-rename store recovers partitions (reads rows)") {
    // the round-9 advisory medium: createSchema used to delegate to
    // registerCatalog (which MSCK-repairs) only for rename-bearing
    // stores; the common no-rename bootstrap registered a partitioned
    // external table with ZERO recovered partitions → zero rows
    val path = tmpDir("boot1")
    TraceStore.append(baseBatch(), path)
    try {
      graft.schema.Ddl.createSchema(spark, "boot_db", "t", Some(path))
      assert(spark.table("boot_db.t").count() == 3,
        "bootstrap over a populated store must read its rows")
    } finally {
      spark.sql("DROP TABLE IF EXISTS boot_db.t")
      spark.sql("DROP DATABASE IF EXISTS boot_db")
    }
  }

  test("files table left stale by a manual view drop is drift-checked and recreated") {
    // the round-9 advisory low: view dropped manually, then an evolution
    // lands — the view-side drift check sees no table, and IF NOT EXISTS
    // would keep the stale physical files table (missing the new column)
    val path = tmpDir("boot2")
    TraceStore.append(baseBatch(), path)
    TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
    TraceStore.append(evolvedBatch(), path)
    TraceStore.renameColumn(path, "Region", "Zone")
    try {
      TraceStore.registerCatalog(spark, path, "stale_t")
      assert(spark.catalog.getTable("stale_t").tableType == "VIEW")
      spark.sql("DROP VIEW stale_t") // manual drop; stale_t__files survives
      TraceStore.evolveSchema(path, StructField("Score", LongType, nullable = true))
      TraceStore.registerCatalog(spark, path, "stale_t")
      assert(spark.table("stale_t__files").columns.contains("Score"),
        "stale files table must be drift-checked against the evolved physical schema")
      assert(spark.table("stale_t").columns.contains("Score"))
      assert(spark.table("stale_t").filter(col("Zone") === "eu").count() == 1)
    } finally {
      spark.sql("DROP VIEW IF EXISTS stale_t")
      spark.sql("DROP TABLE IF EXISTS stale_t__files")
    }
  }

  test("catalog registration refreshes after evolution instead of keeping stale DDL") {
    val path = tmpDir("cat1")
    TraceStore.append(baseBatch(), path)
    try {
      TraceStore.registerCatalog(spark, path, "evo_cat_t")
      assert(!spark.table("evo_cat_t").columns.contains("Region"))
      TraceStore.evolveSchema(path, StructField("Region", StringType, nullable = true))
      // re-running the registration must surface the evolved column —
      // CREATE IF NOT EXISTS alone would keep the pre-evolution DDL
      TraceStore.registerCatalog(spark, path, "evo_cat_t")
      assert(spark.table("evo_cat_t").columns.contains("Region"))
      // same contract through the CLI bootstrap path
      graft.schema.Ddl.createSchema(spark, "evo_cat_db", "t", Some(path))
      assert(spark.table("evo_cat_db.t").columns.contains("Region"))
      TraceStore.evolveSchema(path, StructField("Score", LongType, nullable = true))
      graft.schema.Ddl.createSchema(spark, "evo_cat_db", "t", Some(path))
      assert(spark.table("evo_cat_db.t").columns.contains("Score"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS evo_cat_t")
      spark.sql("DROP TABLE IF EXISTS evo_cat_db.t")
      spark.sql("DROP DATABASE IF EXISTS evo_cat_db")
    }
  }
}
