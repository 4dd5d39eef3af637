package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.TraceSchema

/** Columnar trace store (SURVEY.md §1.5): the Spark-native analogue of the
  * reference's MergeTree layout (/root/reference/trace-converter.py:22-24).
  *
  * | MergeTree decision            | here                                   |
  * |-------------------------------|----------------------------------------|
  * | PARTITION BY toYYYYMM(Time)   | Hive-style partitionBy(ym) → Catalyst  |
  * |                               | partition pruning on time predicates   |
  * | ORDER BY (Time)               | sortWithinPartitions(Time) → parquet   |
  * |                               | row-group min/max skipping             |
  * | CODEC(ZSTD)                   | parquet zstd                           |
  * | 1 file = 1 INSERT, no buffer  | 1 micro-batch = 1 append commit;       |
  * |                               | repartition bounds small files         |
  * (the reference's small-insert degradation, README.md:193-206, maps to
  * Spark's small-file problem — same fix: batch-sized commits.)
  */
object TraceStore {

  // ------------------------------------------------------------------ schema evolution
  private val SchemaDir = "_schema"

  /** Field-metadata key: the historical physical names this column's
    * values may be stored under in pre-rename files (oldest first). The
    * whole rename design rides on parquet reading by NAME: a renamed
    * column is a metadata mapping, and the read path coalesces the
    * current name with its aliases — no file is ever rewritten. */
  private val RenamedFromKey = "graft.renamedFrom"

  private def aliasesOf(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(RenamedFromKey))
      f.metadata.getStringArray(RenamedFromKey).toSeq
    else Seq.empty

  /** Whether any column of this store has rename history — the signal
    * that catalog registration needs the files-table + view shape
    * ([[registerCatalog]]) rather than one plain external table. */
  def hasRenameAliases(tablePath: String): Boolean =
    storedSchema(tablePath).fields.exists(f => aliasesOf(f).nonEmpty)

  /** Current stored schema: the base whitelist plus any evolved columns —
    * the reference's "extend the schema by editing `columns`"
    * (README.md:135-137) made safe for a table with history: evolution is
    * METADATA-ONLY (one versioned manifest write, no file rewritten at
    * any scale); parquet's declared-schema read null-fills the new
    * column in every pre-evolution file, so old and new files coexist in
    * one scan. Every read AND every maintenance rewrite resolves this
    * schema first — a compaction that read the base schema would silently
    * drop evolved columns from rewritten months. */
  def storedSchema(tablePath: String): org.apache.spark.sql.types.StructType =
    storedSchema(java.nio.file.Paths.get(tablePath))

  private def storedSchema(root: java.nio.file.Path): org.apache.spark.sql.types.StructType = {
    val dir = root.resolve(SchemaDir)
    if (!java.nio.file.Files.exists(dir)) return TraceSchema.target
    FsMaint.listDir(dir).map(_.getFileName.toString).filter(_.matches("v\\d{6}\\.json"))
      .sorted.lastOption match {
      case None => TraceSchema.target
      case Some(latest) =>
        org.apache.spark.sql.types.DataType.fromJson(new String(
          java.nio.file.Files.readAllBytes(dir.resolve(latest))))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
  }

  /** Every physical column name any file of this store may carry: the
    * union, across the base schema and every schema version ever
    * written, of field names and their rename aliases. Add/rename
    * targets are validated against this set — re-using a retired name
    * would RESURRECT old files' values into the new column (parquet
    * reads by name; this store has no field ids), so name re-use is
    * forbidden for the store's lifetime. Metadata-sized: one small JSON
    * per evolution, read only at evolve time. */
  private def historicalNames(root: java.nio.file.Path): Set[String] = {
    val dir = root.resolve(SchemaDir)
    val versions: Seq[org.apache.spark.sql.types.StructType] =
      TraceSchema.target +: (
        if (!java.nio.file.Files.exists(dir)) Seq.empty
        else FsMaint.listDir(dir).map(_.getFileName.toString)
          .filter(_.matches("v\\d{6}\\.json")).sorted
          .map(v => org.apache.spark.sql.types.DataType.fromJson(new String(
            java.nio.file.Files.readAllBytes(dir.resolve(v))))
            .asInstanceOf[org.apache.spark.sql.types.StructType]))
    versions.flatMap(_.fields.flatMap(f => f.name +: aliasesOf(f))).toSet
  }

  /** Stage + atomically install the next schema version manifest.
    * Readers see the old or the new schema, never a torn one; runs under
    * the single-maintenance-writer contract. Base schema is implicitly
    * v1. Returns the new version number. */
  private def writeSchemaVersion(root: java.nio.file.Path,
                                 next: org.apache.spark.sql.types.StructType): Int = {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = root.resolve(SchemaDir)
    Files.createDirectories(dir)
    val ver = FsMaint.listDir(dir).map(_.getFileName.toString)
      .filter(_.matches("v\\d{6}\\.json")).map(_.drop(1).take(6).toInt)
      .foldLeft(1)(math.max) + 1
    val tmp = dir.resolve(f".tmp-v$ver%06d")
    Files.write(tmp, next.json.getBytes)
    Files.move(tmp, dir.resolve(f"v$ver%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    ver
  }

  private def requireStore(tablePath: String): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(tablePath)
    require(java.nio.file.Files.exists(root), s"no store at $tablePath")
    root
  }

  private def isBase(name: String): Boolean =
    TraceSchema.target.fieldNames.contains(name)

  /** Add a column to the stored schema (ADD COLUMN evolution). The new
    * column must be NULLABLE — that is what makes the change metadata-only:
    * history has no values for it, and a declared-schema scan reads those
    * files as NULL without rewriting a byte. The name must never have
    * been used before (see [[historicalNames]] — re-use would resurrect
    * dropped/renamed values from old files). Returns the new schema
    * version number. */
  def evolveSchema(tablePath: String, field: org.apache.spark.sql.types.StructField): Int = {
    require(field.nullable,
      s"evolved column '${field.name}' must be nullable — history has no values for it")
    val root = requireStore(tablePath)
    require(field.name != TraceSchema.PartitionCol,
      s"'${field.name}' is the partition column")
    require(!field.name.startsWith("_"),
      s"'${field.name}': underscore-prefixed names are reserved for the " +
        "store's own surfaces (the change feed's _change and its working columns)")
    require(!historicalNames(root).contains(field.name),
      s"column name '${field.name}' is or was already used in this store — " +
        "re-using it would resurrect old files' values (parquet reads by name); pick a fresh name")
    writeSchemaVersion(root,
      org.apache.spark.sql.types.StructType(storedSchema(root).fields :+ field))
  }

  /** DROP COLUMN — metadata-only at any scale: the column (and its
    * rename aliases) leaves the stored schema, so no read declares it
    * and parquet never materializes its pages again; history is not
    * rewritten (maintenance rewrites physically shed it month by month).
    * Base (ingest-whitelist) columns cannot be dropped — `Time` anchors
    * partitioning/sort and the rest are the ingest contract
    * ([[alignToStored]]), the same reason ClickHouse refuses to drop
    * ORDER BY columns. The dropped name stays retired forever
    * ([[historicalNames]]). Returns the new schema version. */
  def dropColumn(tablePath: String, name: String): Int = {
    val root = requireStore(tablePath)
    val cur = storedSchema(root)
    require(cur.fieldNames.contains(name), s"no column '$name' in the stored schema")
    require(!isBase(name),
      s"'$name' is a base ingest column — the append contract requires it; " +
        "only evolved columns can be dropped")
    writeSchemaVersion(root,
      org.apache.spark.sql.types.StructType(cur.fields.filterNot(_.name == name)))
  }

  /** RENAME COLUMN — metadata-only: the manifest records the old name as
    * a read alias of the new one ([[RenamedFromKey]]), and every read
    * path coalesces `new, old…` so pre-rename files keep serving their
    * values under the new name without a byte rewritten. New appends
    * write the new name; maintenance rewrites migrate old files to it as
    * a side effect. The new name must be globally fresh (alias
    * resolution relies on exactly one physical name per logical column
    * per file — [[historicalNames]]). Base columns cannot be renamed
    * (they are the ingest contract). Returns the new schema version. */
  def renameColumn(tablePath: String, from: String, to: String): Int = {
    val root = requireStore(tablePath)
    val cur = storedSchema(root)
    require(cur.fieldNames.contains(from), s"no column '$from' in the stored schema")
    require(!isBase(from),
      s"'$from' is a base ingest column — the append contract requires it; " +
        "only evolved columns can be renamed")
    require(to.nonEmpty && to != TraceSchema.PartitionCol, s"invalid new name '$to'")
    require(!to.startsWith("_"),
      s"'$to': underscore-prefixed names are reserved for the " +
        "store's own surfaces (the change feed's _change and its working columns)")
    require(!historicalNames(root).contains(to),
      s"column name '$to' is or was already used in this store — " +
        "re-using it would resurrect old files' values; pick a fresh name")
    val next = cur.fields.map { f =>
      if (f.name != from) f
      else f.copy(name = to, metadata =
        new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putStringArray(RenamedFromKey, (aliasesOf(f) :+ from).toArray).build())
    }
    writeSchemaVersion(root, org.apache.spark.sql.types.StructType(next))
  }

  /** Widening promotions the parquet readers execute natively (verified
    * against this Spark build in `SchemaEvolutionSpec`): an old file's
    * narrower physical column decodes straight into the widened declared
    * type, which is what makes [[widenColumn]] metadata-only. Lossy or
    * unsupported casts (long→double, anything→int shrink, …) are
    * rejected at evolve time, not discovered at read time. */
  private[graft] def widens(from: org.apache.spark.sql.types.DataType,
                            to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val rank = Map[DataType, Int](ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
    (from, to) match {
      case (a, b) if rank.contains(a) && rank.contains(b) => rank(a) < rank(b)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  /** Safe type widening (MODIFY COLUMN …): metadata-only because the
    * parquet reader promotes the narrower physical type of old files
    * into the widened declared type natively ([[widens]] — int→long,
    * float→double, int→double and the byte/short chains; long→double is
    * lossy and refused). `Time` is the partition/sort anchor and cannot
    * change. Widening a base column is allowed (the ClickHouse
    * UInt32→UInt64 shape): [[alignToStored]] up-casts incoming batches,
    * and [[thinExpired]] pins its sampling hash to the ORIGINAL base
    * types so thinning verdicts survive the widening. Returns the new
    * schema version. */
  def widenColumn(tablePath: String, name: String,
                  to: org.apache.spark.sql.types.DataType): Int = {
    val root = requireStore(tablePath)
    val cur = storedSchema(root)
    require(name != "Time" && name != TraceSchema.PartitionCol,
      s"'$name' anchors partitioning/sort and cannot change type")
    val f = cur.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column '$name' in the stored schema"))
    require(widens(f.dataType, to),
      s"${f.dataType.sql} -> ${to.sql} is not a supported metadata-only widening " +
        "(supported: byte/short/int up-chain to bigint, float->double, byte/short/int->double)")
    writeSchemaVersion(root, org.apache.spark.sql.types.StructType(
      cur.fields.map(x => if (x.name == name) x.copy(dataType = to) else x)))
  }

  /** Physical read schema for a stored schema: each field under its
    * current name PLUS one nullable field per rename alias, typed at the
    * field's CURRENT (widest) type — parquet's native widening promotion
    * ([[widens]]) decodes a narrower old file column straight into it.
    * Any one file carries exactly one of a column's physical names (the
    * no-reuse rule on [[historicalNames]] guarantees it), so the
    * [[resolveAliases]] coalesce is exact. */
  private def physicalSchema(stored: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(stored.fields.flatMap { f =>
      f +: aliasesOf(f).map(a =>
        org.apache.spark.sql.types.StructField(a, f.dataType, nullable = true))
    })

  /** Collapse the physical (aliased) read back to the logical schema:
    * one `coalesce(current, aliases…)` per renamed column, a plain
    * column reference otherwise; manifest metadata is stripped from the
    * output. Identity when no rename has happened — the common case
    * keeps its exact pre-evolution plan (a bare Project collapses into
    * the scan; column pruning still reaches parquet because each output
    * column references only its own physical columns). */
  private def resolveAliases(df: DataFrame,
                             stored: org.apache.spark.sql.types.StructType,
                             extra: Seq[String]): DataFrame =
    if (stored.fields.forall(f => aliasesOf(f).isEmpty)) df
    else {
      val noMeta = org.apache.spark.sql.types.Metadata.empty
      val cols = stored.fields.map { f =>
        val als = aliasesOf(f)
        if (als.isEmpty) col(f.name)
        else coalesce((f.name +: als).map(col): _*).as(f.name, noMeta)
      } ++ extra.map(col)
      df.select(cols.toIndexedSeq: _*)
    }

  /** Alias-aware scan of an explicit file list (maintenance rewrites,
    * probes, snapshot reads) — every internal read funnels through here
    * so no path can forget rename resolution and silently null a
    * renamed column's history. */
  private def readFiles(spark: SparkSession, root: java.nio.file.Path,
                        files: Seq[java.nio.file.Path]): DataFrame = {
    val stored = storedSchema(root)
    resolveAliases(
      spark.read.schema(physicalSchema(stored)).parquet(files.map(_.toString): _*),
      stored, Seq.empty)
  }

  /** Align a batch to the stored schema before writing: evolved columns
    * the batch does not carry are null-filled (files within one commit
    * stay uniform), unknown columns are rejected loudly (a typo'd column
    * silently dropped would be data loss at ingest), and a column the
    * batch carries at a pre-widening type is up-cast to the stored type
    * (so an ingest pipeline built before `widenColumn` keeps working
    * unchanged — any other type mismatch fails loudly). */
  private def alignToStored(df: DataFrame,
                            stored: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.toSet
    val unknown = have -- stored.fieldNames.toSet
    require(unknown.isEmpty,
      s"batch carries column(s) not in the stored schema: ${unknown.mkString(", ")} — evolveSchema first")
    val missingBase = TraceSchema.target.fieldNames.filterNot(have)
    require(missingBase.isEmpty,
      s"batch is missing base column(s): ${missingBase.mkString(", ")}")
    val batchTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    stored.fields.foldLeft(df) { (d, f) =>
      batchTypes.get(f.name) match {
        case None => d.withColumn(f.name, lit(null).cast(f.dataType))
        case Some(t) if t == f.dataType => d
        case Some(t) if widens(t, f.dataType) =>
          d.withColumn(f.name, col(f.name).cast(f.dataType))
        case Some(t) => throw new IllegalArgumentException(
          s"batch column '${f.name}' is ${t.sql} but the stored schema says " +
            s"${f.dataType.sql} and that is not a widening — fix the batch")
      }
    }.select(stored.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Append a normalized batch to the partitioned table path.
    *
    * `splitsPerMonth` bounds write parallelism per month partition: the
    * default 1 mirrors the reference's whole-batch-per-INSERT contract
    * (one file per month per micro-batch, no small files); a backfill on a
    * large cluster passes executor-count-sized splits so a single hot
    * month does not serialize onto one task. */
  def append(df: DataFrame, tablePath: String, splitsPerMonth: Int = 1): Unit = {
    val root = java.nio.file.Paths.get(tablePath)
    // the stored schema is read ONCE per batch and shared by alignment
    // and the bloom options — on the streaming path this is per-micro-
    // batch metadata I/O, not worth doing twice
    val stored = storedSchema(root)
    val withYm = alignToStored(df, stored)
      .withColumn(TraceSchema.PartitionCol, date_format(col("Time"), "yyyyMM"))
    val parted =
      if (splitsPerMonth <= 1) withYm.repartition(col(TraceSchema.PartitionCol))
      else withYm.repartition(col(TraceSchema.PartitionCol),
        pmod(xxhash64(col("Time")), lit(splitsPerMonth.toLong)))
    withBloomOptions(
      parted
        .sortWithinPartitions(col("Time"))
        .write
        .mode("append")
        .option("compression", "zstd"),
      stored)
      .partitionBy(TraceSchema.PartitionCol)
      .parquet(tablePath)
  }

  /** The store's skip-index write options — the MergeTree skip-index
    * analogue: point predicates on the non-sort dimensions skip row
    * groups via parquet footer blooms (Time already skips via sorted
    * min/max stats). Base dims Machine/Type always; the sidecar FOLLOWS
    * THE SCHEMA — every evolved string/integral column gets a bloom
    * under its CURRENT physical name, so post-rename appends index the
    * new name with zero rewrites (widen is trivially safe: each file's
    * bloom hashes values at that file's own stored type). Shared by
    * [[append]] and [[rewriteMonth]], so maintenance rewrites preserve
    * the blooms — and physically migrate them to post-rename names —
    * instead of silently dropping the index on every compacted month. */
  private def withBloomOptions(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      stored: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val evolved =
      stored.fields
        .filterNot(f => isBase(f.name))
        .filter(_.dataType match {
          case org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        }).map(_.name).toSeq
    (Seq("Machine", "Type") ++ evolved).foldLeft(w)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
  }

  /** Read the stored table; time predicates prune ym partitions first.
    * The schema is declared explicitly so ym keeps its contractual STRING
    * type (partition-type inference would read ym=201905 back as int) —
    * without touching any session-global configuration. Renamed columns
    * resolve through their aliases ([[resolveAliases]]); pre-evolution
    * stores get the identical plan they always had. */
  def read(spark: SparkSession, tablePath: String): DataFrame = {
    val stored = storedSchema(tablePath)
    resolveAliases(
      spark.read
        .schema(org.apache.spark.sql.types.StructType(
          physicalSchema(stored).fields :+
          org.apache.spark.sql.types.StructField(TraceSchema.PartitionCol,
            org.apache.spark.sql.types.StringType)))
        .parquet(tablePath),
      stored, Seq(TraceSchema.PartitionCol))
  }

  /** Register the store in the session catalog under `table`, with the
    * SAME rename semantics as [[read]]. Without rename aliases this is
    * one external parquet table. With aliases, a catalog table that
    * declared only the logical names would silently read NULL for every
    * pre-rename file's values (catalog scans read physical names) — so
    * the files are registered under `table__files` with the PHYSICAL
    * schema (current + alias columns) and `table` becomes a view
    * applying the same per-column coalesce as [[resolveAliases]].
    * Returns the files-level table name — the one to MSCK/ANALYZE
    * (stats on it reach the view's scans; views hold no stats).
    *
    * Explicit schema everywhere: partition discovery would infer
    * ym=201905 as INT — the exact type hazard [[read]] documents. A
    * previously-registered table whose shape drifted (evolution since
    * registration — every ALTER changes the logical schema) is dropped
    * and re-created; external-table drop is metadata-only. */
  def registerCatalog(spark: SparkSession, tablePath: String,
                      table: String): String = {
    val stored = storedSchema(tablePath)
    val want = logicalWithYm(stored)
    val aliased = stored.fields.exists(f => aliasesOf(f).nonEmpty)
    val filesTable = s"${table}__files"
    def dropAny(name: String): Unit = if (spark.catalog.tableExists(name)) {
      val kind = spark.catalog.getTable(name).tableType
      spark.sql(s"DROP ${if (kind == "VIEW") "VIEW" else "TABLE"} $name")
    }
    // drift check on the USER-FACING name: every evolution op changes
    // the logical (name, type) sequence, so this catches them all —
    // including the plain-table → view shape transition after a rename
    val stale = spark.catalog.tableExists(table) && {
      val have = spark.table(table).schema
      have.fields.map(f => (f.name, f.dataType)).toSeq !=
        want.fields.map(f => (f.name, f.dataType)).toSeq
    }
    // the files table needs its own drift check: if the user-facing view
    // was dropped manually but table__files survived a later evolution,
    // the view-side check above sees no table (stale=false) and CREATE
    // IF NOT EXISTS below would silently keep the stale physical schema —
    // the recreated view would then miss the evolved column
    val staleFiles = aliased && spark.catalog.tableExists(filesTable) && {
      val have = spark.table(filesTable).schema
      val wantPhys = physicalSchema(stored).fields
        .map(f => (f.name, f.dataType)).toSeq :+
        ((TraceSchema.PartitionCol,
          org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType))
      have.fields.map(f => (f.name, f.dataType)).toSeq != wantPhys
    }
    if (stale || staleFiles) { dropAny(table); dropAny(filesTable) }
    val scanTable = if (aliased) filesTable else table
    val scanSchema = if (aliased) physicalSchema(stored) else stored
    val ddlCols = scanSchema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $scanTable ($ddlCols, `${TraceSchema.PartitionCol}` STRING) " +
      s"USING parquet PARTITIONED BY (`${TraceSchema.PartitionCol}`) LOCATION '$tablePath'")
    // partition recovery belongs to registration: a registered-but-
    // empty partitioned table silently reads ZERO rows on every path
    // that forgets MSCK (the CLI bootstrap hit exactly that)
    spark.sql(s"MSCK REPAIR TABLE $scanTable")
    if (aliased) {
      val select = (stored.fields.map { f =>
        val als = aliasesOf(f)
        if (als.isEmpty) s"`${f.name}`"
        else (f.name +: als).map(n => s"`$n`")
          .mkString("coalesce(", ", ", s") AS `${f.name}`")
      } :+ s"`${TraceSchema.PartitionCol}`").mkString(", ")
      spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT $select FROM $scanTable")
    }
    scanTable
  }

  /** Month-pruned time-range scan (B1): the partition filter on ym is
    * derivable from the Time range, and Catalyst prunes directories before
    * listing files. */
  def timeRange(spark: SparkSession, tablePath: String,
                from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame = {
    // ym bounds must be derived in the SAME zone date_format used at write
    // time (the session time zone), or month-boundary rows silently fall
    // outside the pruned partitions.
    val tz = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    val fmt = new java.text.SimpleDateFormat("yyyyMM")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone(tz))
    read(spark, tablePath)
      .filter(col(TraceSchema.PartitionCol) >= fmt.format(from) &&
              col(TraceSchema.PartitionCol) <= fmt.format(to) &&
              col("Time") >= lit(from) && col("Time") < lit(to))
  }

  /** Incremental rollup maintenance — the SummingMergeTree / materialized-
    * view analogue (the reference's rollup TODO, README.md:231-236): merge
    * a pre-aggregated rollup with the rollup of a new micro-batch by
    * re-aggregating their union on the group keys. Only works for
    * decomposable measures (sum / count — a count merges as the SUM of
    * partial counts); avg must be carried as sum+count, distincts as a
    * sketch. Cost is proportional to rollup cardinality, never to the raw
    * rows already folded in — the property that makes a 100 TB rollup
    * maintainable per-batch. Gate-proven by q80: rollup maintained in two
    * increments hash-matches the one-shot GROUP BY over all rows. */
  def mergeRollups(existing: DataFrame, delta: DataFrame,
                   keys: Seq[String], measures: Seq[String]): DataFrame = {
    require(measures.nonEmpty, "mergeRollups needs at least one measure column")
    val aggs = measures.map(m => sum(col(m)).as(m))
    existing.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Compact the accumulated micro-batch files of month partitions — the
    * MergeTree background-merge analogue (the reference counts on
    * ClickHouse merging its one-INSERT-per-file parts,
    * trace-converter.py:66-72 / README.md:193-206; a streaming parquet
    * store must do its own merging or range scans degrade into
    * thousands-of-files listings).
    *
    * Months with at most `maxFilesPerMonth` files are left untouched
    * (compaction must be cheap to run repeatedly); each rewritten month
    * lands as `splitsPerMonth` time-sorted files, restoring the row-group
    * min/max skipping that many tiny sorted files fragment.
    *
    * Swap protocol (safe for a live table with concurrent APPENDS):
    *  1. capture the month's file list FIRST; only exactly those files
    *     are read, and later deleted — a file appended concurrently is
    *     neither rewritten nor touched;
    *  2. rewrite to a temp dir; install under attempt-unique names (so a
    *     re-compaction can never collide with a previous run's output);
    *  3. a manifest written before the install records the delete-set and
    *     the install pairs; a crash at any point is repaired by the next
    *     compact() call — it completes a manifest whose installs finished
    *     writing, or rolls the attempt back, so no rows are ever lost and
    *     duplicates cannot survive recovery. (Between install and delete,
    *     readers may transiently see a row twice — run compaction in the
    *     maintenance cadence, not against latency-critical readers.)
    * Returns the list of compacted ym values. */
  def compact(spark: SparkSession, tablePath: String,
              maxFilesPerMonth: Int = 16, splitsPerMonth: Int = 4): Seq[String] =
    rewriteMonths(spark, tablePath, (_, old) => old.size > maxFilesPerMonth,
      identity, splitsPerMonth, "compacted")

  /** Predicate erasure — the `ALTER TABLE … DELETE WHERE` / GDPR-redaction
    * analogue (ClickHouse runs it as a background mutation rewriting
    * parts; a parquet store must rewrite files the same way). Months with
    * no matching rows are left byte-identical (the match probe is one
    * pushed-filter count per month — bloom/min-max stats make misses
    * cheap); matching months are rewritten without the condemned rows
    * under the same crash-safe manifest swap protocol as [[compact]]
    * (capture-first file set, temp rewrite, atomic manifest, install,
    * delete — a crash at any point is repaired by the next maintenance
    * call). Returns the ym values that were rewritten. */
  def deleteWhere(spark: SparkSession, tablePath: String,
                  cond: org.apache.spark.sql.Column,
                  splitsPerMonth: Int = 4): Seq[String] =
    // SQL DELETE semantics: only cond=TRUE rows go. A bare !cond maps
    // NULL→NULL and filter would drop every row where the predicate
    // is merely UNKNOWN (e.g. ID === "x" on a NULL ID) — silent
    // over-erasure the match probe never counted.
    rewriteMonths(spark, tablePath, (_, old) => anyRow(spark, tablePath, old, cond),
      _.filter(!coalesce(cond, lit(false))), splitsPerMonth, "redacted")

  /** Month-partition retention — the MergeTree `TTL … DELETE` /
    * `ALTER TABLE DROP PARTITION` analogue, the standard trace-log
    * retention pattern for the reference's `toYYYYMM` layout: whole
    * months strictly before `cutoffYm` (exclusive, "yyyyMM") are
    * dropped. Cost is O(dropped files), zero data read or rewritten —
    * retention by partition is why the store partitions by month at all.
    *
    * Swap protocol: each condemned month is RENAMED to a `.trash-*`
    * sibling first (one atomic move — a racing reader sees the whole
    * month or none of it, never a half-deleted directory), then the
    * trash tree is deleted; a crash between the two leaves only a
    * `.trash-*` orphan that the next maintenance call (this, compact, or
    * deleteWhere via recoverAttempts) clears. Runs recovery first so a
    * pending compact/delete manifest in a condemned month is resolved,
    * not orphaned. Snapshot-pinned files are retired out of the month
    * FIRST (so the trash tree holds only unpinned files and the
    * unconditional orphan cleanup stays correct) — which means a month a
    * live snapshot references drops file-by-file, not as one atomic
    * rename; the whole-month-or-nothing reader guarantee holds only for
    * unpinned months. Returns the dropped ym values. */
  def dropPartitionsBefore(tablePath: String, cutoffYm: String): Seq[String] = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(cutoffYm.matches("\\d{6}"), s"cutoffYm must be yyyyMM, got '$cutoffYm'")
    val root = Paths.get(tablePath)
    if (!Files.exists(root)) return Seq.empty
    recoverAttempts(root)   // also clears any previous drop's .trash-* orphans
    val refs = snapshotRefs(root)
    monthDirs(root).map(d => d -> monthOf(d.getFileName.toString))
      .filter(_._2 < cutoffYm)
      .map { case (monthDir, ym) =>
        parquetFiles(monthDir)
          .filter(f => refs.contains(fileKey(monthDir, f.getFileName.toString)))
          .foreach(f => retireOrDelete(root, monthDir, f.getFileName.toString, refs))
        val trash = monthDir.resolveSibling(
          s".trash-$ym-${java.util.UUID.randomUUID().toString.take(8)}")
        Files.move(monthDir, trash, StandardCopyOption.ATOMIC_MOVE)
        FsMaint.deleteTree(trash)
        ym
      }
  }

  /** Relative retention — the `TTL Time + INTERVAL n MONTH DELETE` form
    * of [[dropPartitionsBefore]], usable by a long-running ingest without
    * an operator picking cutoffs: keep the newest `months` month
    * partitions BY DATA TIME. The newest ym present in the store anchors
    * the window — wall-clock anchoring would silently truncate a backfill
    * of historical traces the moment it lands. Months strictly older than
    * (newest − months + 1) drop through the same atomic-rename protocol;
    * cost stays O(dropped files), zero data read. Returns dropped yms. */
  def retainLastMonths(tablePath: String, months: Int): Seq[String] = {
    require(months >= 1, s"months must be >= 1, got $months")
    keepCutoff(java.nio.file.Paths.get(tablePath), months)
      .fold(Seq.empty[String])(dropPartitionsBefore(tablePath, _))
  }

  /** The oldest month a keep-the-newest-`months` window retains: the
    * newest ym present (by data time) minus `months − 1`; None for a
    * store with no month partition. */
  private def keepCutoff(root: java.nio.file.Path, months: Int): Option[String] =
    monthDirs(root).map(d => monthOf(d.getFileName.toString))
      .filter(_.matches("\\d{6}")).maxOption.map { newest =>
        val cut = java.time.YearMonth.of(newest.take(4).toInt, newest.drop(4).toInt)
          .minusMonths((months - 1).toLong)
        f"${cut.getYear}%04d${cut.getMonthValue}%02d"
      }

  /** Downsampling retention — the "thin old data instead of deleting it"
    * TTL shape (ClickHouse expresses it as a `TTL … WHERE`-guarded delete
    * over a sampling predicate; the operational pattern behind "keep 100%
    * for N months, 1-in-k forever"): month partitions older than the
    * newest `keepExactMonths` months BY DATA TIME (the
    * [[retainLastMonths]] anchor — backfills age against themselves) are
    * rewritten keeping a deterministic 1-in-`k` row sample; newer months
    * stay exact and byte-identical.
    *
    * The keep predicate is a pure content hash (`xxhash64` over every
    * data column) so the sample is
    *  - DETERMINISTIC: the same logical row always makes the same
    *    keep/drop decision — re-thinning an already-thinned month keeps
    *    exactly the surviving rows, so the operation is idempotent by
    *    construction, never compounding to 1-in-k²;
    *  - UNBIASED at any scale: no coordinate, no global count, no RNG
    *    state — executors decide row-locally, the 100 TB mode.
    * A pushed-filter probe per candidate month (the [[deleteWhere]]
    * pattern) skips months with nothing left to drop, so the idempotent
    * re-run costs one count, not a rewrite. Matching months go through
    * the same crash-safe manifest swap as [[compact]]. Returns thinned
    * yms. */
  def thinExpired(spark: SparkSession, tablePath: String, keepExactMonths: Int,
                  k: Int, splitsPerMonth: Int = 4): Seq[String] = {
    require(keepExactMonths >= 1, s"keepExactMonths must be >= 1, got $keepExactMonths")
    require(k >= 1, s"k must be >= 1, got $k")
    if (k == 1) return Seq.empty // 1-in-1 keeps everything
    // a store with no month partition has no cutoff: "" selects nothing
    val cutoff = keepCutoff(java.nio.file.Paths.get(tablePath), keepExactMonths).getOrElse("")
    // the keep hash is pinned to the BASE columns AT THEIR BASE TYPES on
    // purpose: base columns exist in every file forever (they cannot be
    // dropped or renamed), and the cast undoes any later widenColumn —
    // xxhash64 of 3L differs from 3 (int), so hashing the widened type
    // would flip verdicts on already-thinned months (breaking
    // idempotence); the down-cast is exact for every value written
    // before the widening, which is all idempotence needs
    val keep = pmod(
      xxhash64(TraceSchema.target.fields
        .map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*),
      lit(k.toLong)) === 0L
    rewriteMonths(spark, tablePath,
      (ym, old) => ym < cutoff && anyRow(spark, tablePath, old, !keep), // anything left to drop?
      _.filter(keep), splitsPerMonth, "thinned")
  }

  // ------------------------------------------------------------------ snapshots (time travel)
  private val SnapDir = "_snapshots"
  private val RetiredDir = "_retired"

  /** Relative manifest key for a live data file: "ym=yyyyMM/name.parquet".
    * Underscore-prefixed siblings (_snapshots, _retired) are invisible to
    * Spark's file index, so the live read path never sees them. */
  private def fileKey(monthDir: java.nio.file.Path, name: String): String =
    s"${monthDir.getFileName}/$name"

  /** The current live file set (month-partition parquet keys) — the
    * store's state fingerprint: two instants with equal live sets hold
    * identical rows (files are immutable and never reused). One
    * directory listing; metadata-only at any scale. */
  private def liveKeys(root: java.nio.file.Path): Set[String] =
    monthDirs(root).flatMap(d => parquetFiles(d).map(f => fileKey(d, f.getFileName.toString)))
      .toSet

  /** Union of file keys referenced by every snapshot manifest — loaded
    * ONCE per maintenance entry point (metadata-sized; manifests are
    * file lists, never data). */
  private def snapshotRefs(root: java.nio.file.Path): Set[String] =
    listSnapshots(root.toString).flatMap(manifestKeys(root, _)).toSet

  /** Retire a superseded live file if any snapshot still references it
    * (atomic move into `_retired/` preserving the ym= layout — names are
    * attempt- or task-unique, so collisions cannot occur), else delete
    * it. The retire/delete decision is what turns the live-file-set
    * store into a time-travelable one without a manifest-routed read
    * path: live reads stay plain directory scans, snapshot reads resolve
    * each manifest key to its live or retired location. */
  private def retireOrDelete(root: java.nio.file.Path, monthDir: java.nio.file.Path,
                             name: String, refs: Set[String]): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val f = monthDir.resolve(name)
    if (!Files.exists(f)) return
    if (refs.contains(fileKey(monthDir, name))) {
      val dest = root.resolve(RetiredDir).resolve(monthDir.getFileName.toString)
      Files.createDirectories(dest)
      Files.move(f, dest.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    } else Files.delete(f)
  }

  /** Capture a named, point-in-time snapshot of the table — the
    * Delta/Iceberg time-travel analogue for this MergeTree-shaped store:
    * the returned id pins exactly the current live file set, and every
    * later compaction / DELETE WHERE / retention / thinning RETIRES
    * (rather than deletes) any file the snapshot still references, so
    * [[readSnapshot]] reproduces this instant's rows bit-for-bit until
    * [[dropSnapshot]] + [[vacuumSnapshots]] release them.
    *
    * Runs under the same single-maintenance-writer contract as
    * [[compact]] (it resolves pending attempts first so the captured
    * file list is never a half-committed swap). Cost is one directory
    * listing — metadata-only at any scale; the storage cost of keeping a
    * snapshot is only the superseded files that maintenance would have
    * deleted. */
  def snapshot(tablePath: String): String = snapshot(tablePath, _ => ())

  /** [[snapshot]] with a pre-install hook: `preInstall(id)` runs after the
    * id claim succeeds but BEFORE the manifest lands. A caller that must
    * record ownership of the pin (a CDC stream's commit-GC bookkeeping)
    * runs its marker write here, closing the crash window the
    * marker-after-pin ordering would leave: a crash after `preInstall`
    * leaves a marker with NO pin (inert — cleanup treats a markered id
    * without a manifest as already dropped) instead of a pin with no
    * marker (an orphan no GC would ever claim). The claim keeps the id
    * unreissuable either way. If `preInstall` throws, no manifest is
    * installed and the error propagates. */
  def snapshot(tablePath: String, preInstall: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = Paths.get(tablePath)
    require(Files.exists(root), s"no store at $tablePath")
    recoverAttempts(root)
    val snapDir = root.resolve(SnapDir)
    Files.createDirectories(snapDir)
    val keys = liveKeys(root).toSeq.sorted
    // Id allocation never reuses an id and never shares one between
    // CONCURRENT creators (N streaming readers polling one store): a
    // caller RESERVES its candidate id with an exclusive `.claim-`
    // create — rename(2) would silently replace, createFile cannot —
    // and only the claim holder installs the manifest, so every offset
    // held outside the store (a checkpoint's offset log) is bound to
    // exactly one manifest forever. Claims are never released by their
    // creator (a released claim could be re-won by a creator holding a
    // stale scan); together with dropSnapshot's `.dropped-` tombstones
    // they form the high-water record that keeps a dropped or
    // crash-orphaned id from ever being reissued, and vacuumSnapshots
    // COMPACTS them into a single create-only `.floor-N` marker so the
    // record stays bounded (compactSnapshotMeta).
    var id: String = null
    while (id == null) {
      val next = allocationFloor(snapDir) + 1
      val candidate = f"s$next%06d"
      val claim = snapDir.resolve(s".claim-$candidate")
      val claimed =
        try { Files.createFile(claim); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (claimed) {
        preInstall(candidate)
        // stage + atomic rename: a manifest is either absent or complete
        val tmp = snapDir.resolve(s".tmp-$candidate")
        Files.write(tmp, keys.mkString("\n").getBytes)
        Files.move(tmp, snapDir.resolve(candidate), StandardCopyOption.ATOMIC_MOVE)
        id = candidate
      }
    }
    id
  }

  /** Compact the per-id allocation markers into one create-only floor
    * record so `_snapshots/` stays bounded: without this, a stream that
    * pins-and-drops per trigger leaves one immortal `.claim-` and one
    * `.dropped-` file per snapshot forever. A `.floor-N` marker is
    * written FIRST (createFile — never mutated, so concurrent compactors
    * and creators are monotone by construction: the max over floor files
    * only grows), then every claim/tombstone/stale-floor/legacy-.hwm
    * record ≤ N is deleted — each id they recorded stays unreissuable
    * through the surviving floor. Deleting an IN-FLIGHT creator's claim
    * is also safe: the floor marker (computed over that claim) keeps its
    * id unreissuable — no later creator can re-claim it (candidates
    * always exceed the floor) — and the in-flight manifest install
    * proceeds regardless of the claim file's existence. */
  private def compactSnapshotMeta(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    val snapDir = root.resolve(SnapDir)
    if (!Files.exists(snapDir)) return
    val floor = allocationFloor(snapDir)
    if (floor == 0L) return
    val marker = snapDir.resolve(s".floor-$floor")
    try Files.createFile(marker)
    catch { case _: java.nio.file.FileAlreadyExistsException => }
    FsMaint.listDir(snapDir).map(_.getFileName.toString).foreach { n =>
      val stale =
        (n.matches("\\.claim-s\\d{6,}") && n.stripPrefix(".claim-s").toLong <= floor) ||
        (n.matches("\\.dropped-s\\d{6,}") && n.stripPrefix(".dropped-s").toLong <= floor) ||
        (n.matches("\\.floor-\\d+") && n.stripPrefix(".floor-").toLong < floor) ||
        (n.matches("\\.owner-s\\d{6,}") && n.stripPrefix(".owner-s").toLong <= floor &&
          !Files.exists(snapDir.resolve("s" + n.stripPrefix(".owner-s")))) ||
        n == ".hwm"
      if (stale) Files.deleteIfExists(snapDir.resolve(n))
    }
  }

  /** Largest snapshot id ever issued, from every record that can carry
    * one: live manifests, permanent `.claim-`/`.dropped-` markers,
    * create-only `.floor-N` compaction markers (see [[vacuumSnapshots]])
    * and the legacy mutable `.hwm` file an earlier scheme wrote —
    * dropping any of these from the max would let an id be reissued and
    * silently re-bind an offset held outside the store. */
  private def allocationFloor(snapDir: java.nio.file.Path): Long = {
    import java.nio.file.Files
    // toLong throughout, matching listSnapshots' sort key and the CDC
    // source's offset arithmetic — an id past Int.MaxValue must scan here
    // exactly as it lists elsewhere
    val scanned = FsMaint.listDir(snapDir).map(_.getFileName.toString)
      .collect {
        case n if n.matches("s\\d{6,}") => n.drop(1).toLong
        case n if n.matches("\\.dropped-s\\d{6,}") => n.stripPrefix(".dropped-s").toLong
        case n if n.matches("\\.claim-s\\d{6,}") => n.stripPrefix(".claim-s").toLong
        case n if n.matches("\\.floor-\\d+") => n.stripPrefix(".floor-").toLong
      }
      .foldLeft(0L)(math.max)
    val hwmFile = snapDir.resolve(".hwm")
    val legacy =
      if (Files.exists(hwmFile))
        new String(Files.readAllBytes(hwmFile)).trim.toLongOption.getOrElse(0L)
      else 0L
    math.max(scanned, legacy)
  }

  /** Does `id`'s manifest pin exactly the current live file set? The
    * idle-detection primitive a polling CDC reader needs: an unchanged
    * store must not grow a pin per trigger. One directory listing + one
    * manifest read — metadata-only at any scale. */
  def snapshotMatchesLive(tablePath: String, id: String): Boolean = {
    val root = java.nio.file.Paths.get(tablePath)
    if (!java.nio.file.Files.exists(root.resolve(SnapDir).resolve(id))) return false
    recoverAttempts(root)
    manifestKeys(root, id).toSet == liveKeys(root)
  }

  /** List snapshot ids, oldest first (numeric order — ids past the
    * 6-digit zero-padding would mis-sort lexicographically). */
  def listSnapshots(tablePath: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(tablePath).resolve(SnapDir)
    if (!java.nio.file.Files.exists(dir)) Seq.empty
    else FsMaint.listDir(dir).map(_.getFileName.toString)
      .filter(_.matches("s\\d{6,}")).sortBy(_.drop(1).toLong)
  }

  /** Record who holds a pin and why, as a `.owner-<id>` note beside the
    * manifest — the operator-facing annotation `--list-snapshots` prints,
    * so cleanup advice ("drop the leaked pin") can tell a stream's LIVE
    * offset pin from a genuinely leaked one before anyone drops it.
    * Best-effort metadata: dropping the snapshot removes the note, and
    * [[vacuumSnapshots]]' marker compaction sweeps notes whose pin is
    * gone. Overwrites any previous note for the id. */
  def annotateSnapshotOwner(tablePath: String, id: String, note: String): Unit = {
    import java.nio.file.{Files, Paths}
    val snapDir = Paths.get(tablePath).resolve(SnapDir)
    Files.createDirectories(snapDir)
    Files.write(snapDir.resolve(s".owner-$id"),
      note.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The owner notes recorded by [[annotateSnapshotOwner]], keyed by
    * snapshot id. Unannotated ids (user pins taken directly through
    * [[snapshot]]) are simply absent. */
  def snapshotOwners(tablePath: String): Map[String, String] = {
    import java.nio.file.{Files, Paths}
    val snapDir = Paths.get(tablePath).resolve(SnapDir)
    if (!Files.exists(snapDir)) Map.empty
    else FsMaint.listDir(snapDir).map(_.getFileName.toString)
      .filter(_.matches("\\.owner-s\\d{6,}"))
      .map { n =>
        val id = n.stripPrefix(".owner-")
        id -> new String(Files.readAllBytes(snapDir.resolve(n)),
          java.nio.charset.StandardCharsets.UTF_8).trim
      }.toMap
  }

  /** Read the table exactly as it was when `id` was captured. Each
    * manifest key resolves to its live path (file not yet superseded) or
    * its `_retired/` path (superseded since, kept for this snapshot);
    * both groups read with the store schema + ym from the directory
    * layout, so the result is indistinguishable from [[read]] at capture
    * time. Fails loudly if a referenced file was vacuumed away. */
  def readSnapshot(spark: SparkSession, tablePath: String, id: String): DataFrame = {
    val root = java.nio.file.Paths.get(tablePath)
    readResolvedKeys(spark, root, manifestKeys(root, id), s"snapshot $id")
  }

  /** A snapshot's manifest keys, sorted — ONE metadata read. A chunked
    * bootstrap caches this once per snapshot (manifests are immutable)
    * instead of re-reading a million-key manifest per chunk. */
  def snapshotKeys(tablePath: String, id: String): IndexedSeq[String] =
    manifestKeys(java.nio.file.Paths.get(tablePath), id).sorted

  /** A snapshot manifest's keys in file order — the store's one manifest
    * reader. Fails loudly on an unknown id. */
  private def manifestKeys(root: java.nio.file.Path, id: String): IndexedSeq[String] = {
    import scala.jdk.CollectionConverters._
    val mf = root.resolve(SnapDir).resolve(id)
    require(java.nio.file.Files.exists(mf), s"unknown snapshot '$id' at $root")
    java.nio.file.Files.readAllLines(mf).asScala.toIndexedSeq.filter(_.nonEmpty)
  }

  /** Byte size of each manifest key, resolved live-or-retired — the
    * admission-control weight for byte-bounded chunking (one stat per
    * listed file, metadata only; a vacuumed key weighs 0 and the read
    * path fails loudly on it later). */
  def keyBytes(tablePath: String, keys: Seq[String]): IndexedSeq[Long] = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(tablePath)
    val retired = root.resolve(RetiredDir)
    keys.iterator.map { k =>
      val live = root.resolve(k)
      val p = if (Files.exists(live)) live else retired.resolve(k)
      if (Files.exists(p)) Files.size(p) else 0L
    }.toIndexedSeq
  }

  /** When a snapshot was captured: its manifest's modification time. The
    * manifest is installed once (atomic rename) and never rewritten, so
    * this is stable across replays — the commit-time column a CDC feed
    * exposes (`_commit_ts`) reads the same value forever. */
  def snapshotTimestamp(tablePath: String, id: String): java.sql.Timestamp = {
    import java.nio.file.{Files, Paths}
    val mf = Paths.get(tablePath).resolve(SnapDir).resolve(id)
    require(Files.exists(mf), s"unknown snapshot '$id' at $tablePath")
    new java.sql.Timestamp(Files.getLastModifiedTime(mf).toMillis)
  }

  /** Alias-aware read of pre-resolved manifest keys (each served from
    * its live or `_retired/` location) — the slice reader a chunked
    * consumer calls with keys it already holds. */
  private[graft] def readKeys(spark: SparkSession, tablePath: String,
                              keys: Seq[String], what: String): DataFrame =
    readResolvedKeys(spark, java.nio.file.Paths.get(tablePath), keys, what)


  /** Alias-aware scan of manifest keys, each resolved to its live path
    * (not yet superseded) or its `_retired/` one (superseded but pinned)
    * — the shared read kernel of [[readSnapshot]], [[readAppendedSince]]
    * and the snapshot-diff readers. Fails loudly on a vacuumed key: no
    * honest read exists. */
  private def readResolvedKeys(spark: SparkSession, root: java.nio.file.Path,
                               keys: Seq[String], what: String): DataFrame = {
    import java.nio.file.Files
    val retiredRoot = root.resolve(RetiredDir)
    val (live, retired) = keys.partition(k => Files.exists(root.resolve(k)))
    retired.filterNot(k => Files.exists(retiredRoot.resolve(k))) match {
      case missing if missing.nonEmpty =>
        sys.error(s"$what references vacuumed file(s): ${missing.take(3).mkString(", ")}")
      case _ =>
    }
    val stored = storedSchema(root)
    val phys = org.apache.spark.sql.types.StructType(
      physicalSchema(stored).fields :+
      org.apache.spark.sql.types.StructField(TraceSchema.PartitionCol,
        org.apache.spark.sql.types.StringType))
    def readFrom(base: java.nio.file.Path, ks: Seq[String]): Option[DataFrame] =
      if (ks.isEmpty) None
      else Some(resolveAliases(
        spark.read.option("basePath", base.toString).schema(phys)
          .parquet(ks.map(k => base.resolve(k).toString): _*),
        stored, Seq(TraceSchema.PartitionCol)))
    (readFrom(root, live), readFrom(retiredRoot, retired)) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None)    => a
      case (None, Some(b))    => b
      case _ => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        logicalWithYm(stored))
    }
  }

  /** Logical output schema of a table read: stored fields (manifest
    * metadata stripped — it is a storage detail, not part of the user
    * surface) plus the ym partition column. */
  private def logicalWithYm(stored: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      stored.fields.map(_.copy(metadata = org.apache.spark.sql.types.Metadata.empty)) :+
      org.apache.spark.sql.types.StructField(TraceSchema.PartitionCol,
        org.apache.spark.sql.types.StringType))

  /** Incremental consumption: the rows APPENDED since `id` was captured
    * — exactly the live files absent from the snapshot's manifest (the
    * store's append path only ever ADDS files, so file-set difference IS
    * row-set difference). This is the batch-CDC reader pattern:
    * snapshot → process → readAppendedSince → snapshot → … each cycle
    * touching only the increment, never the accumulated table.
    *
    * Valid only while no maintenance REWRITE has superseded a pinned
    * file (a rewrite renames existing rows into fresh files, which would
    * surface old rows as "new"); detected by a pinned file having left
    * the live set, and failed loudly instead of over-reporting — after
    * maintenance, re-base on a fresh snapshot. */
  def readAppendedSince(spark: SparkSession, tablePath: String, id: String): DataFrame = {
    val root = java.nio.file.Paths.get(tablePath)
    val pinned = manifestKeys(root, id).toSet
    val live = liveKeys(root)
    val rewritten = pinned -- live
    require(rewritten.isEmpty,
      s"maintenance rewrote pinned file(s) since $id (e.g. ${rewritten.take(3).mkString(", ")})" +
        " — the increment is no longer append-only; re-base on a fresh snapshot")
    readResolvedKeys(spark, root, (live -- pinned).toSeq.sorted, s"appended since $id")
  }

  /** Row-level change feed since `id`, SURVIVING maintenance rewrites —
    * the growth edge [[readAppendedSince]] refuses: that reader is the
    * cheap fast path while the store is append-only; this one stays
    * correct across compact / DELETE WHERE / retention / thinning.
    * Returns the logical columns + ym + `_change` ("insert" | "delete").
    *
    * The file sets do the pruning, the rows do the semantics:
    *   - files in BOTH the manifest and the live set contribute nothing
    *     (never read — at 100 TB the untouched bulk of the table);
    *   - live files absent from the manifest hold the CANDIDATE new
    *     rows; pinned files that left the live set hold the CANDIDATE
    *     old rows (readable from `_retired/` — the snapshot pins them,
    *     so every rewrite retired rather than deleted them);
    *   - inserts = new EXCEPT ALL old, deletes = old EXCEPT ALL new
    *     (multiset semantics, so duplicate rows carry their counts) —
    *     both sides computed in ONE signed pass ([[signedDiff]]: each
    *     changed file scanned once, one exchange, not two of each).
    * A compaction rewrites the same rows into fresh files: its old and
    * new candidate sets cancel row-for-row and the feed is a NO-OP, at
    * cost proportional to the rewritten months — never the table. A
    * DELETE WHERE's condemned rows survive only on the old side →
    * deletes; appends have no old side → inserts. Both sides read
    * through the CURRENT stored schema with alias resolution (exactly
    * like [[readSnapshot]]), so evolution between the snapshot and now
    * compares under current names — a rename does not fake a rewrite.
    *
    * Fails loudly if a pinned file was vacuumed away (dropSnapshot +
    * vacuum released it): the baseline is gone and no diff is honest.
    *
    * Concurrency caveat (same as [[compact]]'s reader note): the live
    * file listing is not atomic against an in-flight rewrite's
    * install-then-delete window, so run the feed on the maintenance
    * cadence, not concurrently with it — or pin a fresh snapshot first
    * and use [[readChangesBetween]], whose both sides are immutable
    * manifests.
    *
    * `rowFilter` and `monthFilter` push a row predicate below the diff
    * and prune the changed-file worklist by month before any file I/O —
    * same soundness arguments and caller contract as in
    * [[readChangesBetween]]. */
  def readChangesSince(spark: SparkSession, tablePath: String, id: String,
                       rowFilter: Option[org.apache.spark.sql.Column] = None,
                       monthFilter: Option[String => Boolean] = None): DataFrame = {
    val root = java.nio.file.Paths.get(tablePath)
    // resolve any crashed maintenance attempt FIRST (same as snapshot()):
    // a compact that died between install and delete leaves both the old
    // pinned files and their rewritten copies live, and a diff over that
    // half-committed state would report the whole month as inserts
    recoverAttempts(root)
    val work = worklist(manifestKeys(root, id).toSet, liveKeys(root))
    readChangedKeys(spark, tablePath, inMonths(work, monthFilter),
      s"change feed since $id", rowFilter)
  }

  /** Both sides of a multiset row diff in ONE pass: union the sides with
    * +1/−1 signs, aggregate the sign sum per full row, keep |sum| copies
    * on the winning side. Row-for-row identical to the
    * `new EXCEPT ALL old` / `old EXCEPT ALL new` pair (insert count =
    * max(n−o, 0), delete count = max(o−n, 0); GROUP BY's null-safe key
    * equality matches EXCEPT ALL's) — but the pair compiles to TWO
    * independent union+aggregate subplans, scanning every changed file
    * and shuffling the union twice; this shape reads each file once and
    * exchanges once, halving the feed's I/O and shuffle at any scale. */
  private def signedDiff(newRows: DataFrame, oldRows: DataFrame): DataFrame = {
    val cols = newRows.columns.toSeq
    newRows.withColumn("_sign", lit(1L))
      .unionByName(oldRows.withColumn("_sign", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("_sign")).as("_n"))
      .filter(col("_n") =!= 0L)
      .withColumn("_change", when(col("_n") > 0, lit("insert")).otherwise(lit("delete")))
      .withColumn("_r", explode(array_repeat(lit(1), abs(col("_n")).cast("int"))))
      .select((cols :+ "_change").map(col): _*)
  }

  /** Row-level change feed BETWEEN two snapshots — the completion of the
    * time-travel diff algebra ([[readChangesSince]] is the to-now form):
    * what happened to the table between pin `fromId` and pin `toId`,
    * answerable long after both states were superseded, because every
    * file either manifest references is still live or retired. Same
    * file-set pruning (shared keys contribute nothing and are never
    * read) + EXCEPT ALL row diff; output is the logical columns + ym +
    * `_change` relative to the `toId` state ("insert" = arrived,
    * "delete" = left). `fromId`/`toId` need not be ordered — swapping
    * them flips the signs, which is the algebra a reconciliation job
    * expects. Cost ∝ files that differ, never the table.
    *
    * `rowFilter` pushes a row predicate BELOW the diff: a deterministic
    * per-row filter over the data columns distributes over multiset
    * difference (`filter(f)(A ⊖ B) = filter(f)(A) ⊖
    * filter(f)(B)` — membership of a row in either side depends only on
    * that row), so both candidate sides filter before the signed pass
    * and Catalyst pushes the predicate into the parquet scans. The I/O
    * saving a filtering CDC consumer expects: changed files are still
    * the pruning unit, but only matching ROWS of them are read. NOT
    * sound for column pruning (projection below the diff can cancel
    * rows that differ only in dropped columns) — prune ABOVE the diff.
    *
    * `monthFilter` prunes the changed-file WORKLIST by a month
    * predicate before any file I/O — the partition-level
    * completion of the row-filter pushdown: a month-scoped consumer
    * (`WHERE ym = '202401'`) of a table-scale rewrite schedules and
    * opens only that month's changed files, not every changed file with
    * the predicate re-checked per row. Sound because files never mix
    * months (the `ym=` directory layout), so dropping a non-matching
    * month's files from the worklist removes exactly the rows a
    * `ym`-predicate would remove — the diff restricted to a month equals
    * the month-restriction of the diff. The predicate receives the month
    * VALUE (`"202401"`). Callers must still apply the equivalent row
    * predicate above (the batch relation keeps `ym` filters in both
    * `rowFilter` and Spark's re-application, so an over-broad month
    * predicate costs I/O, never correctness — but an under-selective one
    * would silently drop changes: pass only predicates implied by the
    * row filters). */
  def readChangesBetween(spark: SparkSession, tablePath: String,
                         fromId: String, toId: String,
                         rowFilter: Option[org.apache.spark.sql.Column] = None,
                         monthFilter: Option[String => Boolean] = None): DataFrame =
    readChangedKeys(spark, tablePath,
      inMonths(changedKeysBetween(tablePath, fromId, toId), monthFilter),
      s"changes $fromId..$toId", rowFilter)

  /** The month value (`"201905"`) of a manifest key (`"ym=201905/…"`) or
    * of a month directory name (`"ym=201905"`). */
  private[graft] def monthOf(key: String): String =
    key.takeWhile(_ != '/').stripPrefix(s"${TraceSchema.PartitionCol}=")

  /** A worklist restricted to the months `monthFilter` accepts. */
  private def inMonths(work: IndexedSeq[(String, Boolean)],
                       monthFilter: Option[String => Boolean]): IndexedSeq[(String, Boolean)] =
    monthFilter.fold(work)(p => work.filter(e => p(monthOf(e._1))))

  /** The signed changed-FILE worklist between two pins: every manifest
    * key present in exactly one of the two, tagged with its side
    * (`true` = only in `toId` → insert candidates; `false` = only in
    * `fromId` → delete candidates). This is the admission-control unit
    * for a chunked diff consumer: any partition of this list into
    * slices, each read via [[readChangedKeys]], sums to EXACTLY
    * [[readChangesBetween]]'s feed (signed row algebra is additive over
    * file sets) — a rewrite's cancelling pairs may land in different
    * slices, surfacing transiently as insert+delete of the same row,
    * which nets to zero for any signed consumer (amplification ≤ 2×,
    * structural: each changed file is read once).
    *
    * Ordering is chosen to keep cancelling pairs IN the same slice:
    * within each month, each side is sorted by name and assigned a
    * fractional position, and the sides are merged by position — both
    * the ingest and every maintenance rewrite range-partition a month's
    * files by `Time`, so old file i/N and new file j/M at the same
    * fraction cover the same time range and their rows cancel
    * in-slice instead of across slices. Deterministic (a pure function
    * of the two immutable manifests), so chunk offsets replay
    * identically — which also makes this ordering part of the OFFSET
    * CONTRACT: changing it while any checkpoint holds a mid-diff
    * offset would silently re-slice that diff, so a future reorder
    * must version the offset (a new json field) rather than redefine
    * the existing one. Two metadata reads, no data I/O. */
  def changedKeysBetween(tablePath: String, fromId: String,
                         toId: String): IndexedSeq[(String, Boolean)] = {
    val root = java.nio.file.Paths.get(tablePath)
    worklist(manifestKeys(root, fromId).toSet, manifestKeys(root, toId).toSet)
  }

  /** The signed changed-file worklist from key set `from` to key set
    * `to`, in [[changedKeysBetween]]'s order (months ascending; within a
    * month, both sides merged by fractional file position). */
  private def worklist(from: Set[String], to: Set[String]): IndexedSeq[(String, Boolean)] =
    ((to -- from).iterator.map(_ -> true) ++ (from -- to).iterator.map(_ -> false))
      .toIndexedSeq.groupBy(e => monthOf(e._1)).toIndexedSeq.sortBy(_._1)
      .flatMap { case (_, entries) =>
        entries.groupBy(_._2).toIndexedSeq
          .flatMap { case (side, es) =>
            val names = es.map(_._1).sorted
            names.zipWithIndex.map { case (name, i) => ((i + 0.5) / names.size, name, side) }
          }
          .sorted
          .map { case (_, name, side) => (name, side) }
      }

  /** Signed row diff over a slice of [[changedKeysBetween]]'s worklist —
    * the chunked consumer's read kernel (the whole-list call IS
    * [[readChangesBetween]]). Insert-side and delete-side keys of the
    * slice are read alias-resolved (live or `_retired/`) and combined in
    * one signed pass ([[signedDiff]]). A one-sided slice (every
    * append-only diff is one) has nothing to cancel, so it is read as a
    * plain scan tagged with its side: the same multiset, no shuffle. */
  private[graft] def readChangedKeys(spark: SparkSession, tablePath: String,
                                     slice: Seq[(String, Boolean)],
                                     what: String,
                                     rowFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val root = java.nio.file.Paths.get(tablePath)
    val news = slice.collect { case (k, true) => k }
    val olds = slice.collect { case (k, false) => k }
    def side(keys: Seq[String]): DataFrame = {
      val df = readResolvedKeys(spark, root, keys, what)
      rowFilter.fold(df)(df.filter)
    }
    if (olds.isEmpty) side(news).withColumn("_change", lit("insert"))
    else if (news.isEmpty) side(olds).withColumn("_change", lit("delete"))
    else signedDiff(side(news), side(olds))
  }

  /** One step of the operational CDC cursor cycle: pin the CURRENT state
    * as a fresh snapshot and return the row-level changes from `prevId`
    * to it — the packaged form of the snapshot → process → re-base loop
    * the readers above document, with the rotation made atomic-enough
    * for an at-least-once consumer: the NEW pin lands before the diff is
    * computed, so a consumer that crashes mid-process re-runs the same
    * `advanceCursor(prevId)` and gets a superset-equal feed (both pins
    * still exist; nothing was dropped). The caller drops `prevId` (and
    * vacuums) only AFTER durably committing the processed changes —
    * exactly the two-phase shape a downstream rollup maintainer (q227's
    * algebra) needs. Cost: one directory listing + the diff's pruned
    * file reads. */
  def advanceCursor(spark: SparkSession, tablePath: String,
                    prevId: String): (DataFrame, String) = {
    val next = snapshot(tablePath)
    (readChangesBetween(spark, tablePath, prevId, next), next)
  }

  /** Release a snapshot. Retired files it pinned become reclaimable by
    * the next [[vacuumSnapshots]]. A `.dropped-<id>` tombstone lands
    * BEFORE the manifest is removed, so the id is never reissued (see
    * [[snapshot]]'s allocation scan) — a crash between the two leaves
    * both, which only skips the id. */
  def dropSnapshot(tablePath: String, id: String): Boolean = {
    import java.nio.file.{Files, Paths}
    val snapDir = Paths.get(tablePath).resolve(SnapDir)
    if (!Files.exists(snapDir.resolve(id))) return false
    val tomb = snapDir.resolve(s".dropped-$id")
    try Files.createFile(tomb)
    catch { case _: java.nio.file.FileAlreadyExistsException => }
    Files.deleteIfExists(snapDir.resolve(s".owner-$id"))
    Files.deleteIfExists(snapDir.resolve(id))
  }

  /** Reclaim retired files no remaining snapshot references (the Delta
    * VACUUM analogue). Refcounting is a scan of the (metadata-sized)
    * manifests; cost is O(retired files). Returns the removed keys.
    * Also compacts the id-allocation markers ([[compactSnapshotMeta]]),
    * so a store whose streams pin-and-drop per trigger keeps a bounded
    * `_snapshots/` directory. */
  def vacuumSnapshots(tablePath: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(tablePath)
    compactSnapshotMeta(root)
    val retiredRoot = root.resolve(RetiredDir)
    if (!Files.exists(retiredRoot)) return Seq.empty
    val refs = snapshotRefs(root)
    val removed = FsMaint.listDir(retiredRoot)
      .filter(d => Files.isDirectory(d))
      .flatMap { mdir =>
        parquetFiles(mdir)
          .filterNot(f => refs.contains(fileKey(mdir, f.getFileName.toString)))
          .map { f => Files.delete(f); fileKey(mdir, f.getFileName.toString) }
      }
    FsMaint.listDir(retiredRoot)
      .filter(d => Files.isDirectory(d) && FsMaint.listDir(d).isEmpty)
      .foreach(Files.delete(_))
    if (FsMaint.listDir(retiredRoot).isEmpty) Files.delete(retiredRoot)
    removed
  }

  /** Crash recovery for a previous compact/delete attempt: complete any
    * manifest whose temp rewrite finished, then clear orphans. Safe under
    * the single-maintenance-writer assumption. */
  private def recoverAttempts(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import FsMaint.{listDir, deleteTree}
    // manifests are read only when a crashed rewrite left a marker: every
    // CDC poll, snapshot and diff runs this recovery on a clean store
    lazy val refs = snapshotRefs(root)
    monthDirs(root).foreach { monthDir =>
      Files.deleteIfExists(monthDir.resolve("_compact_manifest.tmp"))
      val marker = monthDir.resolve("_compact_manifest")
      if (Files.exists(marker)) {
        val lines = Files.readAllLines(marker).asScala
        val tmp = monthDir.resolveSibling(lines.head)
        val (installs, deletes) = lines.tail.partition(_.startsWith("install\t"))
        installs.foreach { l =>
          val Array(_, from, to) = l.split('\t')
          val src = tmp.resolve(from)
          if (Files.exists(src))
            Files.move(src, monthDir.resolve(to), StandardCopyOption.ATOMIC_MOVE)
        }
        // same retire-or-delete decision as the non-crashed path: a file
        // a snapshot pinned before the crash must survive recovery too
        deletes.foreach(l =>
          retireOrDelete(root, monthDir, l.stripPrefix("delete\t"), refs))
        Files.delete(marker)
        deleteTree(tmp)
      }
    }
    listDir(root).filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".compact-") || n.startsWith(".trash-")
    }.foreach(deleteTree)
  }

  /** The store's `ym=` month partition directories. */
  private def monthDirs(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    FsMaint.listDir(root).filter(p => java.nio.file.Files.isDirectory(p) &&
      p.getFileName.toString.startsWith(s"${TraceSchema.PartitionCol}="))

  private def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    FsMaint.listDir(dir).filter(_.toString.endsWith(".parquet"))

  /** Does any row of `files` match `cond`? One pushed-filter probe —
    * bloom/min-max stats make misses cheap. */
  private def anyRow(spark: SparkSession, tablePath: String, files: Seq[java.nio.file.Path],
                     cond: org.apache.spark.sql.Column): Boolean =
    files.nonEmpty && readFiles(spark, java.nio.file.Paths.get(tablePath), files)
      .filter(cond).limit(1).count() > 0

  /** The month-rewrite loop of [[compact]], [[deleteWhere]] and
    * [[thinExpired]]: resolve pending attempts,
    * capture each month's parquet file set FIRST (only those files are
    * read and later retired — a concurrent append is never touched), and
    * [[rewriteMonth]] the months `pick(ym, files)` selects. Returns the
    * rewritten ym values. */
  private def rewriteMonths(spark: SparkSession, tablePath: String,
                            pick: (String, Seq[java.nio.file.Path]) => Boolean,
                            transform: DataFrame => DataFrame,
                            splitsPerMonth: Int, tag: String): Seq[String] = {
    val root = java.nio.file.Paths.get(tablePath)
    if (!java.nio.file.Files.exists(root)) return Seq.empty
    recoverAttempts(root)
    monthDirs(root).map(d => (d, parquetFiles(d)))
      .filter { case (d, old) => pick(monthOf(d.getFileName.toString), old) }
      .map { case (d, old) =>
        rewriteMonth(spark, d, old, transform, splitsPerMonth, tag)
      }
  }

  /** Shared month-swap: read exactly the captured files, apply
    * `transform`, rewrite time-sorted under the manifest protocol
    * documented on [[compact]]. Returns the month's ym value. */
  private def rewriteMonth(spark: SparkSession,
                           monthDir: java.nio.file.Path,
                           old: Seq[java.nio.file.Path],
                           transform: DataFrame => DataFrame,
                           splitsPerMonth: Int,
                           tag: String): String = {
    import java.nio.file.{Files, StandardCopyOption}
    import FsMaint.deleteTree
    val ym = monthOf(monthDir.getFileName.toString)
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val tmpName = s".compact-$ym-$attempt"
    val tmp = monthDir.resolveSibling(tmpName)
    deleteTree(tmp)
    // the rewrite MUST read the evolved schema WITH alias resolution:
    // reading the base schema would silently drop evolved columns from
    // every rewritten month, and skipping rename resolution would null
    // out a renamed column's pre-rename history. Side effect worth
    // having: the rewrite writes CURRENT physical names, so compaction
    // physically migrates old files to the post-rename layout.
    withBloomOptions(
      transform(readFiles(spark, monthDir.getParent, old)) // exactly the captured files
        .repartitionByRange(splitsPerMonth, col("Time"))
        .sortWithinPartitions("Time")
        .write.mode("overwrite").option("compression", "zstd"),
      storedSchema(monthDir.getParent))
      .parquet(tmp.toString)
    val installs = parquetFiles(tmp).zipWithIndex.map { case (f, i) =>
      (f.getFileName.toString, f"$tag-$ym-$attempt-$i%05d.parquet")
    }
    // the manifest IS the commit record — recovery assumes it is
    // either absent or complete, so stage it and rename atomically
    // (a truncated manifest would wedge recovery or leave the old
    // files undeleted → permanent duplicates)
    val marker = monthDir.resolve("_compact_manifest")
    val markerTmp = monthDir.resolve("_compact_manifest.tmp")
    Files.write(markerTmp,
      (tmpName +:
       (installs.map { case (a, b) => s"install\t$a\t$b" } ++
        old.map(p => s"delete\t${p.getFileName}"))).mkString("\n").getBytes)
    Files.move(markerTmp, marker, StandardCopyOption.ATOMIC_MOVE)
    installs.foreach { case (from, to) =>
      Files.move(tmp.resolve(from), monthDir.resolve(to),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // snapshot-pinned files retire instead of dying (see [[snapshot]]);
    // refs are re-read per month — rewrites are rare and manifest reads
    // are metadata-sized, and a stale set here would break a snapshot
    val refs = snapshotRefs(monthDir.getParent)
    old.foreach(p => retireOrDelete(monthDir.getParent, monthDir,
      p.getFileName.toString, refs))
    Files.delete(marker)
    deleteTree(tmp)
    ym
  }
}
