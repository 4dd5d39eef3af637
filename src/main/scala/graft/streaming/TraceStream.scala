package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}
import graft.ingest.TraceIngest
import graft.schema.TraceSchema
import graft.store.TraceStore

/** Structured-Streaming ingest (SURVEY.md §2 A1-A4, A11, A13; §3 E1).
  *
  * The reference's pipeline — inotifywait on close_write → one python
  * process per rotated file → HTTP INSERT → delete on success
  * (/root/reference/entrypoint.sh:18-29,
  * /root/reference/trace-converter.py:109-130) — maps onto the file
  * source's contract: a newly visible file is a new unit of data, each
  * micro-batch is delivered at-least-once under checkpoint bookkeeping,
  * and the ingest sink adds per-batch markers so a replayed delivery is
  * skipped. A crash between a batch's append and its marker stores that
  * batch twice (at-least-once, like the reference's manual delete; see
  * [[start]] and ROADMAP direction 2).
  *
  * Scale: file listing is driver-side but incremental (maxFilesPerTrigger
  * bounds a batch); parse/normalize run on executors; the sink append
  * partitions by month so a year of backlog still lands as 12 directories
  * with batch-sized files.
  */
object TraceStream {

  final case class Config(
    watchDir: String,
    tablePath: String,
    checkpointDir: String,
    maxFilesPerTrigger: Int = 64,
    deleteOnSuccess: Boolean = false,   // A13: the reference's --delete-logs
    trigger: Trigger = Trigger.AvailableNow(),
    /** Write parallelism per month partition. A micro-batch of rotated
      * files usually lands in 1–2 months, so the store default of 1 would
      * serialize the whole batch's sort+zstd+write onto one core; a few
      * splits keep the commit parallel while files stay batch-sized (the
      * small-file/small-insert contract still holds: ≤ splits files per
      * month per commit). */
    splitsPerMonth: Int = 8,
    /** Background-merge cadence — the ClickHouse analogue for a
      * long-running ingest (the reference counts on MergeTree merging
      * its one-INSERT-per-file parts; a streaming parquet store must
      * compact its own micro-batch files or range scans degrade).
      * Some(n): after every n-th committed batch, compact months that
      * exceed `compactOver` files. The stream is the store's single
      * maintenance writer, so the protocol's single-writer rule holds by
      * construction; compaction runs AFTER the batch's append + marker,
      * off the commit's correctness path, and a replayed batch re-runs
      * it harmlessly (compact is idempotent and skips small months). */
    compactEveryBatches: Option[Int] = None,
    /** File-count threshold for the cadenced compaction. */
    compactOver: Int = 16,
    /** Data-time retention on the same cadence — the ClickHouse
      * `TTL Time + INTERVAL n MONTH DELETE` analogue: on each cadence
      * hit, keep only the newest n month partitions (anchored to the
      * newest ym in the store, so a historical backfill is not
      * truncated by wall-clock). Runs BEFORE compaction so a condemned
      * month is never pointlessly rewritten first. Requires
      * `compactEveryBatches` to supply the cadence. */
    retainMonths: Option[Int] = None)

  /** Streaming source over the watched directory (A1): new rotated
    * *.json files become micro-batch input. */
  def source(spark: SparkSession, cfg: Config): DataFrame =
    spark.readStream
      .schema(TraceSchema.raw)
      .option("pathGlobFilter", "*.json")            // A3 suffix filter
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .option("cleanSource", if (cfg.deleteOnSuccess) "delete" else "off")
      .json(cfg.watchDir)

  /** Deterministic key for one checkpoint lineage: replays within the
    * same checkpoint share batch-id meaning; a NEW checkpoint restarts
    * ids at 0, so markers from a previous incarnation must never
    * suppress (ingest) or silently skip (rollup) the new one's batches.
    *
    * The lineage is the streaming query id Spark writes into the
    * checkpoint's `metadata` file at checkpoint CREATION — a checkpoint
    * wiped in place gets a fresh UUID, so stale markers/parts keyed by
    * the old lineage can never suppress the new one's batches (a pure
    * path hash was blind to wipe-in-place: same path, restarted ids).
    * Read via the Hadoop FileSystem API so a non-local checkpoint
    * (HDFS/S3A) resolves the same way Spark itself resolves it. Falls
    * back to a path hash only when the metadata file is unreadable; the
    * marker/part id guards in [[start]]/[[upsertSegment]] then catch a
    * wiped lineage loudly instead of silently. */
  private[streaming] def lineageOf(spark: SparkSession, checkpointDir: String): String = {
    val meta = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fromMeta =
      try {
        if (!fs.exists(meta)) None
        else {
          val in = fs.open(meta)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          """"id"\s*:\s*"([0-9a-fA-F-]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
        }
      } catch { case _: java.io.IOException => None }
    fromMeta.getOrElse(incarnationOf(checkpointDir))
  }

  /** Path-hash fallback lineage (pre-metadata checkpoints, unreadable
    * metadata). Blind to wipe-in-place — which is why every consumer
    * also id-guards against markers/parts from the future. */
  private[streaming] def incarnationOf(checkpointDir: String): String = {
    val abs = java.nio.file.Paths.get(checkpointDir).toAbsolutePath.toString
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Ingest-batch marker ids present under `<tablePath>/_ingest_batches/<inc>`. */
  private def markerIds(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v")) n.drop(1).toLongOption else None
    }

  /** Full ingest query: source → normalize → partitioned store append.
    * foreachBatch gives the same commit unit as the reference's
    * one-file-one-INSERT (A11) while keeping the store writer shared with
    * the batch path.
    *
    * Replay handling: foreachBatch is at-least-once, and
    * `TraceStore.append` is a plain parquet append — so a replayed batch
    * would land TWICE without a guard. A per-(incarnation, batchId)
    * marker under `_ingest_batches/` is written after each successful
    * append and skips the re-delivery. The marker follows the append, so
    * a crash between the append and the marker stores that batch twice
    * (at-least-once, never loss). Making the append itself idempotent
    * per batch is ROADMAP direction 2. */
  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    // Lineage resolves LAZILY, on the first batch: the checkpoint's
    // metadata file only exists once the query has started, and
    // foreachBatch runs driver-side strictly after that.
    var inc: String = null
    TraceIngest.normalize(source(spark, cfg))
      .writeStream
      .queryName("trace-ingest")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(cfg.trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (inc == null) inc = lineageOf(s, cfg.checkpointDir)
        val dir = new org.apache.hadoop.fs.Path(cfg.tablePath, s"_ingest_batches/$inc")
        val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        val marker = new org.apache.hadoop.fs.Path(dir, s"v$batchId")
        // Within one lineage batch ids are monotone and only the latest
        // uncommitted batch can replay — a marker AHEAD of the current
        // batch can only come from a wiped-in-place checkpoint under the
        // path-hash fallback. The check runs BEFORE the replay-skip: a
        // surviving v0 marker from a dead lineage must not silently
        // swallow the new lineage's batch 0 just because the ids collide
        // while later stale markers sit in plain sight. (The one
        // irreducible fallback hole — old lineage died at EXACTLY the
        // same batch id, leaving no later marker — is indistinguishable
        // from a genuine replay by ids alone; the metadata-derived
        // lineage closes it, which is why the fallback is last-resort.)
        val ids = markerIds(fs, dir)
        require(ids.forall(_ <= batchId),
          s"ingest markers up to v${ids.max} exist under $dir but this query is " +
          s"at batch $batchId — the checkpoint was wiped in place and batch ids " +
          "restarted; clear the marker directory (the table keeps its data) or " +
          "restore the original checkpoint")
        if (!ids.contains(batchId)) {
          TraceStore.append(batch, cfg.tablePath, cfg.splitsPerMonth)
          fs.mkdirs(dir)
          fs.create(marker, true).close()
          // Retention: once this batch's offsets commit, only THIS batch can
          // ever replay — markers two or more behind are dead bookkeeping.
          // Keep batchId-1 as grace for the commit-in-flight window.
          ids.filter(_ < batchId - 1)
            .foreach(i => fs.delete(new org.apache.hadoop.fs.Path(dir, s"v$i"), true))
          // cadenced background merge (see Config.compactEveryBatches):
          // runs after the commit + marker, so a crash mid-compaction
          // never loses the batch — the manifest protocol repairs the
          // half-done month on the next cadence hit or manual compact
          cfg.compactEveryBatches.foreach { n =>
            if (batchId % n == n - 1) {
              cfg.retainMonths.foreach(m =>
                TraceStore.retainLastMonths(cfg.tablePath, m))
              TraceStore.compact(s, cfg.tablePath, cfg.compactOver, cfg.splitsPerMonth)
            }
          }
          ()
        }
      }
      .start()
  }

  /** Sentinel-file shutdown (A4): the reference exits its watch loop when
    * `sim-completed` appears (/root/reference/entrypoint.sh:22-24). Polls
    * between micro-batches; returns when stopped. */
  def runUntilSentinel(q: StreamingQuery, sentinel: java.nio.file.Path,
                       pollMillis: Long = 500): Unit = {
    while (q.isActive && !java.nio.file.Files.exists(sentinel)) {
      q.awaitTermination(pollMillis)
    }
    if (q.isActive) q.stop()
    q.awaitTermination()
  }

  // ------------------------------------------------------------------ persistent incremental rollup (B6, SummingMergeTree form)
  /** The maintained rollup's declared shape: (ym, Type) → row count +
    * severity sum — decomposable measures only, so increments merge by
    * summation. Severity widens to long before summing: the stored sum
    * keeps growing across folds. */
  private val RollupKeys = Seq("ym", "Type")
  private val RollupMeasures = Seq("n", "sev_sum")
  /** The slot rollup's keys ([[followSlotRollup]]): the sub-second
    * window index and Type, with the rollup's measures. */
  private val SlotKeys = Seq("slot", "Type")
  private def slotOf(slotMicros: Long): Column =
    expr(s"unix_micros(Time) div $slotMicros").as("slot")

  /** Fold cadence of every maintained table: a fold runs once the live
    * segment count would exceed it. */
  private val DefaultCompactOver = 8

  /** Per-row signed contributions to a rollup-shaped table (the (ym,
    * Type) rollup and the (slot, Type) slot rollup): `key`, Type, the
    * sign as the row count and sign × Severity as the severity sum. */
  private def rollRows(df: DataFrame, key: Column, sign: Column): DataFrame =
    df.select(key, col("Type"), sign.as("n"),
      (sign * col("Severity").cast("long")).as("sev_sum"))

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Read the current maintained (ym, Type) rollup: merge-on-read over
    * its segments (see [[readIndex]], which this wraps with the rollup's
    * declared shape, exactly like [[readSlotRollup]]). */
  def readRollup(spark: SparkSession, rollupPath: String): DataFrame =
    readIndex(spark, rollupPath, RollupKeys, RollupMeasures)

  /** ROLLING month-scope migration for a maintained rollup — the
    * production "last N months" that ADVANCES. The months spec is part
    * of the offset contract and therefore pinned per checkpoint
    * ([[graft.sources.CdcSource]]), so a scope change is a documented
    * MIGRATION, not a mutable option:
    *
    *  1. quiesce the old maintainer (drain it to current, stop it);
    *  2. call this — it pins the store's state and writes the NEW
    *     scope's seed under `newRollupPath` as the `seed-0` part (a
    *     base older than batch 0, as [[seedIndex]] writes it): because
    *     `ym` is part of the rollup key, the new scope's content is
    *     PURE SUBTRACTION of the aged-out months from the old rollup — a
    *     filter of the maintained table; the store is never recomputed;
    *  3. start a NEW checkpoint: `followRollup(Stores(Seq(storePath),
    *     pins = Some(Seq(returnedPin))), …, months = Some(newMonths))` — the
    *     seed serves as the base for the first batch and the stream
    *     follows month-pruned changes after the pin;
    *  4. verify ([[readRollup]] equals the scoped recompute), then
    *     retire the old rollup + checkpoint and drop the pin once the
    *     new stream's offset passes its first complete form.
    *
    * Cost: O(old rollup) — bounded group space, no store scan. Refuses
    * a target holding any `seg-`/`base-` part (migrating onto live parts
    * would make batch ids incomparable). The seed only equals the scoped
    * truth if the old maintainer was CURRENT at the pin — hence
    * quiesce-first. */
  def migrateRollupMonths(spark: SparkSession, storePath: String,
                          oldRollupPath: String, newRollupPath: String,
                          newMonths: String): String = {
    val (fs, root) = fsOf(spark, newRollupPath)
    // a lone completed seed may be overwritten (a re-run before the new
    // follow ever started); once the follow has committed parts,
    // re-seeding would make batch ids incomparable — refuse
    val (bases, segs) = partsOf(fs, root, newRollupPath)
    require(segs.isEmpty && bases.forall(_._1 == -1L),
      s"rollup at $newRollupPath already has maintained versions — migrate " +
        "into an empty path (or one holding only an unconsumed seed)")
    // pin FIRST: the new follow's first diff runs against this immutable
    // base, so every change after it (and none before) reaches the seed
    val pin = TraceStore.snapshot(storePath)
    // completeness is _SUCCESS-gated like every other part: a crashed
    // seed write leaves an incomplete dir no reader sees
    readRollup(spark, oldRollupPath)
      .filter(graft.sources.CdcStreamProvider.monthsColumn(newMonths, col("ym")))
      .coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(root, "seed-0").toString)
    pin
  }

  /** Streaming materialized-view maintenance (B6 incremental form, the
    * SummingMergeTree analogue running live) and the one maintainer of
    * the (ym, Type) rollup — q227's signed algebra made operational:
    * follow a trace STORE's change feed (`format("graft-cdc")`, offsets
    * = pinned snapshots) and fold each micro-batch's signed increments
    * into the stored rollup. Because it reads the store rather than the
    * ingest's files, it stays correct across the store's OWN
    * maintenance: DELETE WHERE / retention arrive as negative
    * increments, compaction arrives as an empty batch, and a group whose
    * count reaches zero leaves the rollup. The first batch is the full
    * table as inserts (`initialLoad`); pinned [[Stores]] instead follow
    * changes after the pins over a seeded table
    * ([[migrateRollupMonths]]).
    *
    * A fleet ([[Stores]] with `fleet`) is read through ONE checkpoint
    * ([[graft.sources.CdcMultiSource]]) — the reference's
    * one-table-per-cluster shape rolled up ACROSS the fleet. Each
    * micro-batch carries one store's signed changes; the (ym, Type)
    * delta ignores the `_store` tag, so the maintained rollup is the
    * union rollup, and one store's DELETE WHERE arrives as negative
    * increments without touching the others' contributions (signed
    * summation is associative across stores — the same algebra that
    * makes chunk slices composable makes store interleavings
    * composable).
    *
    * Same crash/replay story as every follower ([[follow]]): the CDC
    * source replays a batch as the IDENTICAL snapshot diff (pins are
    * immutable), and the segment store finds the batch's own part
    * instead of double-counting it. Cost per batch ∝ changed files —
    * never the accumulated table, which is what makes maintaining a
    * 100 TB store's rollup a trickle job rather than a recurring full
    * scan. */
  def followRollup(spark: SparkSession, stores: Stores, rollupPath: String,
                   checkpointDir: String,
                   trigger: Trigger = Trigger.AvailableNow(),
                   maxFilesPerTrigger: Option[Int] = None,
                   maxBytesPerTrigger: Option[Long] = None,
                   months: Option[String] = None): StreamingQuery =
    follow(spark, Feed(stores, months, maxFilesPerTrigger, maxBytesPerTrigger),
      "rollup", rollupPath, checkpointDir, trigger, RollupKeys, RollupMeasures) {
      (batch, sign) => rollRows(batch, col("ym"), sign)
    }

  /** SUB-SECOND (micros-mode) rollup maintenance from the change feed —
    * the reference's considered-and-dropped sub-second TODO
    * (/root/reference/README.md:219-225) closed END TO END: q236 gates
    * micros ingest + `DateTime64(6)` DDL; this maintains a sub-second
    * tumbling-window aggregate of a micros-time store THROUGH the signed
    * feed, so the sub-second resolution survives store maintenance the
    * same way the (ym, Type) rollup does. The window key is the slot
    * index `unix_micros(Time) div slotMicros` — integer division on
    * microsecond epochs, exact in any engine (a timestamp-typed window
    * start would re-open the cross-engine micros-rendering can of
    * worms for zero semantic gain; slot × slotMicros IS the window
    * start in micros).
    *
    * Lineage pinning, replay idempotence, signed retraction, and
    * emptied-group drop are [[followRollup]]'s semantics with a
    * different key. The key space is time-span-proportional: distinct
    * active slots ∝ data time span / slot width (a multi-year micros
    * store at 250 ms slots is ~10⁹ groups), which is why every
    * maintained table is a segment store ([[upsertSegment]]): each
    * batch appends its signed slot delta as an O(delta) segment and
    * every `compactOver`-th state change folds base+segments into a
    * size-targeted multi-file base — amortized O(delta +
    * slots/compactOver) per batch. Read it back with [[readSlotRollup]]
    * (merge-on-read, bounded segment count).
    *
    * Over a fleet the (slot, Type) delta ignores the `_store` tag, so the
    * maintained table is the UNION slot aggregate (signed summation is
    * associative across stores exactly as across chunk slices), and
    * membership growth (appended stores) applies unchanged — newcomers
    * bootstrap their slots through the feed. */
  def followSlotRollup(spark: SparkSession, stores: Stores, rollupPath: String,
                       checkpointDir: String,
                       slotMicros: Long = 250000L,
                       trigger: Trigger = Trigger.AvailableNow(),
                       maxFilesPerTrigger: Option[Int] = None,
                       maxBytesPerTrigger: Option[Long] = None,
                       months: Option[String] = None,
                       compactOver: Int = DefaultCompactOver): StreamingQuery = {
    require(slotMicros > 0, s"slotMicros must be positive, got $slotMicros")
    follow(spark, Feed(stores, months, maxFilesPerTrigger, maxBytesPerTrigger),
      "slot-rollup", rollupPath, checkpointDir, trigger, SlotKeys, RollupMeasures,
      compactOver) {
      (batch, sign) => rollRows(batch, slotOf(slotMicros), sign)
    }
  }

  /** Read the current [[followSlotRollup]] table (merge-on-read over
    * the slot store's segments — see [[readIndex]], which this wraps
    * with the slot family's declared shape). */
  def readSlotRollup(spark: SparkSession, rollupPath: String): DataFrame =
    readIndex(spark, rollupPath, SlotKeys, RollupMeasures)

  /** CDC-DRIVEN near-dup-index maintenance as a running stream — q231's
    * signed bucket algebra made operational, the index-family twin of
    * [[followRollup]]: follow a trace store's change feed and keep the
    * dedup family's band-bucket LSH index (the table q26-style candidate
    * joins run on) current per micro-batch. Each batch's rows pass the
    * map-only MinHash signature kernel
    * ([[graft.store.ChangeFeedQuery.bucketRows]]) with a ±1 sign; the
    * signed per-(band, bkey) counts land in a SEGMENTED, crash-safe
    * parquet index under `indexPath`: inserts add their bucket rows,
    * DELETE WHERE / retention retract them, a compaction's cancelling
    * pairs net out (possibly across chunked batches — transient
    * insert+delete of the same row sums to zero by construction), and an
    * emptied bucket leaves the index at read/compaction time. The first
    * batch is the full table as inserts (`initialLoad`), so the index
    * bootstraps itself.
    *
    * The index's cardinality grows with the CORPUS, so a merge-per-batch
    * would make every trickle batch cost O(index) (a full rewrite of a
    * 100 TB corpus's bucket table, per batch). Instead each batch
    * appends its delta as an immutable SEGMENT (`seg-<batchId>`, cost
    * O(changed rows)) and every `compactOver`-th state change folds
    * base+segments into a new `base-<batchId>` — the SummingMergeTree
    * parts-and-background-merge model, amortized O(delta +
    * index/compactOver) per batch. Readers merge on read
    * ([[readIndex]]): newest base ⊎ later segments, signed-summed —
    * segment count is bounded by `compactOver`, so the read never
    * degrades unboundedly.
    *
    * Crash/replay ([[follow]], [[upsertSegment]]): segments and bases
    * are `_SUCCESS`-gated dirs named by batch id, so an at-least-once
    * replay finds ITS OWN segment/base instead of double-counting (a
    * compaction's inputs — the prior base + segments — survive pruning
    * until the next batch commits), a crash mid-write leaves an
    * invisible dir, and batch ids are lineage-pinned against wiped
    * checkpoints.
    *
    * Over a fleet the index keys are `(_store, band, bkey)`: per-store
    * ATTRIBUTION rides the shared index, so one store's DELETE WHERE
    * retracts exactly its own bucket rows (signed summation is per-key,
    * and the origin store is part of the key) while a fleet-wide
    * candidate query just aggregates the `_store` dimension away — the
    * reference's one-table-per-cluster story (its README.md:55-62) for
    * the dedup surface.
    *
    * Corpus-scale bootstrap: streaming the initial load through the
    * chunked path re-folds the GROWING index every compactOver-th batch
    * (Σ over compactions of the index-so-far — super-linear in the
    * corpus). The production shape is [[seedIndex]]: build the base in
    * ONE batch job over pinned snapshots, then follow the [[Stores]] it
    * returns — their pins switch the source to changes-after-pin and the
    * seed serves as the pre-batch-0 base. */
  def followIndex(spark: SparkSession, stores: Stores, indexPath: String,
                  checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow(),
                  maxFilesPerTrigger: Option[Int] = None,
                  maxBytesPerTrigger: Option[Long] = None,
                  compactOver: Int = DefaultCompactOver,
                  months: Option[String] = None,
                  bands: Int = 2): StreamingQuery =
    follow(spark, Feed(stores, months, maxFilesPerTrigger, maxBytesPerTrigger),
      "index", indexPath, checkpointDir, trigger, stores.tag ++ Seq("band", "bkey"), Seq("n"),
      compactOver, onFirstBatch = s => pinBands(s, indexPath, bands)) {
      (batch, sign) => graft.store.ChangeFeedQuery
        .bucketRows(batch.withColumn("n", sign), carry = Seq("n") ++ stores.tag, bands = bands)
    }

  /** CDC-driven maintenance of the index's MEMBERSHIP table — the
    * band-bucket rows THEMSELVES (`(band, bkey, doc)`, doc = the
    * `Machine/Type/ID` key the signatures are computed over), kept
    * current per micro-batch through the same signed segment algebra as
    * [[followIndex]]'s count census. The census answers the planner
    * (how hot is each bucket — q241); the membership closes the loop it
    * opens: q26-style candidate PAIRS generate directly from the
    * maintained table ([[indexCandidatePairs]]) — a bucket-confined
    * self-join plus an exact verify over the pair's own key strings —
    * so the corpus is never re-shingled: maintenance costs O(changes)
    * per batch and pair generation costs O(index + candidates).
    *
    * Same segment-store scale story as [[followIndex]] (the membership
    * is corpus-proportional — strictly bigger than the census): O(delta)
    * appends, cadenced size-targeted base folds, merge-on-read, lineage
    * pinning, replay idempotence. An insert adds its `(band, bkey, doc)`
    * rows with +1, a DELETE WHERE retracts them with −1, and a doc whose
    * count empties leaves the membership — per-key signed summation IS
    * membership GC. */
  def followMemberIndex(spark: SparkSession, storePath: String, indexPath: String,
                        checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        maxFilesPerTrigger: Option[Int] = None,
                        maxBytesPerTrigger: Option[Long] = None,
                        compactOver: Int = DefaultCompactOver,
                        startingSnapshot: Option[String] = None,
                        months: Option[String] = None): StreamingQuery =
    follow(spark, Feed(Stores(Seq(storePath), pins = startingSnapshot.map(Seq(_))),
        months, maxFilesPerTrigger, maxBytesPerTrigger),
      "members", indexPath, checkpointDir, trigger, Seq("band", "bkey", "doc"), Seq("n"),
      compactOver) {
      (batch, sign) => graft.store.ChangeFeedQuery.bucketRows(
        batch.withColumn("n", sign).withColumn("doc",
          concat(col("Machine"), lit("/"), col("Type"), lit("/"), col("ID"))),
        carry = Seq("n", "doc"))
    }

  /** q26-style candidate pairs generated FROM the maintained membership
    * index ([[followMemberIndex]]) — the operational payoff of keeping
    * the index streamed: the corpus-wide signature pass a from-scratch
    * candidate generation would run (re-shingling 100 TB) never runs.
    * Hot buckets (≥ 2 members — exactly the set the q241 planner
    * counts) gate a bucket-confined self-join; the same doc pair found
    * by several bands dedups to one row. Cost O(index) for the hot
    * filter + O(Σ admitted-bucket n²) for the join — the planner's
    * `cand_pairs` budget, known BEFORE running this. Verification
    * (exact similarity over the pair's own key strings) is the
    * caller's next map-only step, O(candidates).
    *
    * `maxBucket` is the ADMISSION bound: a bucket whose membership
    * exceeds it is degenerate — its signature stopped discriminating
    * (the classic LSH mega-bucket), its n·(n−1)/2 pairs dominate the
    * whole join's cost while verifying almost entirely to non-dups, and
    * it is exactly what the q241 calibration read flags as "re-band
    * before you join". Skipping it bounds the candidate volume by
    * buckets × maxBucket²/2 — scale-stable where an uncapped join grows
    * quadratically with the hottest key. */
  def indexCandidatePairs(spark: SparkSession, indexPath: String,
                          maxBucket: Int = 32): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be at least 2, got $maxBucket")
    // the merged membership feeds TWO consumers (the hot-bucket census
    // and the pair join's probe side), and a broadcast boundary sits
    // between them — without a materialization the merge-on-read
    // aggregation runs twice (measured: the two identical signed-sum
    // subtrees never reuse their exchange across the broadcast build).
    // Lazy localCheckpoint: index-sized (bounded by the maintainer's
    // fold cadence), materialized once inside the first consuming job.
    // Not persist: that registers the frame in the session's
    // CacheManager, and nothing unpersists the frame returned here, so
    // the membership would stay pinned for the rest of the session;
    // local-checkpoint blocks are freed once the RDD is collected. The
    // cost: lineage is truncated, so losing an executor that holds a
    // block fails the query — acceptable under the local-mode driver.
    val m = readIndex(spark, indexPath,
      keys = Seq("band", "bkey", "doc"), measures = Seq("n"))
      .select(col("band"), col("bkey"), col("doc"))
      .localCheckpoint(false)
    val hot = m.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 2 && col("sz") <= maxBucket)
      .select(col("band"), col("bkey"))
    // the semi-join prunes singleton buckets (the overwhelming majority)
    // BEFORE the self-join's shuffle; the join itself touches only hot
    // buckets' members. The explicit bucket-keyed repartition sizes the
    // join by its OUTPUT, not its input: AQE coalesces the tiny member
    // table into a handful of partitions, but each bucket explodes into
    // up to maxBucket²/2 pairs inside the join task — an explicit
    // user repartition is exempt from AQE coalescing, so the exploding
    // stage keeps the full core count (measured 2.4 s → 0.4 s for the
    // pair+verify job at sf0.1; both join sides reuse one exchange).
    val hotMembers = m.join(hot, Seq("band", "bkey"), "left_semi")
      .repartition(spark.sparkContext.defaultParallelism, col("band"), col("bkey"))
    hotMembers.as("a")
      .join(hotMembers.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  // ------------------------------------------------------------------ the follow loop
  /** The stores a maintainer reads: ONE store (the `path` source,
    * [[graft.sources.CdcSource]]) or a FLEET through one checkpoint (the
    * `paths` source, [[graft.sources.CdcMultiSource]]; a one-store fleet
    * keeps the fleet checkpoint, so it can later grow), and the pins a
    * seeded table follows from (positional, one per store). Only this
    * value knows single from fleet: every maintainer takes it, and a
    * plain store path converts to it. */
  final case class Stores(paths: Seq[String], fleet: Boolean = false,
                          pins: Option[Seq[String]] = None) {
    require(paths.nonEmpty, "no store to read")
    require(fleet || paths.size == 1,
      s"more than one store is a fleet: ${paths.mkString(",")}")

    /** The fleet feed's origin-store column, which a per-store table
      * keys on; a single store's feed has none. */
    private[streaming] def tag: Seq[String] = if (fleet) Seq("_store") else Nil

    /** `trace-cdc-[fleet-]<family>-<hash of what>`. */
    private[streaming] def queryName(family: String, what: String): String =
      s"trace-cdc-${if (fleet) "fleet-" else ""}$family-${incarnationOf(what)}"
  }

  object Stores {
    import scala.language.implicitConversions
    /** One store, followed from the start. */
    implicit def one(path: String): Stores = Stores(Seq(path))
  }

  /** What a follower reads: the stores, the month scope and the
    * admission limits. */
  private final case class Feed(stores: Stores, months: Option[String],
                                maxFiles: Option[Int], maxBytes: Option[Long])

  /** The `graft-cdc` reader over a [[Feed]]. With `initialLoad` the
    * first batch is the whole table as inserts. */
  private def cdcReader(spark: SparkSession, feed: Feed,
                        initialLoad: Boolean): DataStreamReader = {
    val st = feed.stores
    val r = spark.readStream.format("graft-cdc")
      .option(if (st.fleet) "paths" else "path", st.paths.mkString(","))
      .option("initialLoad", initialLoad.toString)
    st.pins.foreach(ps =>
      r.option(if (st.fleet) "startingSnapshots" else "startingSnapshot", ps.mkString(",")))
    feed.months.foreach(m => r.option("months", m))
    feed.maxFiles.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    feed.maxBytes.foreach(n => r.option("maxBytesPerTrigger", n.toString))
    r
  }

  /** The one follow loop behind every `graft-cdc` maintainer: stream the
    * feed (bootstrapping with the whole table as inserts unless it
    * starts from pins) into the segment-store table at `table`. On the
    * first batch the loop resolves the checkpoint lineage (its
    * `metadata` file exists only once the query has started) and runs
    * `onFirstBatch`; every batch maps its change rows through the
    * family's `rows` — keys plus signed per-row measures, given the ±1
    * sign of each change — sums them per key and folds the delta in with
    * [[upsertSegment]]. The source replays a batch as the identical
    * snapshot diff, and the segment store skips a batch id it already
    * holds, so replay never double-counts. The query is named
    * `trace-cdc-[fleet-]<name>-<hash of table>`. */
  private def follow(spark: SparkSession, feed: Feed, name: String, table: String,
                     checkpointDir: String, trigger: Trigger,
                     keys: Seq[String], measures: Seq[String],
                     compactOver: Int = DefaultCompactOver,
                     onFirstBatch: SparkSession => Unit = _ => ())(
                     rows: (DataFrame, Column) => DataFrame): StreamingQuery = {
    var inc: String = null
    cdcReader(spark, feed, initialLoad = feed.stores.pins.isEmpty)
      .load()
      .writeStream
      .queryName(feed.stores.queryName(name, table))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (inc == null) {
          inc = lineageOf(s, checkpointDir)
          onFirstBatch(s)
        }
        val sign = when(col("_change") === "insert", lit(1L)).otherwise(lit(-1L))
        upsertSegment(s, sumBy(rows(batch, sign), keys, measures), batchId, table, inc,
          keys, measures, compactOver)
      }
      .start()
  }

  /** Build the index BASE in one batch job over pinned snapshots — the
    * corpus-scale bootstrap (see [[followIndex]]): pin EVERY store
    * FIRST (so each store's first diff has an immutable base even if it
    * mutates mid-census), then one map-only signature pass + one
    * aggregation over the pins, written as the `seed-0` part that every
    * later segment and compaction merges from (it resolves as a base
    * older than batch 0). Returns the stores with their pins — the
    * handoff `followIndex` follows from; the pins are the caller's to
    * drop once each store's offset passes its first complete form.
    * Refuses a non-empty index (seeding under live parts would
    * double-count); completeness is `_SUCCESS`-gated, so a crashed seed
    * job just re-runs. A fleet census keys on `_store`, like the fleet
    * follow.
    *
    * `months` MUST equal the follow's scope: the follow's increments are
    * month-pruned at the source, so an unscoped seed under a scoped
    * follow (or vice versa) is equal to NEITHER rebuild — the seed
    * census filters its snapshots to the same `ym` scope, file-pruned at
    * the manifest like the stream's worklists.
    *
    * The census is built in CHUNKS of `censusChunk` stores: a single
    * N-way union would grow one Spark plan linearly in fleet size (fine
    * at N≈10², an analyzer wall at 10³+), so each chunk's partial
    * census materializes under `_seed-census/` and one bounded final
    * plan merges the ⌈N/chunk⌉ partials into `seed-0`. `_store` is part
    * of the census key and each store lands in exactly one chunk, so
    * the partials are disjoint and the merge is a plain re-aggregation.
    * Only `seed-0/_SUCCESS` makes the seed visible; a re-run clears the
    * scratch dir and overwrites. */
  def seedIndex(spark: SparkSession, stores: Stores, indexPath: String,
                months: Option[String] = None, bands: Int = 2,
                censusChunk: Int = 16): Stores = {
    require(stores.pins.isEmpty, "seedIndex pins every store itself; pass the stores unpinned")
    require(censusChunk >= 1, s"censusChunk must be positive, got $censusChunk")
    val (fs, root) = fsOf(spark, indexPath)
    val (bases, segs) = partsOf(fs, root, indexPath)
    require(bases.isEmpty && segs.isEmpty,
      s"index at $indexPath already has parts — seedIndex is for an empty index")
    pinBands(spark, indexPath, bands)
    val pins = stores.paths.map(TraceStore.snapshot)
    val keys = stores.tag ++ Seq("band", "bkey")
    def censusOf(group: Seq[(String, String)]): DataFrame =
      group.map { case (p, pin) =>
        val rows = snapshotRows(spark, p, pin, months)
        graft.store.ChangeFeedQuery.bucketRows(
          if (stores.fleet) rows.withColumn("_store", lit(p)) else rows,
          carry = stores.tag, bands = bands)
      }.reduce(_ unionByName _)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"))
    val seedDir = new org.apache.hadoop.fs.Path(root, "seed-0").toString
    val groups = stores.paths.zip(pins).grouped(censusChunk).toSeq
    if (groups.size == 1) censusOf(groups.head).write.mode("overwrite").parquet(seedDir)
    else {
      val scratch = new org.apache.hadoop.fs.Path(root, "_seed-census")
      fs.delete(scratch, true)
      val chunkDirs = groups.zipWithIndex.map { case (g, i) =>
        val d = new org.apache.hadoop.fs.Path(scratch, s"chunk-$i").toString
        censusOf(g).write.mode("overwrite").parquet(d)
        d
      }
      spark.read.parquet(chunkDirs: _*)
        .groupBy(keys.map(col): _*)
        .agg(sum(col("n")).as("n"))
        .write.mode("overwrite").parquet(seedDir)
      fs.delete(scratch, true)
      ()
    }
    stores.copy(pins = Some(pins))
  }

  /** Pin the LSH band configuration durably under the index root: the
    * band count changes every bucket key's meaning, so a seed at one
    * banding followed at another would silently mix incomparable keys —
    * first writer pins, every later seed/follow must match (the same
    * contract as the months spec pin). */
  private def pinBands(spark: SparkSession, indexPath: String, bands: Int): Unit = {
    val (fs, root) = fsOf(spark, indexPath)
    val f = new org.apache.hadoop.fs.Path(root, "_bands")
    graft.sources.CdcStreamProvider.readPinFile(fs, f) match {
      case Some(prev) =>
        require(prev == bands.toString,
          s"index at $indexPath was built with bands=$prev but this job " +
            s"declares bands=$bands — band keys are incomparable across " +
            "configurations; recalibrate into a NEW index path (seedIndex at " +
            "the new bands + followIndex from the pin)")
      case None =>
        fs.mkdirs(root)
        graft.sources.CdcStreamProvider.writePinFile(fs, f, bands.toString)
    }
  }

  /** A pinned snapshot's rows, optionally month-scoped: the scope prunes
    * at the MANIFEST (files never mix months — the same soundness
    * argument as the CDC source's worklist filter), so a month-scoped
    * seed never opens an out-of-scope file. */
  private def snapshotRows(spark: SparkSession, storePath: String,
                           snapshotId: String, months: Option[String]): DataFrame = {
    val ok = months.map(graft.sources.CdcStreamProvider.monthsPredicate)
    val keys = TraceStore.snapshotKeys(storePath, snapshotId)
      .filter(k => ok.forall(_(TraceStore.monthOf(k))))
    TraceStore.readKeys(spark, storePath, keys,
      s"snapshot $snapshotId" + months.fold("")(m => s" (months=$m)"))
  }

  // ------------------------------------------------------------------ the segment store
  /** The complete (`_SUCCESS`-present) parts of a maintained table, from
    * one listing of its root: the bases — the seed (`seed-0`, older than
    * every batch id, so it sorts as -1) and `base-<batchId>` — and the
    * `seg-<batchId>` segments, each ascending by batch id. A root that
    * still holds `v<batchId>` version dirs (the retired merged-version
    * rollup layout) fails loudly: a segment write over it would silently
    * drop that rollup's history. */
  private def partsOf(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
                      path: String): (Seq[(Long, org.apache.hadoop.fs.Path)],
                                      Seq[(Long, org.apache.hadoop.fs.Path)]) =
    if (!fs.exists(root)) (Seq.empty, Seq.empty)
    else {
      val dirs = fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      require(!dirs.exists(_.getName.matches("v-?\\d+")),
        s"$path holds v<batchId> version dirs of the retired merged-version rollup " +
          "layout, which the segment store cannot read or extend — rebuild the table " +
          "from the store: clear the path and its checkpoint, then follow again")
      val complete = dirs.filter(d => fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
      def ids(prefix: String) = complete.flatMap { d =>
        val n = d.getName
        if (n.startsWith(prefix)) n.drop(prefix.length).toLongOption.map(_ -> d) else None
      }.sortBy(_._1)
      (complete.filter(_.getName == "seed-0").map(-1L -> _) ++ ids("base-"), ids("seg-"))
    }

  /** Signed per-key sums: a batch's delta, a fold, and merge-on-read
    * all aggregate this way. */
  private def sumBy(df: DataFrame, keys: Seq[String], measures: Seq[String]): DataFrame = {
    val aggs = measures.map(m => sum(col(m)).as(m))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Target bytes of merged INPUT per base-part file — sizes the fold's
    * write parallelism (see the compaction branch of [[upsertSegment]]). */
  val DefaultBaseFileBytes: Long = 64L << 20

  /** One maintenance step of a segment-store table — every maintained
    * table (rollup, slot rollup, index, membership; single-store and
    * fleet) is one: append the batch's signed delta as segment
    * `seg-<batchId>` (O(delta)), or — when the live segment count would
    * exceed `compactOver` — fold base + segments + delta into
    * `base-<batchId>` (the background merge). `delta` must already be
    * aggregated to `keys ++ measures`; the FIRST measure is the group's
    * signed row count, and a group whose count reaches zero leaves the
    * table at the fold.
    *
    * Crash-safe and replay-idempotent without coordination: parts are
    * `_SUCCESS`-gated dirs named by batch id, so a crash mid-write leaves
    * a dir no reader sees and a replayed batch finds its own part and
    * writes nothing; pruning keeps the previous base and its segment
    * tail until a LATER state change commits, so the one batch that can
    * replay always finds its merge inputs. Batch ids are only
    * meaningful within ONE checkpoint lineage, so the table pins its
    * lineage (`_incarnation`) and refuses another one, and a part AHEAD
    * of the current batch (a wiped-in-place checkpoint under the
    * path-hash lineage fallback) fails loudly instead of being merged
    * under. */
  private[graft] def upsertSegment(spark: SparkSession, delta: DataFrame,
                                   batchId: Long, indexPath: String,
                                   incarnation: String, keys: Seq[String],
                                   measures: Seq[String], compactOver: Int,
                                   baseFileBytes: Long = DefaultBaseFileBytes): Unit = {
    val (fs, root) = fsOf(spark, indexPath)
    val (bases, segs) = partsOf(fs, root, indexPath)
    val incFile = new org.apache.hadoop.fs.Path(root, "_incarnation")
    graft.sources.CdcStreamProvider.readPinFile(fs, incFile) match {
      case Some(prev) =>
        require(prev == incarnation,
          s"index at $indexPath belongs to checkpoint lineage '$prev' but this " +
          s"query runs under '$incarnation' — batch ids are incomparable across " +
          "lineages; clear the index path or restore the original checkpoint")
      case None =>
        fs.mkdirs(root)
        graft.sources.CdcStreamProvider.writePinFile(fs, incFile, incarnation)
    }
    require((bases ++ segs).forall(_._1 <= batchId),
      s"index at $indexPath has a part ahead of batch $batchId — the checkpoint " +
      "was wiped in place and batch ids restarted; clear the index path or " +
      "restore the original checkpoint")
    // replay of an already-committed batch: rebuild nothing (identical by
    // construction), and never rewrite a dir a reader may hold
    if ((bases ++ segs).exists(_._1 == batchId)) return
    val curBase = bases.lastOption
    val live = segs.filter { case (id, _) => curBase.forall(_._1 < id) }
    def drop(p: org.apache.hadoop.fs.Path): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), false)
      fs.delete(p, true)
      ()
    }
    if (live.size + 1 > compactOver) {
      // background merge: base ⊎ segments ⊎ delta → new base; emptied
      // groups leave the table here. The fold is the table-proportional
      // step — a single-task write would serialize a corpus-sized bucket
      // table through one core at 100 TB — so size the write by the
      // merged INPUT bytes (an upper bound on the folded table): ~one
      // baseFileBytes-sized file per task, multi-file base parts.
      // Readers already treat every part as a directory (readIndex,
      // partsOf) and the seed writes in parallel the same way.
      val inputs = curBase.map(_._2).toSeq ++ live.map(_._2)
      val inputBytes = inputs.map(p => fs.getContentSummary(p).getLength).sum
      val targetParts = math.max(1L,
        math.ceil(inputBytes.toDouble / baseFileBytes).toLong).min(Int.MaxValue).toInt
      val merged =
        if (inputs.isEmpty) delta
        else spark.read.parquet(inputs.map(_.toString): _*).unionByName(delta)
      // zero signed count ⇒ every contributing row was retracted ⇒ the
      // group leaves, and its other measures are zero by the same algebra
      val folded = sumBy(merged, keys, measures).filter(col(measures.head) =!= 0L)
      // under the aggregation's own shuffle width, coalesce — the fold
      // stays one shuffle and its reduce side IS the write; a base wider
      // than the shuffle width re-partitions by key so every task still
      // writes ~baseFileBytes
      val shuffleWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val sized =
        if (targetParts <= shuffleWidth) folded.coalesce(targetParts)
        else folded.repartition(targetParts, keys.map(col): _*)
      sized.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(root, s"base-$batchId").toString)
      // sweep crash orphans: an incomplete (_SUCCESS-less) part below
      // this batch is a dead mid-write remnant — replays overwrite their
      // OWN id, so nothing running can still claim it. Compaction-time
      // only (the single maintenance writer is here, not mid-write).
      fs.listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          !fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
        .foreach { st =>
          val n = st.getPath.getName
          val id = Seq("seg-", "base-").collectFirst {
            case p if n.startsWith(p) => n.drop(p.length).toLongOption
          }.flatten
          if (id.exists(_ < batchId)) { fs.delete(st.getPath, true); () }
        }
    } else {
      // plain segment append: cost ∝ the batch's changed rows, never the
      // table — zero-net rows drop, negative (retraction) rows KEEP. A
      // row is zero-net only when EVERY measure nets to zero: a same-key
      // replace can leave n = 0 with a nonzero secondary measure, and
      // dropping it would lose the secondary's change
      delta.filter(measures.map(m => col(m) =!= 0L).reduce(_ || _))
        .coalesce(1)
        .write.mode("overwrite").parquet(new org.apache.hadoop.fs.Path(root, s"seg-$batchId").toString)
    }
    // prune: keep the newest TWO bases (the seed counts as one) and
    // every segment newer than the OLDER kept base — the replayable
    // batch (only the latest) can be a compaction, whose rebuild
    // re-reads the previous base + its tail. _SUCCESS goes first so a
    // crash mid-delete leaves the dir invisible. With a SINGLE base (the
    // first compaction of an unseeded table) the just-merged tail gets
    // the same one-cycle grace concurrent readers rely on elsewhere:
    // floor -1 keeps it until a second base exists (bounded — the next
    // compaction prunes it).
    val (nowBases, nowSegs) = partsOf(fs, root, indexPath)
    val keptBases = nowBases.takeRight(2)
    val floor = if (keptBases.size >= 2) keptBases.head._1 else -1L
    nowBases.dropRight(2).foreach(b => drop(b._2))
    nowSegs.filter(_._1 <= floor).foreach(s => drop(s._2))
  }

  /** Read the current state of a segment-store table (by default the
    * band-bucket index): newest complete base ⊎ later segments,
    * signed-summed (merge-on-read — segment count is bounded by the
    * maintainer's `compactOver`). The result is the same table a
    * from-scratch rebuild produces. The returned DataFrame is lazy;
    * pruning keeps a one-base grace window, so execute it within
    * roughly one maintenance cycle of resolution (or cache it). */
  def readIndex(spark: SparkSession, indexPath: String,
                keys: Seq[String] = Seq("band", "bkey"),
                measures: Seq[String] = Seq("n")): DataFrame = {
    val (fs, root) = fsOf(spark, indexPath)
    val (bases, allSegs) = partsOf(fs, root, indexPath)
    val curBase = bases.lastOption
    val segs = allSegs.filter { case (id, _) => curBase.forall(_._1 < id) }
    val parts = curBase.map(_._2).toSeq ++ segs.map(_._2)
    require(parts.nonEmpty, s"no complete index part under $indexPath")
    val df = spark.read.parquet(parts.map(_.toString): _*)
    // keys/measures are declared, not inferred from column position: a
    // part written with a different shape must fail here, not mis-group
    require(df.columns.toSet == (keys ++ measures).toSet &&
      df.columns.length == keys.size + measures.size,
      s"index at $indexPath has columns [${df.columns.mkString(", ")}] but the " +
        s"read declares keys=[${keys.mkString(", ")}] measures=[${measures.mkString(", ")}] — " +
        "pass the keys/measures the maintainer writes (fleet indexes carry _store)")
    // a freshly folded (or seeded) table with no later segments IS the
    // merged state — the fold already signed-summed and zero-filtered —
    // so the common just-compacted read skips the aggregation shuffle
    if (segs.isEmpty) df.select((keys ++ measures).map(col): _*)
    else sumBy(df, keys, measures).filter(col(measures.head) =!= 0L)
  }

  /** Continuous replication of a trace STORE over the reference's HTTP
    * bulk-insert transport — the CDC completion of its pipeline: where
    * [[start]] ships newly rotated FILES, this follows the store itself
    * (including its own maintenance) and posts each micro-batch's
    * changes as JSONEachRow with a CollapsingMergeTree-style `_sign`
    * column (+1 insert / −1 delete — the ClickHouse collapsing
    * convention, so the receiving table can be a CollapsingMergeTree
    * that nets deletions out on merge). Idempotency ids are scoped by
    * the checkpointed batch id (`cdc-<id>/partition/chunk/hash`), the
    * same at-least-once-never-loss contract as the ingest transport;
    * a compaction between offsets diffs to nothing and posts nothing.
    * Scale: each batch posts only the CHANGES (file-set-pruned), so
    * replicating a 100 TB store costs its change rate, not its size.
    *
    * A fleet is the reference's actual multi-cluster deployment: one
    * receiving table per cluster (`CLICKHOUSE_TABLE` per converter
    * instance, the reference's README.md:55-62), here one table per
    * STORE with a single checkpoint. `tables` is positional, one per
    * store (the same contract as the fleet source's pins — appended
    * stores extend it at the end; empty means `http.table` for a single
    * store); each row routes to its origin store's table via the
    * `_store` tag, and idempotency ids are scoped `cdc-<batchId>-<storeIdx>`
    * so a restarted checkpoint replays the identical rows under the
    * identical keys — receiver-side insert dedup yields exactly-once
    * PER TABLE, and a store's DELETE WHERE lands as −1 signs only on its
    * own table. */
  def replicateChanges(spark: SparkSession, stores: Stores,
                       http: graft.sources.HttpBulkSink.Config,
                       checkpointDir: String,
                       initialLoad: Boolean = true,
                       trigger: Trigger = Trigger.AvailableNow(),
                       maxFilesPerTrigger: Option[Int] = None,
                       maxBytesPerTrigger: Option[Long] = None,
                       tables: Seq[String] = Nil): StreamingQuery = {
    val receivers = if (tables.isEmpty && !stores.fleet) Seq(http.table) else tables
    require(receivers.size == stores.paths.size,
      s"tables names ${tables.size} receiving tables for ${stores.paths.size} " +
        "stores — the list is positional, one table per store")
    // the wire payload is the replica table's columns + _sign; the feed's
    // commit metadata is reader-side bookkeeping, not data. Empty diffs
    // post nothing (append() only flushes non-empty partition buffers),
    // so maintenance noise never reaches the wire
    def post(changes: DataFrame, i: Int, id: String): Unit =
      graft.sources.HttpBulkSink.append(
        changes.withColumn("_sign",
            when(col("_change") === "insert", lit(1)).otherwise(lit(-1)))
          .drop("_change", "_commit_snapshot", "_commit_ts"),
        http.copy(table = receivers(i)), batchId = Some(id))
    // at scale the bootstrap must ride the bounded-chunk path — one
    // table-sized POST loop would defeat the admission control
    cdcReader(spark, Feed(stores, None, maxFilesPerTrigger, maxBytesPerTrigger), initialLoad)
      .load()
      .writeStream
      .queryName(stores.queryName("replicate", checkpointDir))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!stores.fleet) post(batch, 0, s"cdc-$batchId")
        else {
          // route by origin store: under the default admission (one store
          // per trigger) this is ONE slice; the distinct is a driver-side
          // peek at ≤ N store tags, never data-sized
          batch.select("_store").distinct().collect().map(_.getString(0)).sorted
            .foreach { p =>
              val i = stores.paths.indexOf(p)
              post(batch.filter(col("_store") === p).drop("_store"), i, s"cdc-$batchId-$i")
            }
        }
      }
      .start()
  }
}
