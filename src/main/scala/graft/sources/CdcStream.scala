package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => OffsetV2, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{Metadata, StringType, StructField, StructType}
import graft.store.TraceStore

/** `graft-cdc` — a Structured Streaming SOURCE over the trace store's
  * snapshot-diff change feed: the streaming completion of the batch CDC
  * surface ([[TraceStore.readChangesBetween]] / [[TraceStore.advanceCursor]]),
  * and the stream-shaped form of the reference's continuous-ETL framing
  * (/root/reference/trace-converter.py:66-72 tails a growing input and
  * ships increments; README.md:193-206 frames the whole pipeline as a
  * follow-the-changes loop).
  *
  * {{{
  * spark.readStream.format("graft-cdc")
  *   .option("path", storePath)          // required
  *   .option("initialLoad", "true")      // bootstrap: full snapshot as inserts
  *   .option("maxFilesPerTrigger", "64") // bound EVERY micro-batch
  *   .load() // columns: store schema + ym + _change + _commit_snapshot/_commit_ts
  * }}}
  *
  * Design (the Delta-CDF / FileStreamSource pattern, re-derived for this
  * store's manifest model):
  *
  *  - '''Offset = a pin THIS stream created.''' [[CdcOffset]] names a
  *    durable manifest under `_snapshots/`; the pin is what makes
  *    `getBatch` replayable after a crash — every file either manifest
  *    references is still live or retired, so the SAME diff recomputes
  *    forever. The source only ever advances to pins it created itself
  *    (never binds to a user pin or another stream's pin, so no other
  *    actor's GC can invalidate a checkpointed offset), and snapshot ids
  *    are never reused ([[TraceStore.snapshot]]'s tombstone scan), so an
  *    offset in the checkpoint log can never be re-bound.
  *  - '''Admission control via the engine''' (`SupportsAdmissionControl`,
  *    like FileStreamSource): the engine hands `latestOffset` the last
  *    processed offset, so the source is stateless across restarts —
  *    resume position lives in the engine's own offset log, nowhere
  *    else. An idle store returns the start offset unchanged and pins
  *    nothing.
  *  - '''getBatch(a, b) = one slice of one worklist.''' A worklist is
  *    the ordered list of manifest keys a read covers, of one of two
  *    kinds: the BOOTSTRAP worklist (the end pin's sorted, month-scoped
  *    manifest, read as inserts by [[TraceStore.readKeys]]) or the DIFF
  *    worklist (the signed changed-file list between two pins,
  *    [[TraceStore.changedKeysBetween]], read by
  *    [[TraceStore.readChangedKeys]]). The offset pair names the kind
  *    and the slice `[from, until)`; a whole bootstrap or diff is
  *    `[0, size)`. A diff's cost is ∝ files that changed, never the
  *    table; a compaction between two offsets cancels row-for-row and
  *    delivers an EMPTY batch. Worklists are computed ONCE per pin or
  *    transition and cached (manifests are immutable), so `latestOffset`
  *    and `getBatch` share one list and every replay re-slices it
  *    identically.
  *  - '''Bounded bootstrap AND bounded diffs''': with
  *    `maxFilesPerTrigger`/`maxBytesPerTrigger`, the `initialLoad`
  *    arrives as bootstrap slices (sub-snapshot offsets
  *    `{"snapshot":…,"upto":n}`), and every post-bootstrap diff as diff
  *    slices (offsets `{"snapshot":…,"from":…,"upto":n}`) — at most the
  *    budget per micro-batch, so a table-scale retention rewrite between
  *    two offsets is bounded batches, not one rewrite-sized batch. The
  *    final slice lands as the complete offset, releasing the diff's base
  *    pin to commit-GC. `Trigger.AvailableNow` runs every chunk to the
  *    prepared target before terminating (`SupportsTriggerAvailableNow`).
  *  - '''commit(end) garbage-collects this stream's own pins''' below
  *    the committed offset (tracked durably under the stream's
  *    checkpoint `sources/` metadata dir, so GC survives restarts) and
  *    vacuums unreferenced retired files. The engine calls commit(N-1)
  *    when it constructs batch N, so GC lags one batch: at most one
  *    superseded own pin is outstanding at any time (bounded, not
  *    growing). User pins are never touched — N independent readers
  *    coexist, each paying only the retired files its own lag keeps
  *    alive. Ownership markers land BEFORE the manifest (snapshot's
  *    pre-install hook), so a crash mid-pin leaves an inert marker with
  *    no pin, never an orphan pin; live offset pins are annotated in
  *    `--list-snapshots` so cleanup can't mistake one for a leak.
  *  - '''Schema is fixed at stream start''' (Spark's streaming
  *    contract). If the store evolves mid-stream, the next batch fails
  *    loudly with a restart instruction — the restarted stream resumes
  *    from the checkpointed offset under the evolved schema (the feed
  *    reads old files through rename aliases, so replay is lossless).
  *
  * Maintenance cadence contract: polling (`latestOffset`) runs
  * recoverAttempts-guarded manifest listings, which is the same
  * single-maintenance-writer contract every store reader documents —
  * run compaction/erasure between triggers (e.g. from the consuming
  * job, or pause the trigger), not concurrently with one.
  */
final class CdcSource(
    sqlContext: SQLContext,
    path: String,
    metadataPath: String,
    startingSnapshot: Option[String],
    initialLoad: Boolean,
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long],
    months: Option[String])
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val spark: SparkSession = sqlContext.sparkSession

  // month-scoped stream (option `months`): the partition-level worklist
  // pruning the BATCH relation compiles from `ym` filters (q234), carried
  // to the streaming surface — every worklist (bootstrap manifest slices,
  // diff slices, whole diffs) drops non-matching months BEFORE any file
  // is scheduled or opened, so a month-scoped derived table's maintainer
  // pays O(that month's changes) even when the store rewrites at table
  // scale. Sound for the same reason as the batch prune: files never mix
  // months. Changes wholly outside the window still move the offset —
  // they surface as EMPTY batches (the pin advances; nothing is read).
  private val monthOk: Option[String => Boolean] =
    months.map(CdcStreamProvider.monthsPredicate)
  private def inScope(key: String): Boolean = monthOk.forall(_(TraceStore.monthOf(key)))

  override val schema: StructType = CdcStreamProvider.feedSchema(path)

  // the store-derived part of the feed (everything before the commit
  // metadata columns) — what evolution-detection compares against
  private val coreSchema: StructType =
    StructType(schema.fields.dropRight(CdcStreamProvider.commitFields.length))

  // ---- durable record of the pins THIS stream created, under the
  // stream's own checkpoint metadata dir (per-stream by construction,
  // survives restarts, shares the checkpoint's filesystem)
  private val fs = new org.apache.hadoop.fs.Path(metadataPath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val pinsDir = new org.apache.hadoop.fs.Path(metadataPath, "pins")

  // a startingSnapshot is only consumed by the stream's FIRST batch; once
  // this stream has ever pinned an offset, the starting pin may have been
  // legitimately dropped and its absence must not block restarts
  startingSnapshot.filter(_ => !fs.exists(pinsDir)).foreach { id =>
    require(TraceStore.listSnapshots(path).contains(id),
      s"startingSnapshot '$id' is not a pinned snapshot of $path")
  }

  // the months spec is part of the OFFSET CONTRACT: chunk offsets index
  // into the FILTERED worklist, so resuming a checkpoint under a
  // different spec would silently re-slice an in-flight diff (rows
  // skipped or double-read). Pin it durably like the fleet source pins
  // its path list: first run writes the spec, every restart must match.
  locally {
    val f = new org.apache.hadoop.fs.Path(metadataPath, "months")
    val cur = months.getOrElse("(all)")
    CdcStreamProvider.readPinFile(fs, f) match {
      case Some(prev) =>
        require(prev == cur,
          s"this checkpoint was created with months='$prev' but the stream now " +
            s"declares months='$cur' — the spec is fixed per checkpoint because " +
            "chunk offsets index the filtered worklist; start a new checkpoint " +
            "for a different month scope")
      case None =>
        // no pin but the stream HAS history (offset pins exist): a
        // checkpoint created before month scoping, whose committed chunk
        // offsets index the UNFILTERED worklist. Adopting a scope now
        // would silently re-slice an in-flight diff (rows skipped or
        // double-read; a mid-bootstrap upTo can even exceed the filtered
        // list and read as complete). Unscoped resume is the old
        // behavior — pin it; a scoped resume must refuse.
        require(cur == "(all)" || !fs.exists(pinsDir),
          s"this checkpoint has committed offsets but no recorded month scope " +
            s"(created before month scoping) — resuming it with months='$cur' " +
            "would re-slice in-flight chunk offsets against a differently " +
            "filtered worklist; start a new checkpoint for a month-scoped stream")
        fs.mkdirs(new org.apache.hadoop.fs.Path(metadataPath))
        CdcStreamProvider.writePinFile(fs, f, cur)
    }
  }

  private def markCreated(id: String): Unit = {
    fs.mkdirs(pinsDir)
    fs.create(new org.apache.hadoop.fs.Path(pinsDir, id), true).close()
  }

  private def ownPins(): Seq[String] =
    if (!fs.exists(pinsDir)) Seq.empty
    else fs.listStatus(pinsDir).toSeq.map(_.getPath.getName)
      .filter(_.matches("s\\d{6,}"))

  private def num(id: String): Long = id.drop(1).toLong

  /** Pin the current state as an OWN snapshot (marked for commit-GC).
    * MARKER-FIRST via the snapshot pre-install hook: the ownership marker
    * (and the operator-facing `.owner-` note) land after the id claim but
    * before the manifest, so a crash anywhere in the window leaves a
    * marker with NO pin — inert (commit-GC treats a markered id without a
    * manifest as already dropped and just clears the marker) — never a
    * pin with no marker that no GC would claim. */
  private def pinOwn(): CdcOffset = {
    val id = TraceStore.snapshot(path, { candidate =>
      markCreated(candidate)
      TraceStore.annotateSnapshotOwner(path, candidate,
        s"graft-cdc stream offset pin (checkpoint: $metadataPath) — " +
          "dropping it breaks the stream's next batch; GC'd automatically on commit")
    })
    CdcOffset(id)
  }

  // worklist caches, one entry each: a pin's bootstrap list, a
  // transition's diff list, and their file sizes (stat'd only under a
  // bytes budget) are pure functions of immutable manifests, so every
  // chunk of one bootstrap or diff — and the getBatch after the step that
  // chose it — reads them once. Month-scoped streams cache the FILTERED
  // lists: chunk offsets index into them, and the spec is fixed per
  // checkpoint, so replays slice identically.
  private val keysOf: String => IndexedSeq[String] =
    CdcSource.lastOf(id => TraceStore.snapshotKeys(path, id).filter(inScope))
  private val diffKeys: ((String, String)) => IndexedSeq[(String, Boolean)] =
    CdcSource.lastOf { case (fromId, toId) =>
      TraceStore.changedKeysBetween(path, fromId, toId).filter(e => inScope(e._1))
    }
  private val bootSizes: String => IndexedSeq[Long] =
    CdcSource.lastOf(id => TraceStore.keyBytes(path, keysOf(id)))
  private val diffSizes: ((String, String)) => IndexedSeq[Long] =
    CdcSource.lastOf(t => TraceStore.keyBytes(path, diffKeys(t).map(_._1)))

  /** Worklist index where the chunk starting at `from` ends: admit files
    * until the files or bytes budget would be exceeded — always at least
    * one, so an oversized file arrives alone (FileStreamSource's
    * maxBytesPerTrigger contract; the batch is then bounded by the
    * store's own file-size policy, which ingest and maintenance both
    * honor). `sizeAt` is only consulted under a bytes budget, so the
    * per-file stat pass is never paid for pure file-count admission. */
  private def admit(count: Int, sizeAt: Int => Long, from: Int,
                    limit: ReadLimit): Int = {
    val (mf, mb) = CdcSource.budgets(limit)
    if (mf.isEmpty && mb.isEmpty) count
    else {
      var k = from
      var bytes = 0L
      var stop = false
      while (k < count && !stop) {
        val sz = if (mb.isDefined) sizeAt(k) else 0L
        val fits = mf.forall(k - from + 1 <= _) && mb.forall(bytes + sz <= _)
        if (fits || k == from) {
          bytes += sz; k += 1
          if (!fits) stop = true // oversized lone file admitted by itself
        } else stop = true
      }
      k
    }
  }

  // Trigger.AvailableNow: the run's end state, frozen at the first
  // latestOffset call (start-aware, so an idle run pins nothing)
  @volatile private var availableNowPending = false
  @volatile private var availableNowTarget: Option[CdcOffset] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowPending = true
    availableNowTarget = None
  }

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }

  override def initialOffset(): OffsetV2 = CdcOffset.Start

  /** The next offset after `start` — at most one bounded step. Fresh
    * streams pin the current state (first chunk of it when chunking
    * applies); mid-bootstrap advances one chunk of the SAME pin;
    * mid-diff advances one slice of the SAME frozen worklist (the final
    * slice lands as the complete offset, releasing the diff's base pin
    * to commit-GC); complete offsets step toward change only when the
    * live file set moved — as a bounded chunked diff under
    * `maxFilesPerTrigger` — else echo `start` verbatim (idle = no
    * batch, no pin). */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): CdcOffset = {
    // the engine passes null (not initialOffset) before the first batch
    val s = Option(start).map(CdcOffset.of).getOrElse(CdcOffset.Start)
    def bootStep(id: String, k: Int): Int =
      admit(keysOf(id).size, i => bootSizes(id)(i), k, limit)
    // one admission-controlled slice of the fromId → toId worklist from
    // index k: a small diff arrives whole; a table-scale one (retention
    // sweep, mass erase) arrives as bounded slices, the last of which
    // lands as the complete offset
    def diffStep(fromId: String, toId: String, k: Int = 0): CdcOffset = {
      val t = (fromId, toId)
      val n = admit(diffKeys(t).size, i => diffSizes(t)(i), k, limit)
      if (n >= diffKeys(t).size) CdcOffset(toId)
      else CdcOffset(toId, Some(n), Some(fromId))
    }
    def firstChunkOf(o: CdcOffset): CdcOffset =
      if (initialLoad) {
        val n = bootStep(o.snapshotId, 0)
        if (n >= keysOf(o.snapshotId).size) o else CdcOffset(o.snapshotId, Some(n))
      } else startingSnapshot match {
        case Some(f) => diffStep(f, o.snapshotId)
        case None => o
      }
    val target = availableNowTarget
    val next: CdcOffset = s match {
      // fresh stream: pin the current state (or serve the frozen target)
      case CdcOffset(id0, _, _) if num(id0) == 0 =>
        firstChunkOf(target.getOrElse(pinOwn()))
      // mid-bootstrap: one more chunk of the same immutable manifest
      case CdcOffset(id, Some(k), None) if k < keysOf(id).size =>
        CdcOffset(id, Some(bootStep(id, k)))
      // mid-diff: one more slice of the same frozen worklist
      case CdcOffset(id, Some(k), Some(f)) if k < diffKeys((f, id)).size =>
        diffStep(f, id, k)
      // complete (chunked-complete or plain): advance only on change
      case CdcOffset(id, _, _) => target match {
        case Some(t) => if (t.snapshotId == id) s else diffStep(id, t.snapshotId)
        case None =>
          if (TraceStore.snapshotMatchesLive(path, id)) s
          else diffStep(id, pinOwn().snapshotId)
      }
    }
    if (availableNowPending && target.isEmpty) {
      // freeze the run's end state: the complete form of the offset the
      // first poll produced (chunks of it still flow batch by batch).
      // Resuming a chunked bootstrap (or chunked diff) whose end pin no
      // longer matches the live set freezes a FRESH pin instead, so one
      // run finishes the in-flight chunk sequence AND delivers the
      // accumulated diff — otherwise the CLI would report "caught up"
      // with available changes undelivered until the next invocation.
      val endId = next match {
        case CdcOffset(id, Some(_), _)
            if num(s.snapshotId) > 0 && !TraceStore.snapshotMatchesLive(path, id) =>
          pinOwn().snapshotId
        case o => o.snapshotId
      }
      availableNowTarget = Some(CdcOffset(endId))
      availableNowPending = false
    }
    next
  }

  override def getOffset: Option[OffsetV1] =
    throw new UnsupportedOperationException(
      "graft-cdc implements SupportsAdmissionControl; the engine calls " +
        "latestOffset(start, limit) instead of getOffset")

  /** One batch = one slice `[j, k)` of one immutable worklist: the
    * end pin's month-scoped sorted manifest read as inserts (`base` =
    * None: a bootstrap), or the signed changed-file list `base → end`
    * (a diff). A whole bootstrap or diff is the slice `[0, size)`; a
    * chunk runs from the start offset's index to the end offset's. Any
    * partition of a diff worklist sums to exactly the whole diff (signed
    * row algebra is additive over file sets); a rewrite's cancelling
    * pair split across slices surfaces as insert+delete of the same row
    * in different batches — net zero for every signed consumer (rollup
    * maintenance, `_sign` replication). */
  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endOff = CdcOffset.of(end)
    val endId = endOff.snapshotId
    // the engine may hand initialOffset back as a real start; it means
    // "nothing delivered yet", i.e. the same thing as None
    val from = start.map(CdcOffset.of).filter(o => num(o.snapshotId) > 0)
    def sizeOf(base: Option[String]): Int =
      base.fold(keysOf(endId).size)(b => diffKeys((b, endId)).size)
    def whole(base: Option[String], j: Int = 0) = Some((base, j, sizeOf(base)))
    val slice: Option[(Option[String], Int, Int)] =
      (from, endOff.upTo, endOff.fromSnapshot) match {
        // diff chunk: worklist slice between the diff's base and endId
        case (f, Some(k), Some(base)) =>
          val j = f match {
            case Some(CdcOffset(`endId`, Some(prev), Some(`base`))) => prev
            case Some(CdcOffset(`base`, _, _)) => 0 // complete at the base
            case None => 0 // fresh stream chunking from startingSnapshot
            case Some(other) => throw new IllegalStateException(
              s"graft-cdc: diff chunk $base..$endId cannot follow offset ${other.json}")
          }
          Some((Some(base), j, k))
        // bootstrap chunk: sorted-manifest slice of the pinned snapshot
        case (f, Some(k), None) =>
          val j = f match {
            case Some(CdcOffset(`endId`, Some(prev), None)) => prev
            case None => 0
            case Some(other) => throw new IllegalStateException(
              s"graft-cdc: bootstrap chunk of $endId cannot follow offset ${other.json}")
          }
          Some((None, j, k))
        // the complete offset closes a chunked diff with its final slice
        case (Some(s), None, None) if s.snapshotId == endId =>
          s.fromSnapshot.flatMap(base => whole(Some(base), s.upTo.getOrElse(0)))
        case (Some(s), None, None) =>
          if (s.fromSnapshot.isDefined) throw new IllegalStateException(
            s"graft-cdc: complete offset $endId cannot follow a mid-diff " +
              s"offset of another snapshot (${s.json})")
          whole(Some(s.snapshotId))
        // CDC bootstrap in one piece: the consumer materializes state
        // from one full load, then follows increments
        case (None, None, None) if initialLoad => whole(None)
        case (None, None, None) => startingSnapshot.flatMap(base => whole(Some(base)))
        // a diff-marked end without a chunk index is never constructed
        case (f, _, _) => throw new IllegalStateException(
          s"graft-cdc: unrecognized offset pair start=${f.map(_.json)} end=${endOff.json}")
      }
    val df = slice.collect {
      case (None, j, k) if j < k =>
        TraceStore.readKeys(spark, path, keysOf(endId).slice(j, k), s"snapshot $endId")
          .withColumn("_change", lit("insert"))
      case (Some(base), j, k) if j < k =>
        TraceStore.readChangedKeys(spark, path,
          diffKeys((base, endId)).slice(j, k), s"changes $base..$endId")
    }.orNull
    if (df == null) Shim.emptyStreaming(spark, schema)
    else {
      val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val want = coreSchema.fields.map(f => (f.name, f.dataType)).toSeq
      if (got != want)
        throw new IllegalStateException(
          s"graft-cdc: store schema evolved mid-stream (stream declared " +
            s"${want.map(_._1).mkString(",")}; feed now produces " +
            s"${got.map(_._1).mkString(",")}). Restart the stream to adopt " +
            "the evolved schema — it resumes from the checkpointed offset " +
            "with no loss (old files read through rename aliases).")
      // commit metadata: which pin produced this batch and when it was
      // captured (manifest install time — stable across replays), the
      // Delta-CDF _commit_version/_commit_timestamp analogue, so a
      // windowed or late-data consumer can reason about change time
      // without the batch-id side channel
      Shim.streamingOfRows(spark, df
        .withColumn("_commit_snapshot", lit(endId))
        .withColumn("_commit_ts", lit(TraceStore.snapshotTimestamp(path, endId))))
    }
  }

  override def commit(end: OffsetV1): Unit = {
    val e = CdcOffset.of(end)
    // a mid-diff chunk still replays against BOTH manifests: GC below
    // the diff's base until the complete offset closes the sequence
    val floor = e.fromSnapshot match {
      case Some(base) if e.upTo.isDefined => num(base)
      case _ => num(e.snapshotId)
    }
    val dropped = ownPins().filter(num(_) < floor)
    dropped.foreach { id =>
      TraceStore.dropSnapshot(path, id)
      fs.delete(new org.apache.hadoop.fs.Path(pinsDir, id), false)
    }
    if (dropped.nonEmpty) TraceStore.vacuumSnapshots(path)
  }

  override def stop(): Unit = ()

  override def toString: String = s"CdcSource[$path]"
}

object CdcSource {
  /** `f` memoized for its most recent argument (one entry, replaced
    * atomically). */
  private def lastOf[K, V](f: K => V): K => V = {
    val last = new java.util.concurrent.atomic.AtomicReference[(K, V)]
    k => Option(last.get).filter(_._1 == k).fold { val v = f(k); last.set((k, v)); v }(_._2)
  }

  /** The files/bytes budgets a ReadLimit carries (composite = tightest
    * of each kind); (None, None) = unbounded. */
  private def budgets(limit: ReadLimit): (Option[Int], Option[Long]) = limit match {
    case f: ReadMaxFiles => (Some(f.maxFiles()), None)
    case b: ReadMaxBytes => (None, Some(b.maxBytes()))
    case c: CompositeReadLimit =>
      c.getReadLimits.map(budgets).foldLeft((Option.empty[Int], Option.empty[Long])) {
        case ((f1, b1), (f2, b2)) =>
          (Seq(f1, f2).flatten.reduceOption(_ min _),
            Seq(b1, b2).flatten.reduceOption(_ min _))
      }
    case _ => (None, None)
  }
}

/** Offset = the id of a snapshot pin this stream created; during an
  * admission-controlled bootstrap, `upTo` marks how many of the pinned
  * manifest's sorted files have been delivered so far (see
  * [[CdcSource]]). */
final case class CdcOffset(snapshotId: String, upTo: Option[Int] = None,
                           fromSnapshot: Option[String] = None)
    extends OffsetV1 {
  override def json: String = (fromSnapshot, upTo) match {
    case (Some(f), Some(k)) =>
      s"""{"snapshot":"$snapshotId","from":"$f","upto":$k}"""
    case (None, Some(k)) => s"""{"snapshot":"$snapshotId","upto":$k}"""
    case _               => s"""{"snapshot":"$snapshotId"}"""
  }
}

object CdcOffset {
  /** The before-anything offset `latestOffset` receives on a fresh
    * stream (never logged by the engine as a batch boundary). */
  val Start: CdcOffset = CdcOffset("s000000")
  private val Pat = """\{\s*"snapshot"\s*:\s*"(s\d{6,})"\s*\}""".r
  private val PatUpTo =
    """\{\s*"snapshot"\s*:\s*"(s\d{6,})"\s*,\s*"upto"\s*:\s*(\d+)\s*\}""".r
  private val PatDiff =
    ("""\{\s*"snapshot"\s*:\s*"(s\d{6,})"\s*,\s*"from"\s*:\s*"(s\d{6,})"""" +
      """\s*,\s*"upto"\s*:\s*(\d+)\s*\}""").r
  def parse(json: String): CdcOffset = json.trim match {
    case Pat(id) => CdcOffset(id)
    case PatUpTo(id, k) => CdcOffset(id, Some(k.toInt))
    case PatDiff(id, f, k) => CdcOffset(id, Some(k.toInt), Some(f))
    case other =>
      throw new IllegalArgumentException(s"not a graft-cdc offset: $other")
  }
  /** The engine hands back offsets from its log as SerializedOffset —
    * resolve either form through the json representation. */
  def of(o: OffsetV2): CdcOffset = o match {
    case c: CdcOffset => c
    case other => parse(other.json())
  }
}

/** One checkpoint over N stores — the fleet form of [[CdcSource]]: the
  * reference's multi-cluster story is one table per cluster (its
  * README.md:55-62), and a fleet-wide replication
  * consumer wants ONE offset log, not N checkpoints to keep consistent.
  * The composite offset carries a per-store pin
  * (`{"next":k,"stores":[…]}` — one embedded [[CdcOffset]] per
  * configured path, positional), and every delivered row is tagged with
  * its origin store (`_store` = the configured path).
  *
  * Semantics = each child [[CdcSource]]'s, unchanged: per-store pins
  * under per-store metadata subdirs, admission control, chunked
  * bootstraps/diffs, commit-GC, AvailableNow — all delegate. ONE child
  * advances per trigger under the whole read limit (so
  * `maxFilesPerTrigger`/`maxBytesPerTrigger` bound the BATCH, as for a
  * single store; see [[latestOffset]]), the first that moves in a
  * round-robin scan from the offset's own `next` cursor —
  * deterministic, restart-safe, and fair when several stores mutate
  * continuously.
  *
  * The path LIST is part of the checkpoint contract, with ONE supported
  * evolution: APPEND-ONLY growth (the reference's clusters come and go,
  * README.md:55-62). Offset parts are positional, so existing entries
  * can neither move nor leave — removal/reorder fails loudly against
  * the durable paths pin — but new stores appended at the END extend
  * the pin in place: an older logged offset (fewer parts) grows with
  * Start sentinels for the newcomers, which bootstrap through the feed
  * (or follow from a seeded pin via positional `startingSnapshots`)
  * while every existing store's pin is untouched. To retire a store,
  * DELETE WHERE its rows (the feed retracts them fleet-wide), then
  * start a new checkpoint without it. All stores must share the core
  * schema (the fleet IS one logical table there; an evolved straggler
  * fails at construction with both schemas named). */
final class CdcMultiSource(
    sqlContext: SQLContext,
    paths: Seq[String],
    metadataPath: String,
    initialLoad: Boolean,
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long],
    months: Option[String],
    startingSnapshots: Option[Seq[String]])
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  require(paths.nonEmpty, "graft-cdc multi-store read needs at least one path")
  // the fleet seed handoff: one pin PER STORE, positional like the path
  // list — each child follows changes from its own pin instead of
  // bootstrapping (the fleet twin of the single-store startingSnapshot)
  startingSnapshots.foreach { pins =>
    require(pins.size == paths.size,
      s"startingSnapshots names ${pins.size} pins for ${paths.size} stores — " +
        "the list is positional, one pin per configured path")
    require(!initialLoad,
      "startingSnapshots and initialLoad are exclusive: follow from the pins " +
        "OR bootstrap, not both")
  }

  // Pin the PATH LIST durably under the stream's metadata: offset parts
  // are positional, so a checkpoint resumed with the stores REORDERED
  // (same count) would silently re-bind each store to another store's
  // pin — not a crash, a misattributed feed. First run writes the list;
  // every restart must present the identical sequence.
  locally {
    val fs0 = new org.apache.hadoop.fs.Path(metadataPath)
      .getFileSystem(sqlContext.sparkSession.sparkContext.hadoopConfiguration)
    val pathsFile = new org.apache.hadoop.fs.Path(metadataPath, "paths")
    CdcStreamProvider.readPinFile(fs0, pathsFile) match {
      case Some(prev0) =>
        val prev = prev0.linesIterator.toList
        if (prev != paths.toList) {
          // membership EVOLUTION: appending stores at the END is the one
          // supported reshape — existing positions (and so their offset
          // pins) are untouched, newcomers get fresh positions and start
          // at the Start sentinel (bootstrap or follow-from-now per the
          // fleet's configuration; a seeded newcomer rides positional
          // startingSnapshots). Removal and reorder still fail loudly:
          // dropping a position would re-bind every later store to
          // another store's pin (misattributed feeds, not a crash).
          require(paths.toList.startsWith(prev),
            s"this checkpoint follows the store list [${prev.mkString(", ")}] but " +
              s"'paths' names [${paths.mkString(", ")}] — offset pins are " +
              "positional, so existing entries can neither move nor leave; a " +
              "fleet may only GROW by appending new stores at the end (to " +
              "retire a store, DELETE WHERE its rows so the feed retracts " +
              "them, then start a new checkpoint without it)")
          CdcStreamProvider.writePinFile(fs0, pathsFile, paths.mkString("\n"))
        }
      case None =>
        fs0.mkdirs(new org.apache.hadoop.fs.Path(metadataPath))
        CdcStreamProvider.writePinFile(fs0, pathsFile, paths.mkString("\n"))
    }
  }

  private val children: IndexedSeq[CdcSource] = paths.toIndexedSeq.zipWithIndex
    .map { case (p, i) =>
      new CdcSource(sqlContext, p, s"$metadataPath/store-$i",
        startingSnapshots.map(_(i)), initialLoad,
        maxFilesPerTrigger, maxBytesPerTrigger, months)
    }

  override val schema: StructType = {
    val first = children.head.schema
    children.zip(paths).foreach { case (c, p) =>
      require(c.schema == first,
        s"graft-cdc multi-store read needs one shared schema; ${paths.head} has " +
          s"${first.fieldNames.mkString(",")} but $p has " +
          s"${c.schema.fieldNames.mkString(",")} — evolve the straggler first")
    }
    StructType(first.fields :+ StructField("_store", StringType))
  }

  override def getDefaultReadLimit: ReadLimit = children.head.getDefaultReadLimit

  override def prepareForTriggerAvailableNow(): Unit =
    children.foreach(_.prepareForTriggerAvailableNow())

  override def initialOffset(): OffsetV2 =
    CdcMultiOffset(0, IndexedSeq.fill(children.size)(CdcOffset.Start))

  /** A logged composite offset grown to the CURRENT fleet width: a
    * checkpoint written before stores were appended carries fewer parts,
    * and the missing tail is exactly the newcomers — which start at the
    * Start sentinel. An offset WIDER than the fleet is a removal,
    * refused here as well as at the paths pin (defense in depth: the
    * pin file could have been hand-edited). */
  private def grown(o: CdcMultiOffset): CdcMultiOffset = {
    require(o.parts.size <= children.size,
      s"checkpoint offset carries ${o.parts.size} store pins but only " +
        s"${children.size} paths are configured — stores can only be APPENDED " +
        "to a checkpointed fleet, never removed; start a new checkpoint for a " +
        "shrunken fleet")
    if (o.parts.size == children.size) o
    else o.copy(parts = o.parts ++
      IndexedSeq.fill(children.size - o.parts.size)(CdcOffset.Start))
  }

  /** One admission-bounded step of ONE child per trigger: scanning
    * round-robin from the offset's `next` cursor, the first child whose
    * own [[CdcSource.latestOffset]] moves under the whole read limit
    * advances, and the cursor lands after it. A child whose part is the
    * Start sentinel has never run — it is handed `null`, the engine's
    * before-first-batch convention. Idle fleet ⇒ every child echoes ⇒
    * the composite echoes `start` verbatim (no batch, no pins). */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = Option(start).getOrElse(initialOffset())
    val s = grown(CdcMultiOffset.of(from))
    val order = (s.next until children.size) ++ (0 until s.next)
    order.iterator
      .map { i =>
        val prev = s.parts(i)
        (i, children(i).latestOffset(if (prev == CdcOffset.Start) null else prev, limit))
      }
      .find { case (i, next) => next != s.parts(i) }
      .fold(from) { case (i, next) =>
        CdcMultiOffset((i + 1) % children.size, s.parts.updated(i, next))
      }
  }

  override def getOffset: Option[OffsetV1] =
    throw new UnsupportedOperationException(
      "graft-cdc implements SupportsAdmissionControl; the engine calls " +
        "latestOffset(start, limit) instead of getOffset")

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val e = grown(CdcMultiOffset.of(end))
    val s = start.map(o => grown(CdcMultiOffset.of(o)))
    val frames = children.indices.flatMap { i =>
      val ePart = e.parts(i)
      val sPart = s.map(_.parts(i)).filterNot(_ == CdcOffset.Start)
      if (ePart == CdcOffset.Start || sPart.contains(ePart)) None
      else Some(children(i).getBatch(sPart, ePart)
        .withColumn("_store", lit(paths(i))))
    }
    if (frames.isEmpty) Shim.emptyStreaming(sqlContext.sparkSession, schema)
    else frames.reduce(_ unionByName _)
  }

  override def commit(end: OffsetV1): Unit = {
    val e = grown(CdcMultiOffset.of(end))
    children.indices.foreach { i =>
      if (e.parts(i) != CdcOffset.Start) children(i).commit(e.parts(i))
    }
  }

  override def stop(): Unit = children.foreach(_.stop())

  override def toString: String = s"CdcMultiSource[${paths.mkString(",")}]"
}

/** Composite offset: a per-store [[CdcOffset]] (positional, option
  * order) + the round-robin cursor naming the store the NEXT trigger
  * scans first. */
final case class CdcMultiOffset(next: Int, parts: IndexedSeq[CdcOffset])
    extends OffsetV1 {
  override def json: String =
    parts.map(_.json).mkString(s"""{"next":$next,"stores":[""", ",", "]}")
}

object CdcMultiOffset {
  private val Shell = """\{\s*"next"\s*:\s*(\d+)\s*,\s*"stores"\s*:\s*\[(.*)\]\s*\}""".r
  def parse(json: String): CdcMultiOffset = json.trim match {
    case Shell(n, body) =>
      // embedded CdcOffset jsons are flat objects — split on object
      // boundaries (no nested braces inside them)
      val parts = body.split("(?<=\\})\\s*,\\s*(?=\\{)").toIndexedSeq
        .filter(_.nonEmpty).map(CdcOffset.parse)
      CdcMultiOffset(n.toInt, parts)
    case other =>
      throw new IllegalArgumentException(s"not a graft-cdc multi offset: $other")
  }
  def of(o: OffsetV2): CdcMultiOffset = o match {
    case c: CdcMultiOffset => c
    case other => parse(other.json())
  }
}

/** `spark.readStream.format("graft-cdc")` / `spark.read.format("graft-cdc")`
  * provider (DataSourceRegister via META-INF/services). The BATCH form is
  * the Delta `table_changes` shape — SQL/DataFrame users get the
  * snapshot-diff feed without `foreachBatch`:
  *
  * {{{
  * spark.read.format("graft-cdc")
  *   .option("path", storePath)
  *   .option("startingSnapshot", "s000001")  // required (batch)
  *   .option("endingSnapshot", "s000007")    // optional: default = live state
  *   .load()  // same columns as the stream; _commit_snapshot/_commit_ts
  *            // carry the ending pin (null when diffing to live state)
  * }}}
  *
  * Streaming options:
  *  - `path` (required): the trace-store root. OR `paths`: a
  *    comma-separated LIST of store roots — one checkpoint over a fleet
  *    ([[CdcMultiSource]]): per-store pins in one composite offset, one
  *    store advances per trigger (round-robin, under the whole budget),
  *    rows tagged `_store`; the list is positional — append-only growth
  *    is the one supported reshape.
  *  - `initialLoad` (default false): bootstrap — the full table at the
  *    stream's first pinned snapshot, as inserts. Overrides
  *    `startingSnapshot`.
  *  - `startingSnapshot` (default `latest`): `latest` starts the feed
  *    at the stream's first trigger (changes AFTER start); an explicit
  *    pinned id starts it there (first delivery = changes from that
  *    pin; the pin stays the USER's to manage — under admission
  *    control the first diff arrives as SEVERAL chunks that all
  *    replay against it, so drop it only after the stream's offset
  *    reaches a complete `{"snapshot":…}` form, not after the first
  *    batch).
  *  - `maxFilesPerTrigger` (default unbounded): admission control for
  *    EVERY batch — the `initialLoad` bootstrap arrives as
  *    sorted-manifest slices, and post-bootstrap diffs arrive as slices
  *    of the signed changed-file worklist, each of at most this many
  *    files per micro-batch. A 100 TB bootstrap AND a table-scale
  *    maintenance rewrite (retention sweep, mass erase) are both
  *    bounded batches, never one table-sized one. Chunked diffs may
  *    split a rewrite's cancelling insert+delete pair across batches —
  *    net zero for signed consumers (rollup maintenance, `_sign`
  *    replication); exact-batch consumers should leave it unset.
  *  - `maxBytesPerTrigger` (default unbounded): byte-budgeted admission
  *    for the same chunked paths — composes with `maxFilesPerTrigger`
  *    (tightest wins per batch). Bounds batch SIZE even when file
  *    counts mislead (a maintenance rewrite that coalesced into few
  *    fat files); an oversized single file still arrives alone, so the
  *    floor is the store's own file-size policy (FileStreamSource's
  *    maxBytesPerTrigger contract).
  *  - `months` (default all): month-scope the STREAM — e.g.
  *    `months=>=202401` or `months=202401,202402`. Non-matching months
  *    are dropped from every worklist (bootstrap, chunked diffs, whole
  *    diffs) before any file is scheduled or opened, so a month-scoped
  *    derived table's maintainer pays O(that month's changes) under a
  *    table-scale rewrite — the streaming form of the batch relation's
  *    `ym`-filter pruning. The spec is fixed per checkpoint (chunk
  *    offsets index the filtered worklist); changes wholly outside the
  *    scope advance the offset as EMPTY batches.
  *
  * On commit, the source drops the pins it created below the committed
  * offset and vacuums.
  */
final class CdcStreamProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.RelationProvider with DataSourceRegister {
  import CdcStreamProvider._

  override def shortName(): String = "graft-cdc"

  /** Batch read: the feed between two pins (or a pin and the live
    * state), as a relation — Catalyst sees the feed schema and plans
    * over it like any table. The scan hands Spark the diff plan's
    * InternalRow RDD directly (`needConversion=false`, the standard
    * connector exit), so no external-Row re-encode rides the hot path. */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    val path = pathOf(parameters)
    val from = parameters.getOrElse("startingSnapshot",
      throw new IllegalArgumentException(
        "graft-cdc batch read requires option 'startingSnapshot' (a pinned " +
          "snapshot id — the diff's base); streaming reads via readStream " +
          "manage their own offsets instead"))
    require(from.matches("s\\d{6,}"),
      s"startingSnapshot must be a snapshot id like s000001, got '$from'")
    val to = parameters.get("endingSnapshot")
    to.foreach(t => require(t.matches("s\\d{6,}"),
      s"endingSnapshot must be a snapshot id like s000001, got '$t'"))
    new CdcBatchRelation(sqlContext, path, from, to)
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), multiPaths(parameters) match {
      case Some(ps) =>
        StructType(feedSchema(ps.head).fields :+ StructField("_store", StringType))
      case None => feedSchema(pathOf(parameters))
    })

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    // descriptive failure for a non-numeric value, matching the batch
    // relation's startingSnapshot validation style (a bare .toInt/.toLong
    // would surface as a raw NumberFormatException naming no option)
    def numeric[T](opt: String, parse: String => Option[T])(check: T => Boolean): Option[T] =
      parameters.get(opt).map { v =>
        val n = parse(v).getOrElse(throw new IllegalArgumentException(
          s"$opt must be a positive integer, got '$v'"))
        require(check(n), s"$opt must be positive, got $v")
        n
      }
    val maxFiles = numeric("maxFilesPerTrigger", _.toIntOption)(_ > 0)
    val maxBytes = numeric("maxBytesPerTrigger", _.toLongOption)(_ > 0)
    // validate the months spec eagerly — a malformed scope must fail at
    // load(), not inside the first micro-batch's worklist assembly
    val months = parameters.get("months")
    months.foreach(CdcStreamProvider.monthsPredicate)
    multiPaths(parameters) match {
      case Some(ps) =>
        require(!parameters.contains("startingSnapshot"),
          "graft-cdc multi-store read manages one pin PER STORE; " +
            "startingSnapshot names a single pin and cannot apply — use " +
            "startingSnapshots (one pin per path) or initialLoad")
        val startPins = parameters.get("startingSnapshots").map { raw =>
          val pins = raw.split(",").map(_.trim).toSeq
          pins.foreach(p => require(p.matches("s\\d{6,}"),
            s"startingSnapshots entries must be snapshot ids like s000001, got '$p'"))
          pins
        }
        new CdcMultiSource(sqlContext, ps, metadataPath,
          parameters.get("initialLoad").exists(_.toBoolean),
          maxFiles, maxBytes, months, startPins)
      case None =>
        new CdcSource(sqlContext, pathOf(parameters), metadataPath,
          parameters.get("startingSnapshot").filterNot(_ == "latest"),
          parameters.get("initialLoad").exists(_.toBoolean),
          maxFiles, maxBytes, months)
    }
  }
}

/** The batch twin of [[CdcSource]]: ONE signed diff between two pins
  * (or a pin and the live state), exposed as a relation. Same file-set
  * pruning as the stream (`readChangesBetween`/`readChangesSince` —
  * cost ∝ changed files, never the table); commit metadata columns
  * carry the ending pin, or null when diffing to the un-pinned live
  * state. Both pins stay the CALLER's to manage — a batch read never
  * creates or drops snapshots.
  *
  * Filter pushdown CROSSES the diff: a deterministic row predicate
  * over the data columns distributes over multiset difference, so it
  * filters both candidate sides before the signed pass and reaches the
  * parquet scans — a consumer reading one machine's changes out of a
  * 100 TB store's rewrite pays for that machine's rows of the changed
  * files, not all rows. Column pruning stays ABOVE the diff (pruning
  * below it would cancel rows that differ only in dropped columns);
  * filters on `_change`/`_commit_*` are left to Spark's re-application
  * above the scan. */
final class CdcBatchRelation(
    override val sqlContext: SQLContext,
    path: String,
    fromId: String,
    toId: Option[String])
  extends org.apache.spark.sql.sources.BaseRelation
  with org.apache.spark.sql.sources.PrunedFilteredScan {

  override val schema: StructType = CdcStreamProvider.feedSchema(path)

  override def needConversion: Boolean = false

  // every filter is re-applied by Spark above the scan (unhandledFilters
  // default), so the pushdown below is a pure I/O optimization — a
  // filter this relation declines to translate costs nothing in
  // correctness, only in bytes read
  override def buildScan(requiredColumns: Array[String],
                         filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val spark = sqlContext.sparkSession
    import org.apache.spark.sql.types.TimestampType
    // predicates over the DATA columns distribute over the signed diff
    // and push below it, reaching the parquet scans of both candidate
    // sides; predicates touching _change/_commit_* only exist above the
    // diff and stay with Spark's re-application
    val dataCols = schema.fieldNames.toSet --
      Set("_change") -- CdcStreamProvider.commitFields.map(_.name)
    val pushed = filters.toSeq
      .filter(_.references.forall(dataCols.contains))
      .flatMap(CdcBatchRelation.translate)
      .reduceOption(_ && _)
    // partition-level pruning of the changed-file WORKLIST: `ym`-only
    // predicates drop non-matching months before any file is scheduled
    // or opened (files never mix months), so a month-scoped consumer of
    // a table-scale rewrite pays O(that month's changes) in metadata AND
    // I/O. The same predicates stay in `pushed` (and in Spark's
    // re-application above), so the prune can only remove files whose
    // every row the filters discard — exactness is untouched.
    val months = CdcBatchRelation.monthPredicate(filters)
    val df = toId match {
      case Some(t) =>
        TraceStore.readChangesBetween(spark, path, fromId, t, pushed, months)
          .withColumn("_commit_snapshot", lit(t))
          .withColumn("_commit_ts", lit(TraceStore.snapshotTimestamp(path, t)))
      case None =>
        TraceStore.readChangesSince(spark, path, fromId, pushed, months)
          .withColumn("_commit_snapshot", lit(null).cast(StringType))
          .withColumn("_commit_ts", lit(null).cast(TimestampType))
    }
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = schema.fields.map(f => (f.name, f.dataType)).toSeq
    if (got != want)
      throw new IllegalStateException(
        s"graft-cdc: store schema evolved between load() and the scan " +
          s"(declared ${want.map(_._1).mkString(",")}; feed produces " +
          s"${got.map(_._1).mkString(",")}) — re-run load() to adopt it")
    // column pruning happens ABOVE the diff (pruning below it would let
    // rows differing only in dropped columns cancel — wrong multiset);
    // it still spares the InternalRow hand-off the dropped columns
    val projected =
      if (requiredColumns.toSeq == schema.fieldNames.toSeq) df
      else df.select(requiredColumns.map(col).toIndexedSeq: _*)
    // needConversion=false: hand Catalyst the diff plan's InternalRow RDD
    Shim.toInternalRdd(projected)
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }

  override def toString: String =
    s"CdcBatchRelation[$path, $fromId..${toId.getOrElse("live")}]"
}

object CdcBatchRelation {
  import org.apache.spark.sql.sources._

  /** source.Filter → Column for the common shapes; None declines the
    * pushdown (Spark still applies the filter above — see buildScan). */
  private[sources] def translate(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case Or(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case Not(c) => translate(c).map(!_)
    case _ => None
  }

  /** Compile the `ym`-only conjuncts of a pushed filter array into a
    * month predicate for metadata-level worklist pruning. Only filters
    * whose EVERY reference is the partition column qualify (a mixed
    * disjunction like `ym = x OR Machine = y` can keep rows of any
    * month, so it must not prune); `yyyyMM` is fixed-width, so string
    * order is chronological order and range filters evaluate directly.
    * Returns None when no filter can prune — the caller then reads the
    * full worklist, exactly as before. Evaluability is structural
    * (probed once with a dummy month), so the returned predicate never
    * silently widens per-key. */
  private[sources] def monthPredicate(filters: Array[Filter]): Option[String => Boolean] = {
    val Ym = graft.schema.TraceSchema.PartitionCol
    def eval(f: Filter, m: String): Option[Boolean] = f match {
      case EqualTo(Ym, v) => Some(m == String.valueOf(v))
      case EqualNullSafe(Ym, v) => Some(m == String.valueOf(v))
      case In(Ym, vs) => Some(vs.exists(v => String.valueOf(v) == m))
      case GreaterThan(Ym, v) => Some(m > String.valueOf(v))
      case GreaterThanOrEqual(Ym, v) => Some(m >= String.valueOf(v))
      case LessThan(Ym, v) => Some(m < String.valueOf(v))
      case LessThanOrEqual(Ym, v) => Some(m <= String.valueOf(v))
      case StringStartsWith(Ym, v) => Some(m.startsWith(v))
      case StringEndsWith(Ym, v) => Some(m.endsWith(v))
      case StringContains(Ym, v) => Some(m.contains(v))
      case IsNotNull(Ym) => Some(true)   // the layout never yields a null month
      case IsNull(Ym) => Some(false)
      case And(l, r) => for (a <- eval(l, m); b <- eval(r, m)) yield a && b
      case Or(l, r) => for (a <- eval(l, m); b <- eval(r, m)) yield a || b
      case Not(c) => eval(c, m).map(!_)
      case _ => None
    }
    val usable = filters.toSeq.filter(f =>
      f.references.toSet == Set(Ym) && eval(f, "000000").isDefined)
    if (usable.isEmpty) None
    else Some(m => usable.forall(f => eval(f, m).getOrElse(true)))
  }
}

object CdcStreamProvider {
  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-cdc requires option 'path' (or 'paths' for a multi-store stream)"))

  /** The `paths` option (comma-separated store roots) → Some(list) for
    * the multi-store streaming form ([[CdcMultiSource]]); exclusive
    * with `path`. */
  private def multiPaths(parameters: Map[String, String]): Option[Seq[String]] =
    parameters.get("paths").map { raw =>
      require(!parameters.contains("path"),
        "graft-cdc takes 'path' (single store) OR 'paths' (fleet), not both")
      val ps = raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(ps.nonEmpty, "graft-cdc option 'paths' names no store")
      require(ps.distinct.size == ps.size,
        s"graft-cdc option 'paths' repeats a store: $raw")
      ps
    }

  /** Durable one-shot pin files (the months spec, the fleet path list)
    * written ATOMICALLY: content lands under a temp name and renames
    * into place, so a crash mid-write leaves either no pin or the whole
    * pin — never a partial/empty file that a restart would misread as
    * "created with months=''" and wedge on. An existing empty file (a
    * pre-atomic crash remnant) is deleted first so the rename can land. */
  private[graft] def writePinFile(fs: org.apache.hadoop.fs.FileSystem,
                                    file: org.apache.hadoop.fs.Path,
                                    content: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      file.getParent, s".${file.getName}.tmp")
    fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(file, false) // an empty crash remnant must not block the rename
    require(fs.rename(tmp, file), s"could not install pin file $file")
  }

  /** Read a pin file written by [[writePinFile]]; an EMPTY file is a
    * crashed pre-atomic write, reported as not-yet-written so the
    * restart can re-pin cleanly instead of failing a spec match. */
  private[graft] def readPinFile(fs: org.apache.hadoop.fs.FileSystem,
                                   file: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(file)) None
    else {
      val in = fs.open(file)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (s.isEmpty) None else Some(s)
    }

  /** Parse the streaming `months` option: comma-separated conjuncts over
    * the `ym` partition VALUE — `>=202401`, `<=202403`, `>`/`<` forms,
    * and `202402` / `=202402` (several equality tokens form an IN-set,
    * OR'd together, AND'd with the range conjuncts). `yyyyMM` is
    * fixed-width, so string order is chronological order and ranges
    * evaluate directly — the same evaluation discipline as the batch
    * relation's [[CdcBatchRelation.monthPredicate]]. */
  /** The parsed months grammar: the IN-set of equality tokens plus the
    * range conjuncts, shared by the closure and Column compilations. */
  private def parseMonths(spec: String): (Set[String], Seq[(String, String)]) = {
    val Tok = """(>=|<=|>|<|=)?(\d{6})""".r
    val toks = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(toks.nonEmpty, s"graft-cdc option 'months' names no month: '$spec'")
    val parsed = toks.map {
      case Tok(op, m) => (Option(op).getOrElse("="), m)
      case other => throw new IllegalArgumentException(
        s"graft-cdc option 'months' token '$other' is not of the form " +
          "[>=|<=|>|<|=]YYYYMM (e.g. '>=202401' or '202401,202402')")
    }
    (parsed.collect { case ("=", m) => m }.toSet, parsed.filterNot(_._1 == "="))
  }

  private[graft] def monthsPredicate(spec: String): String => Boolean = {
    val (eqs, ranges) = parseMonths(spec)
    (m: String) =>
      (eqs.isEmpty || eqs.contains(m)) && ranges.forall {
        case (">=", b) => m >= b
        case ("<=", b) => m <= b
        case (">", b)  => m > b
        case ("<", b)  => m < b
        case _ => true
      }
  }

  /** The same months grammar compiled to a Column predicate over a `ym`
    * value — for batch-side scoping (a migration seed's filter) that
    * must match the stream's worklist pruning EXACTLY. `yyyyMM` is
    * fixed-width, so SQL string comparison is chronological too. */
  private[graft] def monthsColumn(spec: String,
                                  ym: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    val (eqs, ranges) = parseMonths(spec)
    val eqCond =
      if (eqs.isEmpty) lit(true) else ym.isin(eqs.toSeq.sorted: _*)
    ranges.foldLeft(eqCond) {
      case (acc, (">=", b)) => acc && ym >= lit(b)
      case (acc, ("<=", b)) => acc && ym <= lit(b)
      case (acc, (">", b))  => acc && ym > lit(b)
      case (acc, ("<", b))  => acc && ym < lit(b)
      case (acc, _)         => acc
    }
  }

  /** Commit metadata appended to every feed row (the Delta-CDF
    * `_commit_version`/`_commit_timestamp` analogue): the pin that
    * produced the batch and its capture time (manifest install time —
    * immutable, so replays read the same values). */
  val commitFields: Array[StructField] = Array(
    StructField("_commit_snapshot", StringType),
    StructField("_commit_ts", org.apache.spark.sql.types.TimestampType))

  /** The feed's fixed schema: the store's logical columns (manifest
    * metadata stripped — storage detail, not user surface) + the ym
    * partition column + `_change` ("insert" | "delete") + the commit
    * metadata columns. */
  def feedSchema(tablePath: String): StructType = {
    val stored = TraceStore.storedSchema(tablePath)
    StructType(
      stored.fields.map(_.copy(metadata = Metadata.empty)) :+
        StructField(graft.schema.TraceSchema.PartitionCol, StringType) :+
        StructField("_change", StringType) :++
        commitFields)
  }
}
