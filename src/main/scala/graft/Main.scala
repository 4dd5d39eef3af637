package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.schema.Ddl
import graft.streaming.TraceStream

/** Operational entry point — the engine's analogue of the reference's
  * container triad (/root/reference/entrypoint.sh:8-29):
  *
  *   `--print-schema`  → emit the ClickHouse-dialect DDL and exit
  *                       (byte-identical to the reference's output shape,
  *                       golden-tested in DdlSpec);
  *   `--create-schema` → idempotent CREATE DATABASE/TABLE in the session
  *                       catalog and exit (trace-converter.py:58-61);
  *   `file.json …`     → one-shot convert: normalize the given rotated
  *                       trace files and append them to the store (the
  *                       reference's per-file `trace-convert <file>` mode);
  *   `--watch`         → create the schema, then run the streaming ingest
  *                       over the log directory until the completion
  *                       sentinel appears (entrypoint.sh:18-29) or the
  *                       process is stopped.
  *
  * Flags take precedence over environment; the reference's env names
  * (`CLICKHOUSE_DB`, `CLICKHOUSE_TABLE`, `LOG_DIR`,
  * `WATCH_COMPLETION_FILE`) are honored alongside `GRAFT_*` equivalents
  * so existing deployment manifests port unchanged. Argument parsing is a
  * pure function ([[Main.parse]]) so the dispatch table is testable
  * without a SparkSession.
  */
object Main {

  sealed trait Action
  final case class PrintSchema(table: String) extends Action
  final case class CreateSchema(db: String, table: String,
                                location: Option[String]) extends Action
  final case class Convert(files: Seq[String], tablePath: String,
                           splitsPerMonth: Int) extends Action
  final case class Maintain(tablePath: String, dropBefore: Option[String],
                            compactOver: Int, splitsPerMonth: Int,
                            retainMonths: Option[Int] = None,
                            thin: Option[(Int, Int)] = None) extends Action
  final case class Watch(cfg: TraceStream.Config,
                         schema: Option[(String, String)],
                         sentinel: Option[String]) extends Action
  final case class Snapshot(tablePath: String) extends Action
  final case class ListSnapshots(tablePath: String) extends Action
  final case class DropSnapshot(tablePath: String, id: String) extends Action
  final case class ChangesSince(tablePath: String, id: String) extends Action
  /** The stores a CDC mode reads. `--table-path` names ONE store;
    * `--table-paths` names a FLEET of any size (`fleet`): a one-store
    * fleet keeps the fleet checkpoint, offsets and `_store` keys, so the
    * same checkpoint can later follow `A,B`. */
  sealed trait ReadsStores {
    def tablePaths: Seq[String]
    def fleet: Boolean
    require(fleet || tablePaths.size == 1,
      s"more than one store is a fleet: ${tablePaths.mkString(",")}")
    /** The stores as the maintainers take them, with the pins a seeded
      * table follows from. */
    def stores: TraceStream.Stores = TraceStream.Stores(tablePaths, fleet, this match {
      case f: FollowRollup => f.startingSnapshot.map(Seq(_))
      case f: FollowIndex => f.startingSnapshots.orElse(f.startingSnapshot.map(Seq(_)))
      case _ => None
    })
  }
  final case class FollowRollup(tablePaths: Seq[String], rollupPath: String,
                                checkpointDir: String,
                                maxFiles: Option[Int] = None,
                                maxBytes: Option[Long] = None,
                                months: Option[String] = None,
                                startingSnapshot: Option[String] = None,
                                fleet: Boolean = false) extends Action with ReadsStores
  final case class MigrateMonths(tablePath: String, fromRollup: String,
                                 toRollup: String, months: String) extends Action
  final case class FollowIndex(tablePaths: Seq[String], indexPath: String,
                               checkpointDir: String,
                               maxFiles: Option[Int] = None,
                               maxBytes: Option[Long] = None,
                               startingSnapshot: Option[String] = None,
                               months: Option[String] = None,
                               startingSnapshots: Option[Seq[String]] = None,
                               fleet: Boolean = false) extends Action with ReadsStores
  final case class SeedIndex(tablePaths: Seq[String], indexPath: String,
                             months: Option[String] = None,
                             fleet: Boolean = false) extends Action with ReadsStores
  final case class Replicate(tablePaths: Seq[String],
                             tables: Seq[String],
                             http: graft.sources.HttpBulkSink.Config,
                             checkpointDir: String,
                             maxFiles: Option[Int],
                             maxBytes: Option[Long] = None,
                             fleet: Boolean = false) extends Action with ReadsStores
  sealed trait EvolveOp
  final case class AddCol(name: String,
                          dtype: org.apache.spark.sql.types.DataType) extends EvolveOp
  final case class DropCol(name: String) extends EvolveOp
  final case class RenameCol(from: String, to: String) extends EvolveOp
  final case class WidenCol(name: String,
                            dtype: org.apache.spark.sql.types.DataType) extends EvolveOp
  final case class EvolveSchema(tablePath: String, op: EvolveOp) extends Action

  val Usage: String =
    """usage: graft.Main <mode> [options] [trace-file.json ...]
      |modes:
      |  --print-schema          print the ClickHouse-dialect DDL and exit
      |  --create-schema         create the catalog database/table and exit
      |  --watch                 stream-ingest rotated *.json from the log dir
      |  --maintain              run store maintenance (compact; with
      |                          --drop-before / --retain-months also retention)
      |  --snapshot              pin a time-travel snapshot; prints its id
      |  --list-snapshots        list snapshot ids, oldest first
      |  --drop-snapshot ID      release a snapshot and vacuum retired files
      |  --changes-since ID      row-level change feed since snapshot ID —
      |                          survives compaction/erase/retention; prints
      |                          insert/delete counts per month
      |  --follow-rollup PATH    catch the (ym, Type) rollup at PATH up with
      |                          the store via the CDC stream (one
      |                          AvailableNow pass; resumes from its
      |                          checkpoint, survives store maintenance;
      |                          with --table-paths A,B,… maintains the
      |                          union rollup of a store FLEET under this
      |                          one checkpoint)
      |  --follow-index PATH     catch the near-dup band-bucket index at
      |                          PATH up with the store via the CDC stream
      |                          (same pass/checkpoint/maintenance contract
      |                          as --follow-rollup; with --table-paths the
      |                          fleet index keyed (_store, band, bkey);
      |                          --starting-snapshot ID follows changes
      |                          from a seed's pin instead of bootstrapping)
      |  --seed-index PATH       corpus-scale index bootstrap: pin the
      |                          store, build the index base in ONE batch
      |                          job over the pin, print the
      |                          --follow-index --starting-snapshot handoff
      |                          (with --table-paths: pin EVERY store and
      |                          seed the fleet index in one job; with
      |                          --months: scope the seed census to match
      |                          a scoped follow)
      |  --migrate-months SPEC   rolling month-scope migration: with
      |                          --from-rollup OLD --to-rollup NEW, pin
      |                          the store, seed NEW with the scoped
      |                          filter of the maintained OLD rollup
      |                          (pure subtraction — ym is part of the
      |                          key; the store is never recomputed),
      |                          and print the scoped --follow-rollup
      |                          --starting-snapshot handoff. Quiesce
      |                          the old maintainer first.
      |  --replicate             ship the store's changes to the ClickHouse
      |                          HTTP endpoint as JSONEachRow with a
      |                          CollapsingMergeTree _sign column (one
      |                          AvailableNow pass; endpoint from --addr /
      |                          $CLICKHOUSE_ADDR, creds from
      |                          $CLICKHOUSE_USER + $CLICKHOUSE_PASS,
      |                          --max-files bounds the bootstrap batches;
      |                          with --table-paths A,B,… + --tables TA,TB,…
      |                          the FLEET form: one checkpoint, each
      |                          store's signed feed routed to its own
      |                          table — the reference's per-cluster
      |                          deployment; needs an explicit --checkpoint)
      |  --evolve-schema OP      evolve the store schema — metadata-only,
      |                          no file rewritten. OP is one of:
      |                            [add:]N:T        add nullable column N of
      |                                             DDL type T (Region:string)
      |                            drop:N           drop evolved column N
      |                            rename:OLD:NEW   rename evolved column
      |                            widen:N:T        widen N's type (int→bigint,
      |                                             float→double, …)
      |  <trace-file.json ...>   one-shot convert the given files into the store
      |options (flag > env > default):
      |  --db NAME               catalog database    (GRAFT_DB | CLICKHOUSE_DB)
      |  --table NAME            catalog table       (GRAFT_TABLE | CLICKHOUSE_TABLE)
      |  --table-path PATH       store location      (GRAFT_TABLE_PATH)
      |  --table-paths A,B,…     store FLEET (comma-separated list) for
      |                          --follow-rollup / --follow-index /
      |                          --seed-index / --replicate: one
      |                          checkpoint over N ≥ 1 stores (a fleet of
      |                          one can grow to A,B later); exclusive with
      |                          --table-path (which is always ONE literal
      |                          path — never split)
      |  --months SPEC           month-scope a --follow-rollup/--follow-index
      |                          stream or a --seed-index census (e.g.
      |                          '>=202401' or '202401,202402'); fixed per
      |                          checkpoint
      |  --starting-snapshot ID  with --follow-index / --follow-rollup:
      |                          follow changes from this pin (the
      |                          --seed-index / --migrate-months handoff)
      |  --starting-snapshots A,B,…  the fleet form: one pin per
      |                          --table-paths entry, positional
      |  --log-dir DIR           watched directory   (LOG_DIR, default /logs)
      |  --checkpoint DIR        stream checkpoint   (GRAFT_CHECKPOINT,
      |                          default <table-path>/_checkpoint)
      |  --delete-logs           delete source files once committed (A13)
      |  --drop-before YYYYMM    retention cutoff (exclusive) for --maintain
      |  --retain-months N       keep only the newest N months (by data time);
      |                          with --watch, applied on the merge cadence
      |  --thin-keep-months N    with --maintain: months older than the newest
      |                          N (by data time) keep a row sample only
      |  --thin-factor K         sample rate for --thin-keep-months: keep a
      |                          deterministic 1-in-K of each expired month
      |  --compact-over N        compact months above N files (default 16)
      |  --compact-every N       with --watch: every N batches, drop expired
      |                          months and compact (TTL + background merges)
      |  --max-files N           max files per micro-batch (default 64 with
      |                          --watch; with --follow-rollup /
      |                          --follow-index / --replicate: bounds every
      |                          CDC batch, bootstrap AND diffs)
      |  --max-bytes N           with --follow-rollup / --follow-index /
      |                          --replicate: byte budget per CDC
      |                          micro-batch (composes with --max-files,
      |                          tightest wins)
      |  --splits N              write splits per month partition (default 8)
      |  --completion-file NAME  exit when <log-dir>/NAME appears
      |                          (WATCH_COMPLETION_FILE)""".stripMargin

  /** Pure dispatch: args + env → action or an entrypoint-style error
    * line. Mirrors the reference's validation order — schema modes need
    * the table name; store modes need the table path. */
  def parse(args: Seq[String], env: Map[String, String]): Either[String, Action] = {
    val flags = scala.collection.mutable.Map[String, String]()
    val switches = scala.collection.mutable.Set[String]()
    val files = scala.collection.mutable.ArrayBuffer[String]()
    val takesValue = Set("--db", "--table", "--table-path", "--table-paths",
      "--log-dir",
      "--checkpoint", "--max-files", "--max-bytes", "--splits", "--completion-file",
      "--drop-before", "--compact-over", "--compact-every", "--retain-months",
      "--thin-keep-months", "--thin-factor", "--drop-snapshot", "--evolve-schema",
      "--changes-since", "--follow-rollup", "--follow-index", "--seed-index",
      "--starting-snapshot", "--starting-snapshots", "--months", "--addr",
      "--migrate-months", "--from-rollup", "--to-rollup", "--tables")
    val bare = Set("--print-schema", "--create-schema", "--watch", "--maintain",
      "--delete-logs", "--snapshot", "--list-snapshots", "--replicate")
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (takesValue(a)) {
        if (i + 1 >= args.length) return Left(s"ERROR: $a needs a value")
        flags(a) = args(i + 1); i += 2
      } else if (bare(a)) { switches += a; i += 1 }
      else if (a.startsWith("--")) return Left(s"ERROR: unknown flag $a\n$Usage")
      else { files += a; i += 1 }
    }
    def opt(flag: String, envKeys: String*): Option[String] =
      flags.get(flag).orElse(envKeys.collectFirst {
        case k if env.get(k).exists(_.nonEmpty) => env(k)
      })
    def need(flag: String, envKeys: String*): Either[String, String] =
      opt(flag, envKeys: _*).toRight(
        s"ERROR: ${(flag +: envKeys.map(k => s"$$$k")).mkString(" (or ", " / ", ")")
          .stripPrefix(" ")} must be set!")
    def intOpt(flag: String, default: Int): Either[String, Int] =
      flags.get(flag) match {
        case None => Right(default)
        case Some(v) => v.toIntOption.toRight(s"ERROR: $flag must be an int, got '$v'")
      }
    def posIntFlag(flag: String): Either[String, Option[Int]] =
      flags.get(flag) match {
        case None => Right(None)
        case Some(v) => v.toIntOption.filter(_ >= 1).map(Some(_))
          .toRight(s"ERROR: $flag must be a positive int, got '$v'")
      }
    def posLongFlag(flag: String): Either[String, Option[Long]] =
      flags.get(flag) match {
        case None => Right(None)
        case Some(v) => v.toLongOption.filter(_ >= 1L).map(Some(_))
          .toRight(s"ERROR: $flag must be a positive integer, got '$v'")
      }

    val modes = switches.intersect(
      Set("--print-schema", "--create-schema", "--watch", "--maintain",
        "--snapshot", "--list-snapshots", "--replicate")) ++
      (if (flags.contains("--drop-snapshot")) Set("--drop-snapshot") else Set.empty) ++
      (if (flags.contains("--changes-since")) Set("--changes-since") else Set.empty) ++
      (if (flags.contains("--evolve-schema")) Set("--evolve-schema") else Set.empty) ++
      (if (flags.contains("--follow-rollup")) Set("--follow-rollup") else Set.empty) ++
      (if (flags.contains("--follow-index")) Set("--follow-index") else Set.empty) ++
      (if (flags.contains("--seed-index")) Set("--seed-index") else Set.empty) ++
      (if (flags.contains("--migrate-months")) Set("--migrate-months") else Set.empty)
    if (modes.size > 1)
      return Left(s"ERROR: pick one mode, got ${modes.toSeq.sorted.mkString(", ")}")

    // the stores of the CDC follow modes and whether they are a fleet:
    // ONE literal --table-path (never split — a path may legitimately
    // contain a comma), or a comma-separated --table-paths fleet of any
    // size; exclusive
    def followStores: Either[String, (Seq[String], Boolean)] =
      (flags.get("--table-paths"), opt("--table-path", "GRAFT_TABLE_PATH")) match {
        case (Some(_), Some(_)) =>
          Left("ERROR: --table-path and --table-paths are exclusive (one " +
            "literal store vs a comma-separated fleet)")
        case (Some(list), None) =>
          val ps = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          if (ps.isEmpty) Left("ERROR: --table-paths names no store")
          else Right((ps, true))
        case (None, Some(p)) => Right((Seq(p), false))
        case (None, None) =>
          Left("ERROR: --table-path (or $GRAFT_TABLE_PATH / --table-paths) must be set!")
      }
    def monthsOpt: Either[String, Option[String]] = flags.get("--months") match {
      case None => Right(None)
      case Some(m) =>
        scala.util.Try(graft.sources.CdcStreamProvider.monthsPredicate(m)) match {
          case scala.util.Success(_) => Right(Some(m))
          case scala.util.Failure(e) => Left(s"ERROR: ${e.getMessage}")
        }
    }

    if (switches("--print-schema"))
      need("--table", "GRAFT_TABLE", "CLICKHOUSE_TABLE").map(PrintSchema)
    else if (switches("--create-schema"))
      for {
        db <- need("--db", "GRAFT_DB", "CLICKHOUSE_DB")
        t <- need("--table", "GRAFT_TABLE", "CLICKHOUSE_TABLE")
      } yield CreateSchema(db, t, opt("--table-path", "GRAFT_TABLE_PATH"))
    else if (switches("--watch"))
      for {
        tablePath <- need("--table-path", "GRAFT_TABLE_PATH")
        maxFiles <- intOpt("--max-files", 64)
        splits <- intOpt("--splits", 8)
        every <- posIntFlag("--compact-every")
        retain <- posIntFlag("--retain-months")
        over <- intOpt("--compact-over", 16)
        _ <- if (retain.isDefined && every.isEmpty)
               Left("ERROR: --retain-months with --watch needs --compact-every " +
                 "to supply the maintenance cadence")
             else Right(())
      } yield {
        val logDir = opt("--log-dir", "LOG_DIR").getOrElse("/logs")
        val cfg = TraceStream.Config(
          watchDir = logDir,
          tablePath = tablePath,
          checkpointDir = opt("--checkpoint", "GRAFT_CHECKPOINT")
            .getOrElse(s"$tablePath/_checkpoint"),
          maxFilesPerTrigger = maxFiles,
          deleteOnSuccess = switches("--delete-logs"),
          trigger = Trigger.ProcessingTime("1 second"),
          splitsPerMonth = splits,
          compactEveryBatches = every,
          compactOver = over,
          retainMonths = retain)
        val schema = for {
          db <- opt("--db", "GRAFT_DB", "CLICKHOUSE_DB")
          t <- opt("--table", "GRAFT_TABLE", "CLICKHOUSE_TABLE")
        } yield (db, t)
        Watch(cfg, schema,
          opt("--completion-file", "WATCH_COMPLETION_FILE").map(f => s"$logDir/$f"))
      }
    else if (switches("--maintain"))
      for {
        tablePath <- need("--table-path", "GRAFT_TABLE_PATH")
        over <- intOpt("--compact-over", 16)
        splits <- intOpt("--splits", 4)
        cutoff <- flags.get("--drop-before") match {
          case Some(c) if !c.matches("\\d{6}") =>
            Left(s"ERROR: --drop-before must be YYYYMM, got '$c'")
          case other => Right(other)
        }
        retain <- posIntFlag("--retain-months")
        thinKeep <- posIntFlag("--thin-keep-months")
        thinK <- posIntFlag("--thin-factor")
        thin <- (thinKeep, thinK) match {
          case (Some(n), Some(k)) => Right(Some((n, k)))
          case (None, None) => Right(None)
          case _ => Left("ERROR: --thin-keep-months and --thin-factor " +
            "must be given together")
        }
      } yield Maintain(tablePath, cutoff, over, splits, retain, thin)
    else if (switches("--snapshot"))
      need("--table-path", "GRAFT_TABLE_PATH").map(Snapshot)
    else if (switches("--list-snapshots"))
      need("--table-path", "GRAFT_TABLE_PATH").map(ListSnapshots)
    else if (flags.contains("--drop-snapshot"))
      for {
        tablePath <- need("--table-path", "GRAFT_TABLE_PATH")
        id <- flags.get("--drop-snapshot")
          .filter(_.matches("s\\d{6,}"))
          .toRight(s"ERROR: --drop-snapshot needs an id like s000001, got " +
            s"'${flags("--drop-snapshot")}'")
      } yield DropSnapshot(tablePath, id)
    else if (flags.contains("--changes-since"))
      for {
        tablePath <- need("--table-path", "GRAFT_TABLE_PATH")
        id <- flags.get("--changes-since")
          .filter(_.matches("s\\d{6,}"))
          .toRight(s"ERROR: --changes-since needs an id like s000001, got " +
            s"'${flags("--changes-since")}'")
      } yield ChangesSince(tablePath, id)
    else if (flags.contains("--evolve-schema"))
      for {
        tablePath <- need("--table-path", "GRAFT_TABLE_PATH")
        spec = flags("--evolve-schema")
        op <- parseEvolveOp(spec)
      } yield EvolveSchema(tablePath, op)
    else if (flags.contains("--follow-rollup"))
      for {
        named <- followStores
        (stores, fleet) = named
        rollup <- flags.get("--follow-rollup").filter(_.nonEmpty)
          .toRight("ERROR: --follow-rollup needs a rollup path")
        maxFiles <- posIntFlag("--max-files")
        maxBytes <- posLongFlag("--max-bytes")
        months <- monthsOpt
        startPin <- flags.get("--starting-snapshot") match {
          case None => Right(None)
          case Some(_) if fleet =>
            Left("ERROR: --starting-snapshot is the single-store migration " +
              "handoff; it does not apply to a --table-paths fleet rollup")
          case Some(id) if id.matches("s\\d{6,}") => Right(Some(id))
          case Some(bad) =>
            Left(s"ERROR: --starting-snapshot needs an id like s000001, got '$bad'")
        }
      } yield FollowRollup(stores, rollup,
        opt("--checkpoint", "GRAFT_CHECKPOINT")
          .getOrElse(s"$rollup/_checkpoint"), maxFiles, maxBytes, months, startPin, fleet)
    else if (flags.contains("--follow-index"))
      for {
        named <- followStores
        (stores, fleet) = named
        index <- flags.get("--follow-index").filter(_.nonEmpty)
          .toRight("ERROR: --follow-index needs an index path")
        maxFiles <- posIntFlag("--max-files")
        maxBytes <- posLongFlag("--max-bytes")
        months <- monthsOpt
        startPin <- flags.get("--starting-snapshot") match {
          case None => Right(None)
          case Some(id) if !id.matches("s\\d{6,}") =>
            Left(s"ERROR: --starting-snapshot needs an id like s000001, got '$id'")
          case Some(_) if fleet =>
            Left("ERROR: --starting-snapshot names ONE pin; a fleet " +
              "(--table-paths) takes --starting-snapshots, one pin per store")
          case Some(id) => Right(Some(id))
        }
        startPins <- flags.get("--starting-snapshots") match {
          case None => Right(None)
          case Some(_) if !fleet =>
            Left("ERROR: --starting-snapshots is the fleet form; a single " +
              "store takes --starting-snapshot")
          case Some(raw) =>
            val pins = raw.split(",").map(_.trim).toSeq
            if (pins.size != stores.size)
              Left(s"ERROR: --starting-snapshots names ${pins.size} pins for " +
                s"${stores.size} stores (positional, one per --table-paths entry)")
            else pins.find(!_.matches("s\\d{6,}")) match {
              case Some(bad) =>
                Left(s"ERROR: --starting-snapshots needs ids like s000001, got '$bad'")
              case None => Right(Some(pins))
            }
        }
      } yield FollowIndex(stores, index,
        opt("--checkpoint", "GRAFT_CHECKPOINT")
          .getOrElse(s"$index/_checkpoint"), maxFiles, maxBytes, startPin, months,
        startPins, fleet)
    else if (flags.contains("--seed-index"))
      for {
        named <- followStores
        (stores, fleet) = named
        index <- flags.get("--seed-index").filter(_.nonEmpty)
          .toRight("ERROR: --seed-index needs an index path")
        months <- monthsOpt // MUST equal the follow's scope (seedIndex doc)
      } yield SeedIndex(stores, index, months, fleet)
    else if (flags.contains("--migrate-months"))
      for {
        tablePath <- need("--table-path", "GRAFT_TABLE_PATH")
        spec <- flags.get("--migrate-months").filter(_.nonEmpty)
          .toRight("ERROR: --migrate-months needs a months spec")
        _ <- scala.util.Try(graft.sources.CdcStreamProvider.monthsPredicate(spec))
          .toEither.left.map(e => s"ERROR: ${e.getMessage}")
        from <- flags.get("--from-rollup").filter(_.nonEmpty)
          .toRight("ERROR: --migrate-months needs --from-rollup (the maintained rollup)")
        to <- flags.get("--to-rollup").filter(_.nonEmpty)
          .toRight("ERROR: --migrate-months needs --to-rollup (the new scoped rollup)")
      } yield MigrateMonths(tablePath, from, to, spec)
    else if (switches("--replicate"))
      // the reference's own endpoint contract (trace-converter.py:13-16,
      // 102): CLICKHOUSE_ADDR required, basic auth only when BOTH
      // CLICKHOUSE_USER and CLICKHOUSE_PASS are set
      for {
        named <- followStores
        (stores, fleet) = named
        addr <- need("--addr", "GRAFT_ADDR", "CLICKHOUSE_ADDR")
        db <- need("--db", "GRAFT_DB", "CLICKHOUSE_DB")
        // one receiving table per store — the reference's per-cluster
        // CLICKHOUSE_TABLE deployment; --tables is positional (fleet),
        // --table the single-store form
        tables <-
          if (!fleet)
            need("--table", "GRAFT_TABLE", "CLICKHOUSE_TABLE").map(Seq(_))
          else flags.get("--tables").filter(_.nonEmpty) match {
            case None =>
              Left("ERROR: --replicate with --table-paths needs --tables " +
                "A,B,… (one receiving table per store, positional)")
            case Some(list) =>
              val ts = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
              if (ts.size != stores.size)
                Left(s"ERROR: --tables names ${ts.size} tables for " +
                  s"${stores.size} stores (positional, one per --table-paths entry)")
              else Right(ts)
          }
        ck <-
          if (!fleet)
            Right(opt("--checkpoint", "GRAFT_CHECKPOINT")
              .getOrElse(s"${stores.head}/_replicate-checkpoint"))
          else opt("--checkpoint", "GRAFT_CHECKPOINT").toRight(
            "ERROR: --replicate with --table-paths needs an explicit " +
              "--checkpoint (a fleet checkpoint belongs to no single store)")
        maxFiles <- posIntFlag("--max-files")
        maxBytes <- posLongFlag("--max-bytes")
      } yield {
        val (user, pass) =
          (env.get("CLICKHOUSE_USER").filter(_.nonEmpty),
           env.get("CLICKHOUSE_PASS").filter(_.nonEmpty)) match {
            case (Some(u), Some(p)) => (Some(u), Some(p))
            case _ => (None, None)
          }
        Replicate(stores, tables,
          graft.sources.HttpBulkSink.Config(addr, db, tables.head, user, pass),
          ck, maxFiles, maxBytes, fleet)
      }
    else if (files.nonEmpty)
      for {
        tablePath <- need("--table-path", "GRAFT_TABLE_PATH")
        splits <- intOpt("--splits", 8)
      } yield Convert(files.toSeq, tablePath, splits)
    else Left(s"ERROR: nothing to do\n$Usage")
  }

  /** Parse an `--evolve-schema` operand. The bare `NAME:TYPE` form stays
    * an alias of `add:NAME:TYPE` (pre-round-8 scripts keep working);
    * `drop`/`rename`/`widen` mirror the ClickHouse ALTER family the
    * reference's DDL targets. Splits are LIMIT-2 everywhere a TYPE
    * follows, so nested DDL types that themselves contain `:`
    * (`Meta:struct<a:int,b:string>`, `add:Meta:struct<...>`) parse;
    * only column NAMES are colon-free in both surfaces. */
  def parseEvolveOp(spec: String): Either[String, EvolveOp] = {
    def ddl(t: String): Either[String, org.apache.spark.sql.types.DataType] =
      scala.util.Try(org.apache.spark.sql.types.DataType.fromDDL(t)).toOption
        .toRight(s"ERROR: unknown DDL type '$t' in --evolve-schema")
    def nameType(rest: String): Option[(String, String)] =
      rest.split(":", 2) match {
        case Array(n, t) if n.nonEmpty && t.nonEmpty => Some((n, t))
        case _ => None
      }
    // op keywords are reserved in the legacy NAME:TYPE form — otherwise a
    // malformed `rename:X` would silently parse as "add column 'rename'"
    val reserved = Set("add", "drop", "rename", "widen")
    val fail = Left("ERROR: --evolve-schema needs [add:]NAME:TYPE, drop:NAME, " +
      s"rename:OLD:NEW or widen:NAME:TYPE, got '$spec'")
    spec.split(":", 2).toSeq match {
      case Seq("drop", n) if n.nonEmpty && !n.contains(":") => Right(DropCol(n))
      case Seq("rename", rest) => rest.split(":", -1).toSeq match {
        case Seq(from, to) if from.nonEmpty && to.nonEmpty => Right(RenameCol(from, to))
        case _ => fail
      }
      case Seq("widen", rest) =>
        nameType(rest).fold(fail: Either[String, EvolveOp]) {
          case (n, t) => ddl(t).map(WidenCol(n, _)) }
      case Seq("add", rest) =>
        nameType(rest).fold(fail: Either[String, EvolveOp]) {
          case (n, t) => ddl(t).map(AddCol(n, _)) }
      case Seq(n, t) if n.nonEmpty && t.nonEmpty && !reserved(n) => ddl(t).map(AddCol(n, _))
      case _ => fail
    }
  }

  /** Execute a parsed action. `out` receives printable results (stdout in
    * main; a buffer in tests). Spark-needing actions build the session
    * lazily so `--print-schema` stays JVM-cheap like the reference's. */
  def run(action: Action, out: String => Unit,
          session: () => SparkSession): Unit = action match {
    case PrintSchema(table) =>
      out(Ddl.clickhouse(table))
    case CreateSchema(db, table, location) =>
      Ddl.createSchema(session(), db, table, location)
      out(s"created schema $db.$table")
    case Convert(files, tablePath, splits) =>
      val spark = session()
      files.foreach { f =>
        // one file = one commit, the reference's insert unit
        // (trace-converter.py:66-72): a crash mid-run re-converts only
        // the files after the last committed one
        val batch = ingest.TraceIngest.normalize(
          ingest.TraceIngest.readRaw(spark, f))
        store.TraceStore.append(batch, tablePath, splits)
        out(s"converted $f")
      }
    case Maintain(tablePath, dropBefore, compactOver, splits, retain, thin) =>
      // retention first: a dropped month must not be compacted first
      dropBefore.foreach { cutoff =>
        val dropped = store.TraceStore.dropPartitionsBefore(tablePath, cutoff)
        out(s"dropped ${dropped.size} months${
          if (dropped.nonEmpty) dropped.mkString(": ", ", ", "") else ""}")
      }
      retain.foreach { n =>
        val dropped = store.TraceStore.retainLastMonths(tablePath, n)
        out(s"retained newest $n months; dropped ${dropped.size}${
          if (dropped.nonEmpty) dropped.mkString(": ", ", ", "") else ""}")
      }
      // thinning before compaction: a thinned month is immediately
      // re-laid-out by the compact below if it crossed the threshold
      thin.foreach { case (n, k) =>
        val thinned = store.TraceStore.thinExpired(session(), tablePath, n, k, splits)
        out(s"thinned ${thinned.size} months to 1-in-$k${
          if (thinned.nonEmpty) thinned.mkString(": ", ", ", "") else ""}")
      }
      val compacted = store.TraceStore.compact(session(), tablePath, compactOver, splits)
      out(s"compacted ${compacted.size} months${
        if (compacted.nonEmpty) compacted.mkString(": ", ", ", "") else ""}")
    case Snapshot(tablePath) =>
      out(s"snapshot ${store.TraceStore.snapshot(tablePath)}")
    case ListSnapshots(tablePath) =>
      // annotate capture time (the feed's _commit_ts) and owned ids (a
      // CDC stream's live offset pins) so cleanup advice can't point
      // --drop-snapshot at a pin a stream depends on
      val owners = store.TraceStore.snapshotOwners(tablePath)
      store.TraceStore.listSnapshots(tablePath) match {
        case Seq() => out("no snapshots")
        case ids   => ids.foreach { id =>
          // a concurrent stream's commit-GC (or another operator's
          // --drop-snapshot) may drop the manifest between the listing
          // and this stat — skip the vanished id instead of crashing
          // the whole listing mid-print. ONLY the vanished-manifest
          // race is skipped: any other failure (I/O, permissions)
          // surfaces on the id's line instead of silently hiding it
          try {
            val ts = store.TraceStore.snapshotTimestamp(tablePath, id)
              .toInstant.toString
            out(owners.get(id).fold(s"$id\t$ts")(note => s"$id\t$ts\t[$note]"))
          } catch {
            case _: IllegalArgumentException => // require: unknown snapshot
            case _: java.nio.file.NoSuchFileException => // raced stat
            case e: java.io.IOException => out(s"$id\tERROR: ${e.getMessage}")
          }
        }
      }
    case DropSnapshot(tablePath, id) =>
      val existed = store.TraceStore.dropSnapshot(tablePath, id)
      val removed = store.TraceStore.vacuumSnapshots(tablePath)
      out(if (existed) s"dropped $id; vacuumed ${removed.size} retired files"
          else s"no such snapshot $id")
    case ChangesSince(tablePath, id) =>
      // per-month insert/delete counts: the operational summary a CDC
      // consumer checks before pulling the row-level feed itself
      val per = store.TraceStore.readChangesSince(session(), tablePath, id)
        .groupBy(org.apache.spark.sql.functions.col("ym"),
          org.apache.spark.sql.functions.col("_change"))
        .count()
        .orderBy("ym", "_change")
        .collect()
      if (per.isEmpty) out(s"no changes since $id")
      else per.foreach(r =>
        out(s"${r.getString(0)} ${r.getString(1)} ${r.getLong(2)}"))
    case a @ FollowRollup(paths, rollupPath, ck, maxFiles, maxBytes, months, _, _) =>
      // one catch-up pass on the operational cadence: between (never
      // concurrent with) store maintenance, per the CDC reader contract.
      // --table-paths is the FLEET form: one checkpoint maintains the
      // union rollup of every listed store.
      TraceStream.followRollup(session(), a.stores, rollupPath, ck,
        maxFilesPerTrigger = maxFiles, maxBytesPerTrigger = maxBytes,
        months = months).awaitTermination()
      out(s"rollup at $rollupPath caught up with ${paths.mkString(", ")}")
    case a @ FollowIndex(paths, indexPath, ck, maxFiles, maxBytes, _, months, _, _) =>
      TraceStream.followIndex(session(), a.stores, indexPath, ck,
        maxFilesPerTrigger = maxFiles, maxBytesPerTrigger = maxBytes,
        months = months).awaitTermination()
      out(s"index at $indexPath caught up with ${paths.mkString(", ")}")
    case a @ SeedIndex(_, indexPath, months, _) =>
      // corpus-scale bootstrap: pin FIRST (so the follow stream's first
      // diff has an immutable base), then one parallel batch census;
      // --table-paths seeds the FLEET index ((_store, band, bkey) keys)
      val seeded = TraceStream.seedIndex(session(), a.stores, indexPath, months = months)
      seeded.paths.zip(seeded.pins.get).foreach { case (p, pin) => out(s"pinned $pin ($p)") }
      out(s"seeded index at $indexPath from ${seeded.paths.mkString(", ")}")
      out(s"next: --follow-index $indexPath ${storeFlags(seeded)} (drop each pin " +
        "with --drop-snapshot only after its store's offset part reaches a " +
        "complete {\"snapshot\":...} form)")
    case MigrateMonths(tablePath, from, to, spec) =>
      // rolling month scope: quiesce the old maintainer FIRST (drain it
      // to current and stop it) — the seed is only the scoped truth if
      // the old rollup was current at the pin
      val pin = TraceStream.migrateRollupMonths(session(), tablePath, from, to, spec)
      out(s"pinned $pin")
      out(s"seeded scoped rollup at $to from $from (months $spec)")
      out(s"next: --follow-rollup $to --table-path $tablePath --months '$spec' " +
        s"--starting-snapshot $pin --checkpoint <NEW DIR> (a migrated scope " +
        "is a NEW checkpoint; verify against the scoped recompute, then " +
        "retire the old rollup/checkpoint and drop the pin with " +
        "--drop-snapshot once the stream's offset passes its first " +
        "complete form)")
    case a @ Replicate(tablePaths, tables, http, ck, maxFiles, maxBytes, _) =>
      TraceStream.replicateChanges(session(), a.stores, http, ck,
        maxFilesPerTrigger = maxFiles, maxBytesPerTrigger = maxBytes,
        tables = tables).awaitTermination()
      out(s"replicated changes of ${tablePaths.mkString(", ")} to ${http.addr}")
    case EvolveSchema(tablePath, op) =>
      val msg = op match {
        case AddCol(name, dtype) =>
          val v = store.TraceStore.evolveSchema(tablePath,
            org.apache.spark.sql.types.StructField(name, dtype, nullable = true))
          s"evolved schema to v$v: added $name ${dtype.sql} (nullable)"
        case DropCol(name) =>
          val v = store.TraceStore.dropColumn(tablePath, name)
          s"evolved schema to v$v: dropped $name"
        case RenameCol(from, to) =>
          val v = store.TraceStore.renameColumn(tablePath, from, to)
          s"evolved schema to v$v: renamed $from -> $to"
        case WidenCol(name, dtype) =>
          val v = store.TraceStore.widenColumn(tablePath, name, dtype)
          s"evolved schema to v$v: widened $name to ${dtype.sql}"
      }
      out(msg)
    case Watch(cfg, schema, sentinel) =>
      val spark = session()
      schema.foreach { case (db, t) =>
        Ddl.createSchema(spark, db, t, Some(cfg.tablePath))
        out(s"created schema $db.$t")
      }
      out(s"watching logs in ${cfg.watchDir}")
      val q = TraceStream.start(spark, cfg)
      sentinel match {
        case Some(s) =>
          TraceStream.runUntilSentinel(q, java.nio.file.Paths.get(s))
          out(s"NOTE: found completion file; exiting...")
        case None => q.awaitTermination()
      }
  }

  /** The CLI flags that name `stores` and their pins: the seed's
    * handoff to `--follow-index`. */
  private def storeFlags(stores: TraceStream.Stores): String = {
    val s = if (stores.fleet) "s" else ""
    s"--table-path$s ${stores.paths.mkString(",")}" +
      stores.pins.fold("")(ps => s" --starting-snapshot$s ${ps.mkString(",")}")
  }

  private def defaultSession(): SparkSession = {
    val b = SparkSession.builder().appName("graft")
    // spark-submit/cluster managers set spark.master; standalone local
    // invocation falls back to every core of the machine
    val withMaster =
      if (sys.props.contains("spark.master")) b else b.master("local[*]")
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit =
    parse(args.toSeq, sys.env) match {
      case Left(err) =>
        System.err.println(err)
        sys.exit(1)
      case Right(action) =>
        run(action, println(_), () => defaultSession())
    }
}
