package graft

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.store.TraceStore
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** CLI dispatch contract: parse() is pure (args + env → action), so every
  * flag/env/precedence rule pins down without a SparkSession; the two
  * store-touching modes get one Spark end-to-end each. */
class MainParseSpec extends AnyFunSuite {
  private val noEnv = Map.empty[String, String]

  test("--print-schema takes the table from flag, then env (flag wins)") {
    assert(Main.parse(Seq("--print-schema", "--table", "t1"), noEnv) ==
      Right(Main.PrintSchema("t1")))
    assert(Main.parse(Seq("--print-schema"), Map("CLICKHOUSE_TABLE" -> "c1")) ==
      Right(Main.PrintSchema("c1")))
    assert(Main.parse(Seq("--print-schema"), Map("GRAFT_TABLE" -> "g1",
      "CLICKHOUSE_TABLE" -> "c1")) == Right(Main.PrintSchema("g1")))
    assert(Main.parse(Seq("--print-schema", "--table", "t1"),
      Map("CLICKHOUSE_TABLE" -> "c1")) == Right(Main.PrintSchema("t1")))
  }

  test("missing required settings fail with an entrypoint-style ERROR line") {
    val e = Main.parse(Seq("--print-schema"), noEnv)
    assert(e.isLeft && e.swap.exists(m => m.startsWith("ERROR:") && m.contains("must be set!")))
    val e2 = Main.parse(Seq("--create-schema", "--table", "t"), noEnv)
    assert(e2.isLeft && e2.swap.exists(_.contains("--db")))
    val e3 = Main.parse(Seq("--watch"), noEnv)
    assert(e3.isLeft && e3.swap.exists(_.contains("--table-path")))
    val e4 = Main.parse(Seq("a.json"), noEnv)
    assert(e4.isLeft && e4.swap.exists(_.contains("--table-path")))
  }

  test("--create-schema resolves db/table from the reference env names") {
    assert(Main.parse(Seq("--create-schema"),
      Map("CLICKHOUSE_DB" -> "fdb", "CLICKHOUSE_TABLE" -> "traces")) ==
      Right(Main.CreateSchema("fdb", "traces", None)))
  }

  test("--watch maps flags and env onto the stream config") {
    val got = Main.parse(
      Seq("--watch", "--table-path", "/t", "--delete-logs", "--max-files", "7"),
      Map("LOG_DIR" -> "/var/logs", "WATCH_COMPLETION_FILE" -> "sim-completed"))
    got match {
      case Right(Main.Watch(cfg, schema, sentinel)) =>
        assert(cfg.watchDir == "/var/logs")
        assert(cfg.tablePath == "/t")
        assert(cfg.checkpointDir == "/t/_checkpoint")   // derived default
        assert(cfg.deleteOnSuccess)
        assert(cfg.maxFilesPerTrigger == 7)
        assert(schema.isEmpty)                           // no db/table given
        assert(sentinel.contains("/var/logs/sim-completed"))
      case other => fail(s"unexpected: $other")
    }
    // defaults: /logs watch dir, no sentinel, schema when db+table present
    Main.parse(Seq("--watch", "--table-path", "/t", "--db", "d", "--table", "x"),
      noEnv) match {
      case Right(Main.Watch(cfg, schema, sentinel)) =>
        assert(cfg.watchDir == "/logs" && !cfg.deleteOnSuccess)
        assert(schema.contains(("d", "x")) && sentinel.isEmpty)
      case other => fail(s"unexpected: $other")
    }
  }

  test("--maintain maps cutoff/threshold flags and validates the cutoff") {
    assert(Main.parse(Seq("--maintain", "--table-path", "/t"), noEnv) ==
      Right(Main.Maintain("/t", None, 16, 4)))
    assert(Main.parse(Seq("--maintain", "--table-path", "/t",
      "--drop-before", "202401", "--compact-over", "8", "--splits", "2"), noEnv) ==
      Right(Main.Maintain("/t", Some("202401"), 8, 2)))
    val bad = Main.parse(Seq("--maintain", "--table-path", "/t",
      "--drop-before", "2024-01"), noEnv)
    assert(bad.isLeft && bad.swap.exists(_.contains("YYYYMM")))
    assert(Main.parse(Seq("--maintain"), noEnv).isLeft)
    // relative retention: data-time TTL window
    assert(Main.parse(Seq("--maintain", "--table-path", "/t",
      "--retain-months", "6"), noEnv) ==
      Right(Main.Maintain("/t", None, 16, 4, Some(6))))
    assert(Main.parse(Seq("--maintain", "--table-path", "/t",
      "--retain-months", "0"), noEnv).isLeft)
    // downsampling TTL: both thin flags or neither
    assert(Main.parse(Seq("--maintain", "--table-path", "/t",
      "--thin-keep-months", "3", "--thin-factor", "10"), noEnv) ==
      Right(Main.Maintain("/t", None, 16, 4, None, Some((3, 10)))))
    val half = Main.parse(Seq("--maintain", "--table-path", "/t",
      "--thin-factor", "10"), noEnv)
    assert(half.isLeft && half.swap.exists(_.contains("together")))
    assert(Main.parse(Seq("--maintain", "--table-path", "/t",
      "--thin-keep-months", "3", "--thin-factor", "0"), noEnv).isLeft)
  }

  test("--watch wires the maintenance cadence and validates its flags") {
    Main.parse(Seq("--watch", "--table-path", "/t",
      "--compact-every", "32", "--retain-months", "12", "--compact-over", "8"),
      noEnv) match {
      case Right(Main.Watch(cfg, _, _)) =>
        assert(cfg.compactEveryBatches.contains(32))
        assert(cfg.retainMonths.contains(12) && cfg.compactOver == 8)
      case other => fail(s"unexpected: $other")
    }
    // retention without a cadence has nothing to run on — reject loudly
    val orphaned = Main.parse(Seq("--watch", "--table-path", "/t",
      "--retain-months", "12"), noEnv)
    assert(orphaned.isLeft && orphaned.swap.exists(_.contains("--compact-every")))
    assert(Main.parse(Seq("--watch", "--table-path", "/t",
      "--compact-every", "-1"), noEnv).isLeft)
  }

  test("snapshot modes parse, validate ids, and are mutually exclusive") {
    assert(Main.parse(Seq("--snapshot", "--table-path", "/t"), noEnv) ==
      Right(Main.Snapshot("/t")))
    assert(Main.parse(Seq("--list-snapshots", "--table-path", "/t"), noEnv) ==
      Right(Main.ListSnapshots("/t")))
    assert(Main.parse(Seq("--drop-snapshot", "s000002", "--table-path", "/t"), noEnv) ==
      Right(Main.DropSnapshot("/t", "s000002")))
    assert(Main.parse(Seq("--snapshot"), noEnv).isLeft)           // needs path
    val badId = Main.parse(Seq("--drop-snapshot", "nope", "--table-path", "/t"), noEnv)
    assert(badId.isLeft && badId.swap.exists(_.contains("s000001")))
    assert(Main.parse(Seq("--snapshot", "--maintain", "--table-path", "/t"), noEnv)
      .swap.exists(_.contains("pick one mode")))
    assert(Main.parse(Seq("--drop-snapshot", "s000001", "--list-snapshots",
      "--table-path", "/t"), noEnv).swap.exists(_.contains("pick one mode")))
    // the change feed: same id validation, same mode exclusivity
    assert(Main.parse(Seq("--changes-since", "s000003", "--table-path", "/t"), noEnv) ==
      Right(Main.ChangesSince("/t", "s000003")))
    val badFeedId = Main.parse(Seq("--changes-since", "nope", "--table-path", "/t"), noEnv)
    assert(badFeedId.isLeft && badFeedId.swap.exists(_.contains("s000001")))
    assert(Main.parse(Seq("--changes-since", "s000001", "--snapshot",
      "--table-path", "/t"), noEnv).swap.exists(_.contains("pick one mode")))
    // CDC-driven rollup catch-up: path + checkpoint default, exclusivity
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-path", "/t"), noEnv) ==
      Right(Main.FollowRollup(Seq("/t"), "/r", "/r/_checkpoint")))
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-path", "/t",
      "--checkpoint", "/ck"), noEnv) ==
      Right(Main.FollowRollup(Seq("/t"), "/r", "/ck")))
    // admission knobs ride through; both budgets compose at the source
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-path", "/t",
      "--max-files", "8", "--max-bytes", "4194304"), noEnv) ==
      Right(Main.FollowRollup(Seq("/t"), "/r", "/r/_checkpoint",
        Some(8), Some(4194304L))))
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-path", "/t",
      "--max-bytes", "no"), noEnv).swap.exists(_.contains("--max-bytes")))
    assert(Main.parse(Seq("--follow-rollup", "/r"), noEnv).isLeft) // needs path
    assert(Main.parse(Seq("--follow-rollup", "/r", "--snapshot",
      "--table-path", "/t"), noEnv).swap.exists(_.contains("pick one mode")))
    // index family: same contract as the rollup family
    assert(Main.parse(Seq("--follow-index", "/i", "--table-path", "/t"), noEnv) ==
      Right(Main.FollowIndex(Seq("/t"), "/i", "/i/_checkpoint")))
    assert(Main.parse(Seq("--follow-index", "/i", "--table-path", "/t",
      "--max-files", "8"), noEnv) ==
      Right(Main.FollowIndex(Seq("/t"), "/i", "/i/_checkpoint", Some(8))))
    assert(Main.parse(Seq("--follow-index", "/i"), noEnv).isLeft) // needs path
    assert(Main.parse(Seq("--follow-index", "/i", "--follow-rollup", "/r",
      "--table-path", "/t"), noEnv).swap.exists(_.contains("pick one mode")))
  }

  test("--replicate resolves the reference's endpoint contract from flags and env") {
    import graft.sources.HttpBulkSink
    // flag form, no creds
    assert(Main.parse(Seq("--replicate", "--table-path", "/t", "--addr",
      "http://ch:8123", "--db", "fdb", "--table", "trace"), noEnv) ==
      Right(Main.Replicate(Seq("/t"), Seq("trace"),
        HttpBulkSink.Config("http://ch:8123", "fdb", "trace", None, None),
        "/t/_replicate-checkpoint", None)))
    // the reference's env names carry everything; creds only as a PAIR
    // (trace-converter.py:13-14)
    val env = Map("CLICKHOUSE_ADDR" -> "http://ch:8123", "CLICKHOUSE_DB" -> "fdb",
      "CLICKHOUSE_TABLE" -> "trace", "CLICKHOUSE_USER" -> "u",
      "CLICKHOUSE_PASS" -> "p", "GRAFT_TABLE_PATH" -> "/t")
    assert(Main.parse(Seq("--replicate", "--max-files", "8", "--max-bytes",
      "1048576"), env) ==
      Right(Main.Replicate(Seq("/t"), Seq("trace"),
        HttpBulkSink.Config("http://ch:8123", "fdb", "trace", Some("u"), Some("p")),
        "/t/_replicate-checkpoint", Some(8), Some(1048576L))))
    assert(Main.parse(Seq("--replicate"), env - "CLICKHOUSE_ADDR").isLeft)
    // a lone user (no pass) posts unauthenticated, like the reference
    Main.parse(Seq("--replicate"), env - "CLICKHOUSE_PASS") match {
      case Right(Main.Replicate(_, _, cfg, _, _, _, _)) =>
        assert(cfg.user.isEmpty && cfg.pass.isEmpty)
      case other => fail(other.toString)
    }
    assert(Main.parse(Seq("--replicate", "--snapshot"), env)
      .swap.exists(_.contains("pick one mode")))
    // the FLEET form: positional --tables, explicit checkpoint required
    assert(Main.parse(Seq("--replicate", "--table-paths", "/a,/b",
      "--tables", "ta,tb", "--checkpoint", "/ck", "--addr", "http://ch:8123",
      "--db", "fdb"), noEnv) ==
      Right(Main.Replicate(Seq("/a", "/b"), Seq("ta", "tb"),
        HttpBulkSink.Config("http://ch:8123", "fdb", "ta", None, None),
        "/ck", None, fleet = true)))
    assert(Main.parse(Seq("--replicate", "--table-paths", "/a,/b",
      "--tables", "ta", "--checkpoint", "/ck", "--addr", "http://ch:8123",
      "--db", "fdb"), noEnv).swap.exists(_.contains("positional")))
    assert(Main.parse(Seq("--replicate", "--table-paths", "/a,/b",
      "--checkpoint", "/ck", "--addr", "http://ch:8123", "--db", "fdb"),
      noEnv).swap.exists(_.contains("--tables")))
    assert(Main.parse(Seq("--replicate", "--table-paths", "/a,/b",
      "--tables", "ta,tb", "--addr", "http://ch:8123", "--db", "fdb"),
      noEnv).swap.exists(_.contains("--checkpoint")))
  }

  test("--evolve-schema parses NAME:TYPE, validates, and runs metadata-only") {
    assert(Main.parse(Seq("--evolve-schema", "Region:string", "--table-path", "/t"), noEnv) ==
      Right(Main.EvolveSchema("/t", Main.AddCol("Region",
        org.apache.spark.sql.types.StringType))))
    assert(Main.parse(Seq("--evolve-schema", "Region"), noEnv).isLeft)      // no type
    assert(Main.parse(Seq("--evolve-schema", "R:nosuch", "--table-path", "/t"), noEnv)
      .swap.exists(_.contains("unknown DDL type")))
    assert(Main.parse(Seq("--evolve-schema", "R:string", "--snapshot",
      "--table-path", "/t"), noEnv).swap.exists(_.contains("pick one mode")))
  }

  test("--evolve-schema parses the drop/rename/widen ALTER family") {
    assert(Main.parse(Seq("--evolve-schema", "add:Region:string", "--table-path", "/t"), noEnv) ==
      Right(Main.EvolveSchema("/t", Main.AddCol("Region",
        org.apache.spark.sql.types.StringType))))
    assert(Main.parse(Seq("--evolve-schema", "drop:Region", "--table-path", "/t"), noEnv) ==
      Right(Main.EvolveSchema("/t", Main.DropCol("Region"))))
    assert(Main.parse(Seq("--evolve-schema", "rename:Region:Zone", "--table-path", "/t"), noEnv) ==
      Right(Main.EvolveSchema("/t", Main.RenameCol("Region", "Zone"))))
    assert(Main.parse(Seq("--evolve-schema", "widen:Score:bigint", "--table-path", "/t"), noEnv) ==
      Right(Main.EvolveSchema("/t", Main.WidenCol("Score",
        org.apache.spark.sql.types.LongType))))
    // malformed operands fail loudly, never silently become an add
    assert(Main.parse(Seq("--evolve-schema", "drop:", "--table-path", "/t"), noEnv).isLeft)
    assert(Main.parse(Seq("--evolve-schema", "rename:OnlyOld", "--table-path", "/t"), noEnv)
      .swap.exists(_.contains("rename:OLD:NEW")))
    assert(Main.parse(Seq("--evolve-schema", "widen:Score:nosuch", "--table-path", "/t"), noEnv)
      .swap.exists(_.contains("unknown DDL type")))
  }

  test("--evolve-schema accepts colon-bearing nested DDL types") {
    // the TYPE tail may itself contain ':' (struct/map DDL) — the split
    // is limit-2 past the name, in both the legacy and add:/widen: forms
    val nested = org.apache.spark.sql.types.DataType
      .fromDDL("struct<a:int,b:string>")
    assert(Main.parseEvolveOp("Meta:struct<a:int,b:string>") ==
      Right(Main.AddCol("Meta", nested)))
    assert(Main.parseEvolveOp("add:Meta:struct<a:int,b:string>") ==
      Right(Main.AddCol("Meta", nested)))
    assert(Main.parseEvolveOp("widen:Meta:struct<a:int,b:string>") ==
      Right(Main.WidenCol("Meta", nested)))
    assert(Main.parseEvolveOp("Tags:map<string,array<int>>") ==
      Right(Main.AddCol("Tags",
        org.apache.spark.sql.types.DataType.fromDDL("map<string,array<int>>"))))
    // rename still rejects a third segment (names are colon-free)
    assert(Main.parseEvolveOp("rename:a:b:c").isLeft)
    assert(Main.parseEvolveOp("drop:a:b").isLeft)
  }

  test("positional json files become a one-shot convert") {
    assert(Main.parse(Seq("a.json", "b.json", "--table-path", "/t"), noEnv) ==
      Right(Main.Convert(Seq("a.json", "b.json"), "/t", 8)))
  }

  test("bad input fails loudly: unknown flag, mode conflict, non-int, no-op") {
    assert(Main.parse(Seq("--frobnicate"), noEnv).isLeft)
    assert(Main.parse(Seq("--print-schema", "--watch", "--table", "t"), noEnv).isLeft)
    assert(Main.parse(Seq("--watch", "--table-path", "/t", "--max-files", "x"),
      noEnv).isLeft)
    assert(Main.parse(Seq.empty, noEnv).isLeft)
  }

  test("--print-schema emits the golden ClickHouse DDL (the reference's output)") {
    val out = new StringBuilder
    Main.run(Main.PrintSchema("cluster01"), s => out.append(s),
      () => fail("print-schema must not build a SparkSession"))
    assert(out.toString == graft.schema.Ddl.clickhouse("cluster01"))
    assert(out.toString.startsWith("CREATE TABLE IF NOT EXISTS `cluster01`"))
    assert(out.toString.contains("ENGINE = MergeTree()"))
  }

  test("--migrate-months parses with --from-rollup/--to-rollup and validates the spec") {
    assert(Main.parse(Seq("--migrate-months", ">=201906", "--table-path", "/t",
      "--from-rollup", "/r1", "--to-rollup", "/r2"), noEnv) ==
      Right(Main.MigrateMonths("/t", "/r1", "/r2", ">=201906")))
    assert(Main.parse(Seq("--migrate-months", ">=201906", "--table-path", "/t",
      "--to-rollup", "/r2"), noEnv).swap.exists(_.contains("--from-rollup")))
    assert(Main.parse(Seq("--migrate-months", ">=201906", "--table-path", "/t",
      "--from-rollup", "/r1"), noEnv).swap.exists(_.contains("--to-rollup")))
    assert(Main.parse(Seq("--migrate-months", "banana", "--table-path", "/t",
      "--from-rollup", "/r1", "--to-rollup", "/r2"), noEnv)
      .swap.exists(_.contains("months")))
    assert(Main.parse(Seq("--migrate-months", ">=201906", "--follow-rollup", "/r",
      "--table-path", "/t", "--from-rollup", "/r1", "--to-rollup", "/r2"), noEnv)
      .swap.exists(_.contains("pick one mode")))
    // the migration handoff: --follow-rollup accepts --starting-snapshot
    // (single store only)
    assert(Main.parse(Seq("--follow-rollup", "/r2", "--table-path", "/t",
      "--months", ">=201906", "--starting-snapshot", "s000004"), noEnv) ==
      Right(Main.FollowRollup(Seq("/t"), "/r2", "/r2/_checkpoint",
        None, None, Some(">=201906"), Some("s000004"))))
    assert(Main.parse(Seq("--follow-rollup", "/r2", "--table-paths", "/a,/b",
      "--starting-snapshot", "s000004"), noEnv).swap.exists(_.contains("single-store")))
    // seed-index forwards the scope so a seeded base can match a scoped follow
    assert(Main.parse(Seq("--seed-index", "/i", "--table-path", "/t",
      "--months", ">=201906"), noEnv) ==
      Right(Main.SeedIndex(Seq("/t"), "/i", Some(">=201906"))))
  }
}

/** Spark end-to-ends for the store-touching CLI modes. */
class MainRunSpec extends SparkSpec {

  private def writeTrace(dir: String, name: String, t0: Long, n: Int): Unit = {
    val lines = (0 until n).map { i =>
      s"""{"Severity": 10, "Machine": "127.0.0.1:4500", "LogGroup": "default", "Time": ${t0 + i}.25, "Type": "Role", "ID": "id$i"}"""
    }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)
  }

  test("one-shot convert lands each file as a committed store append") {
    val in = tmpDir("cli-in"); val table = tmpDir("cli-table")
    writeTrace(in, "trace.1.json", 1557761852L, 4)
    writeTrace(in, "trace.2.json", 1557761900L, 3)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(
      Main.Convert(Seq(s"$in/trace.1.json", s"$in/trace.2.json"), table, 2),
      out.append(_), () => spark)
    assert(TraceStore.read(spark, table).count() == 7)
    assert(out.count(_.startsWith("converted ")) == 2)
  }

  test("maintain mode drops old months then compacts the rest") {
    val in = tmpDir("cli-m-in"); val table = tmpDir("cli-m-table")
    writeTrace(in, "old.json", 1557761852L, 3)   // 2019-05
    writeTrace(in, "new.json", 1561000000L, 4)   // 2019-06
    (1 to 3).foreach { i =>
      Main.run(Main.Convert(Seq(s"$in/old.json", s"$in/new.json"), table, 1),
        _ => (), () => spark)
    }
    assert(TraceStore.read(spark, table).count() == 21)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.Maintain(table, Some("201906"), 2, 1), out.append(_), () => spark)
    val left = TraceStore.read(spark, table)
    assert(left.count() == 12)                     // May gone, June intact
    assert(!new java.io.File(s"$table/ym=201905").exists())
    assert(out.exists(_.startsWith("dropped 1 months: 201905")))
    assert(out.exists(_.startsWith("compacted 1 months: 201906")))
    assert(new java.io.File(s"$table/ym=201906").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
  }

  test("snapshot lifecycle through the CLI: pin, list, survive maintenance, drop") {
    val in = tmpDir("cli-s-in"); val table = tmpDir("cli-s-table")
    writeTrace(in, "a.json", 1557761852L, 3)
    (1 to 3).foreach { _ =>
      Main.run(Main.Convert(Seq(s"$in/a.json"), table, 1), _ => (), () => spark)
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.Snapshot(table), out.append(_), () => spark)
    val id = out.last.stripPrefix("snapshot ")
    assert(id.matches("s\\d{6}"), out.last)
    Main.run(Main.ListSnapshots(table), out.append(_), () => spark)
    // id<TAB>capture-time (ISO instant); user pins carry no owner note
    assert(out.last.startsWith(s"$id\t"), out.last)
    assert(out.last.split("\t")(1).endsWith("Z") && !out.last.contains("["), out.last)
    Main.run(Main.Maintain(table, None, 1, 1), _ => (), () => spark) // compacts
    assert(TraceStore.readSnapshot(spark, table, id).count() == 9)
    Main.run(Main.DropSnapshot(table, id), out.append(_), () => spark)
    assert(out.last.startsWith(s"dropped $id"))
    assert(!Files.exists(Paths.get(table).resolve("_retired")))
    Main.run(Main.DropSnapshot(table, id), out.append(_), () => spark)
    assert(out.last == s"no such snapshot $id")
  }

  test("change feed through the CLI: per-month insert/delete counts across maintenance") {
    val in = tmpDir("cli-cf-in"); val table = tmpDir("cli-cf-table")
    writeTrace(in, "a.json", 1557761852L, 3)   // 201905
    Main.run(Main.Convert(Seq(s"$in/a.json"), table, 1), _ => (), () => spark)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.Snapshot(table), out.append(_), () => spark)
    val id = out.last.stripPrefix("snapshot ")
    Main.run(Main.ChangesSince(table, id), out.append(_), () => spark)
    assert(out.last == s"no changes since $id")
    // append a second batch, then a compaction (a rewrite the feed must
    // see through), then ask again
    writeTrace(in, "b.json", 1557761900L, 2)   // 201905 too
    Main.run(Main.Convert(Seq(s"$in/b.json"), table, 1), _ => (), () => spark)
    Main.run(Main.Maintain(table, None, 1, 1), _ => (), () => spark) // compacts
    Main.run(Main.ChangesSince(table, id), out.append(_), () => spark)
    assert(out.last == "201905 insert 2", out.mkString("; "))
  }

  test("--follow-rollup catches the rollup up with the store across maintenance") {
    val in = tmpDir("cli-fr-in"); val table = tmpDir("cli-fr-table")
    val roll = tmpDir("cli-fr-roll"); val ck = tmpDir("cli-fr-ck")
    writeTrace(in, "a.json", 1557761852L, 3)   // 201905
    Main.run(Main.Convert(Seq(s"$in/a.json"), table, 1), _ => (), () => spark)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.FollowRollup(Seq(table), roll, ck), out.append(_), () => spark)
    assert(out.last == s"rollup at $roll caught up with $table")
    def rollTotal(): Long =
      graft.streaming.TraceStream.readRollup(spark, roll)
        .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(rollTotal() == 3)
    // more data + a compaction, then a second catch-up run (same
    // checkpoint): the rollup follows, the compaction adds nothing
    writeTrace(in, "b.json", 1557761900L, 2)   // 201905 too
    Main.run(Main.Convert(Seq(s"$in/b.json"), table, 1), _ => (), () => spark)
    Main.run(Main.Maintain(table, None, 1, 1), _ => (), () => spark)
    Main.run(Main.FollowRollup(Seq(table), roll, ck), out.append(_), () => spark)
    assert(rollTotal() == 5)
  }

  test("--follow-rollup with --table-paths maintains the FLEET rollup") {
    val in = tmpDir("cli-ffr-in")
    val a = tmpDir("cli-ffr-a"); val b = tmpDir("cli-ffr-b")
    val roll = tmpDir("cli-ffr-roll"); val ck = tmpDir("cli-ffr-ck")
    writeTrace(in, "a.json", 1557761852L, 3)   // 201905 → store A
    writeTrace(in, "b.json", 1568000000L, 2)   // 201909 → store B
    Main.run(Main.Convert(Seq(s"$in/a.json"), a, 1), _ => (), () => spark)
    Main.run(Main.Convert(Seq(s"$in/b.json"), b, 1), _ => (), () => spark)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.FollowRollup(Seq(a, b), roll, ck, fleet = true), out.append(_), () => spark)
    assert(out.last == s"rollup at $roll caught up with $a, $b")
    def byYm(): Map[String, Long] =
      graft.streaming.TraceStream.readRollup(spark, roll)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byYm() == Map("201905" -> 3L, "201909" -> 2L))
    // one store's growth + the other untouched, second catch-up pass
    writeTrace(in, "b2.json", 1568000100L, 4)
    Main.run(Main.Convert(Seq(s"$in/b2.json"), b, 1), _ => (), () => spark)
    Main.run(Main.FollowRollup(Seq(a, b), roll, ck, fleet = true), _ => (), () => spark)
    assert(byYm() == Map("201905" -> 3L, "201909" -> 6L))
  }

  test("a one-store --table-paths fleet grows to two on the same checkpoint") {
    val in = tmpDir("cli-f1-in")
    val a = tmpDir("cli-f1-a"); val b = tmpDir("cli-f1-b")
    val roll = tmpDir("cli-f1-roll"); val ck = tmpDir("cli-f1-ck")
    writeTrace(in, "a.json", 1557761852L, 3)   // 201905 → store A
    writeTrace(in, "b.json", 1568000000L, 2)   // 201909 → store B
    Main.run(Main.Convert(Seq(s"$in/a.json"), a, 1), _ => (), () => spark)
    Main.run(Main.Convert(Seq(s"$in/b.json"), b, 1), _ => (), () => spark)
    def follow(paths: String): Unit = Main.parse(Seq("--follow-rollup", roll,
      "--table-paths", paths, "--checkpoint", ck), Map.empty) match {
      case Right(action) => Main.run(action, _ => (), () => spark)
      case Left(err) => fail(err)
    }
    def byYm(): Map[String, Long] =
      graft.streaming.TraceStream.readRollup(spark, roll)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    follow(a)
    assert(byYm() == Map("201905" -> 3L))
    // the checkpoint a fleet of one wrote takes a second store
    follow(s"$a,$b")
    assert(byYm() == Map("201905" -> 3L, "201909" -> 2L))
  }

  test("--follow-index catches the band-bucket index up with the store across maintenance") {
    val in = tmpDir("cli-fi-in"); val table = tmpDir("cli-fi-table")
    val idx = tmpDir("cli-fi-idx"); val ck = tmpDir("cli-fi-ck")
    writeTrace(in, "a.json", 1557761852L, 3)   // 201905
    Main.run(Main.Convert(Seq(s"$in/a.json"), table, 1), _ => (), () => spark)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.FollowIndex(Seq(table), idx, ck), out.append(_), () => spark)
    assert(out.last == s"index at $idx caught up with $table")
    def rebuilt(): Set[(Int, Long, Long)] =
      graft.store.ChangeFeedQuery.bucketRows(TraceStore.read(spark, table))
        .groupBy(org.apache.spark.sql.functions.col("band"),
          org.apache.spark.sql.functions.col("bkey"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def current(): Set[(Int, Long, Long)] =
      graft.streaming.TraceStream.readIndex(spark, idx)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(current() == rebuilt())
    // more data + a compaction, then a second catch-up (same checkpoint)
    writeTrace(in, "b.json", 1557761900L, 2)
    Main.run(Main.Convert(Seq(s"$in/b.json"), table, 1), _ => (), () => spark)
    Main.run(Main.Maintain(table, None, 1, 1), _ => (), () => spark)
    Main.run(Main.FollowIndex(Seq(table), idx, ck), _ => (), () => spark)
    assert(current() == rebuilt())
  }

  test("--table-paths is the fleet flag; --table-path stays one literal path") {
    val noEnv = Map.empty[String, String]
    // fleet parse
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-paths", "/a,/b"), noEnv) ==
      Right(Main.FollowRollup(Seq("/a", "/b"), "/r", "/r/_checkpoint", fleet = true)))
    // the flag, not the count, makes a fleet: one entry is a fleet of one
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-paths", "/a"), noEnv) ==
      Right(Main.FollowRollup(Seq("/a"), "/r", "/r/_checkpoint", fleet = true)))
    // a comma INSIDE --table-path is part of the path, never a fleet
    // split (ADVICE r12: the flag's semantics must not be mode-dependent)
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-path", "/odd,name"), noEnv) ==
      Right(Main.FollowRollup(Seq("/odd,name"), "/r", "/r/_checkpoint")))
    // exclusive, and an empty fleet is named
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-path", "/t",
      "--table-paths", "/a,/b"), noEnv).swap.exists(_.contains("exclusive")))
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-paths", ","), noEnv)
      .swap.exists(_.contains("names no store")))
    // months rides through and validates at parse time
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-path", "/t",
      "--months", ">=201906"), noEnv) ==
      Right(Main.FollowRollup(Seq("/t"), "/r", "/r/_checkpoint",
        None, None, Some(">=201906"))))
    assert(Main.parse(Seq("--follow-rollup", "/r", "--table-path", "/t",
      "--months", "May"), noEnv).swap.exists(_.contains("months")))
    // fleet index + starting-snapshot contracts
    assert(Main.parse(Seq("--follow-index", "/i", "--table-paths", "/a,/b"), noEnv) ==
      Right(Main.FollowIndex(Seq("/a", "/b"), "/i", "/i/_checkpoint", fleet = true)))
    assert(Main.parse(Seq("--follow-index", "/i", "--table-path", "/t",
      "--starting-snapshot", "s000004"), noEnv) ==
      Right(Main.FollowIndex(Seq("/t"), "/i", "/i/_checkpoint",
        None, None, Some("s000004"))))
    assert(Main.parse(Seq("--follow-index", "/i", "--table-path", "/t",
      "--starting-snapshot", "nope"), noEnv).swap.exists(_.contains("s000001")))
    assert(Main.parse(Seq("--follow-index", "/i", "--table-paths", "/a,/b",
      "--starting-snapshot", "s000004"), noEnv).swap.exists(_.contains("per store")))
    // seed-index parse + exclusivity
    assert(Main.parse(Seq("--seed-index", "/i", "--table-path", "/t"), noEnv) ==
      Right(Main.SeedIndex(Seq("/t"), "/i")))
    assert(Main.parse(Seq("--seed-index", "/i"), noEnv).isLeft)
    assert(Main.parse(Seq("--seed-index", "/i", "--follow-index", "/i",
      "--table-path", "/t"), noEnv).swap.exists(_.contains("pick one mode")))
    // fleet seed + fleet handoff pins
    assert(Main.parse(Seq("--seed-index", "/i", "--table-paths", "/a,/b"), noEnv) ==
      Right(Main.SeedIndex(Seq("/a", "/b"), "/i", fleet = true)))
    assert(Main.parse(Seq("--follow-index", "/i", "--table-paths", "/a,/b",
      "--starting-snapshots", "s000001,s000002"), noEnv) ==
      Right(Main.FollowIndex(Seq("/a", "/b"), "/i", "/i/_checkpoint",
        None, None, None, None, Some(Seq("s000001", "s000002")), fleet = true)))
    assert(Main.parse(Seq("--follow-index", "/i", "--table-paths", "/a,/b",
      "--starting-snapshots", "s000001"), noEnv).swap.exists(_.contains("positional")))
    assert(Main.parse(Seq("--follow-index", "/i", "--table-path", "/t",
      "--starting-snapshots", "s000001"), noEnv).swap.exists(_.contains("fleet form")))
    assert(Main.parse(Seq("--follow-index", "/i", "--table-paths", "/a,/b",
      "--starting-snapshots", "s1,nope"), noEnv).swap.exists(_.contains("s000001")))
  }

  test("--seed-index with --table-paths: fleet pin + census + follow handoff equals rebuild") {
    val in = tmpDir("cli-fseed-in")
    val a = tmpDir("cli-fseed-a"); val b = tmpDir("cli-fseed-b")
    val idx = tmpDir("cli-fseed-idx"); val ck = tmpDir("cli-fseed-ck")
    writeTrace(in, "a.json", 1557761852L, 3)
    writeTrace(in, "b.json", 1568000000L, 2)
    Main.run(Main.Convert(Seq(s"$in/a.json"), a, 1), _ => (), () => spark)
    Main.run(Main.Convert(Seq(s"$in/b.json"), b, 1), _ => (), () => spark)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.SeedIndex(Seq(a, b), idx, fleet = true), out.append(_), () => spark)
    val pins = out.filter(_.startsWith("pinned ")).map(_.split(" ")(1)).toSeq
    assert(pins.size == 2, s"one pin per store expected: $out")
    assert(out.exists(_.contains(s"--starting-snapshots ${pins.mkString(",")}")),
      s"the handoff line must name both pins positionally: $out")
    def rebuilt(): Set[(String, Int, Long, Long)] =
      graft.store.ChangeFeedQuery.bucketRows(
        TraceStore.read(spark, a).withColumn("_store",
          org.apache.spark.sql.functions.lit(a))
          .unionByName(TraceStore.read(spark, b).withColumn("_store",
            org.apache.spark.sql.functions.lit(b))),
        carry = Seq("_store"))
        .groupBy(org.apache.spark.sql.functions.col("_store"),
          org.apache.spark.sql.functions.col("band"),
          org.apache.spark.sql.functions.col("bkey"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    def current(): Set[(String, Int, Long, Long)] =
      graft.streaming.TraceStream.readIndex(spark, idx,
        keys = Seq("_store", "band", "bkey"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(current() == rebuilt(), "the fleet seed alone equals both censuses")
    // both stores move; the printed handoff follows from the pins
    writeTrace(in, "a2.json", 1557761900L, 2)
    Main.run(Main.Convert(Seq(s"$in/a2.json"), a, 1), _ => (), () => spark)
    Main.run(Main.FollowIndex(Seq(a, b), idx, ck,
      startingSnapshots = Some(pins), fleet = true), _ => (), () => spark)
    assert(current() == rebuilt(), "CLI fleet seed + follow must equal rebuild")
  }

  test("--seed-index: CLI pin + seed + follow-from-pin equals rebuild") {
    val in = tmpDir("cli-seed-in"); val table = tmpDir("cli-seed-table")
    val idx = tmpDir("cli-seed-idx"); val ck = tmpDir("cli-seed-ck")
    writeTrace(in, "a.json", 1557761852L, 3)
    Main.run(Main.Convert(Seq(s"$in/a.json"), table, 1), _ => (), () => spark)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.SeedIndex(Seq(table), idx), out.append(_), () => spark)
    val pin = out.find(_.startsWith("pinned ")).map(_.split(" ")(1))
      .getOrElse(fail(s"no pin line in $out"))
    assert(out.exists(_.contains(s"--starting-snapshot $pin")),
      s"the handoff line must name the pin: $out")
    def rebuilt(): Set[(Int, Long, Long)] =
      graft.store.ChangeFeedQuery.bucketRows(TraceStore.read(spark, table))
        .groupBy(org.apache.spark.sql.functions.col("band"),
          org.apache.spark.sql.functions.col("bkey"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def current(): Set[(Int, Long, Long)] =
      graft.streaming.TraceStream.readIndex(spark, idx)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(current() == rebuilt(), "the seed alone equals the pinned census")
    // the store moves on; the printed handoff catches the index up from
    // the pin — no streaming bootstrap ever runs
    writeTrace(in, "b.json", 1557761900L, 2)
    Main.run(Main.Convert(Seq(s"$in/b.json"), table, 1), _ => (), () => spark)
    Main.run(Main.FollowIndex(Seq(table), idx, ck, startingSnapshot = Some(pin)),
      _ => (), () => spark)
    assert(current() == rebuilt(), "CLI seed + follow must equal rebuild")
    // re-seeding a live index refuses (it would double-count)
    val ex = intercept[IllegalArgumentException] {
      Main.run(Main.SeedIndex(Seq(table), idx), _ => (), () => spark)
    }
    assert(ex.getMessage.contains("already has parts"))
  }

  test("--migrate-months: scoped seed + scoped follow equals the scoped recompute") {
    val in = tmpDir("cli-mig-in"); val table = tmpDir("cli-mig-table")
    val r1 = tmpDir("cli-mig-r1"); val ck1 = tmpDir("cli-mig-ck1")
    val r2 = tmpDir("cli-mig-r2"); val ck2 = tmpDir("cli-mig-ck2")
    writeTrace(in, "may.json", 1557761852L, 3)   // 2019-05: ages out
    writeTrace(in, "sep.json", 1568000000L, 2)   // 2019-09: stays
    Main.run(Main.Convert(Seq(s"$in/may.json", s"$in/sep.json"), table, 1),
      _ => (), () => spark)
    // the unscoped maintainer, quiesced at current
    Main.run(Main.FollowRollup(Seq(table), r1, ck1), _ => (), () => spark)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.MigrateMonths(table, r1, r2, ">=201906"), out.append(_), () => spark)
    val pin = out.find(_.startsWith("pinned ")).map(_.split(" ")(1))
      .getOrElse(fail(s"no pin line in $out"))
    assert(out.exists(o => o.contains(s"--follow-rollup $r2") &&
      o.contains(s"--starting-snapshot $pin") && o.contains("--months")),
      s"the handoff must name the new rollup, scope, and pin: $out")
    // the store keeps moving under the new scope: one in-scope append
    writeTrace(in, "oct.json", 1570000000L, 2)   // 2019-10: in scope
    Main.run(Main.Convert(Seq(s"$in/oct.json"), table, 1), _ => (), () => spark)
    Main.run(Main.FollowRollup(Seq(table), r2, ck2,
      months = Some(">=201906"), startingSnapshot = Some(pin)), _ => (), () => spark)
    // migrate == recompute: a from-scratch scoped maintainer over the
    // same store must land on the identical table
    val r3 = tmpDir("cli-mig-r3"); val ck3 = tmpDir("cli-mig-ck3")
    Main.run(Main.FollowRollup(Seq(table), r3, ck3,
      months = Some(">=201906")), _ => (), () => spark)
    def state(roll: String): Set[org.apache.spark.sql.Row] =
      graft.streaming.TraceStream.readRollup(spark, roll).collect().toSet
    assert(state(r2) == state(r3),
      s"migrated=${state(r2)} rebuilt=${state(r3)}")
    assert(state(r2).nonEmpty && !state(r2).exists(_.getString(0) == "201905"),
      "the aged-out month must be gone from the migrated rollup")
  }

  test("--follow-rollup resuming a MID-BOOTSTRAP checkpoint catches up in ONE pass") {
    // the CdcStream freeze-a-fresh-pin path (CdcSource.latestOffset's
    // AvailableNow target resolution): a chunked bootstrap interrupted
    // mid-sequence, the store moves on, and the next CLI invocation must
    // finish the in-flight chunk sequence AND deliver the accumulated
    // diff — "caught up" printed with changes undelivered is the
    // regression this pins at the CLI contract level
    val in = tmpDir("cli-frmb-in"); val table = tmpDir("cli-frmb-table")
    val roll = tmpDir("cli-frmb-roll"); val ck = tmpDir("cli-frmb-ck")
    writeTrace(in, "a.json", 1557761852L, 2)   // 201905
    writeTrace(in, "b.json", 1568000000L, 3)   // 201909
    Main.run(Main.Convert(Seq(s"$in/a.json", s"$in/b.json"), table, 1),
      _ => (), () => spark)
    // ONE micro-batch of a maxFiles=1 chunked bootstrap, then stop: the
    // checkpoint is left mid-bootstrap (2 month files, 1 delivered)
    val q = graft.streaming.TraceStream.followRollup(spark, table, roll, ck,
      trigger = org.apache.spark.sql.streaming.Trigger.Once(),
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // the store moves while the follower is down
    writeTrace(in, "c.json", 1577000000L, 4)   // 201912
    Main.run(Main.Convert(Seq(s"$in/c.json"), table, 1), _ => (), () => spark)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.FollowRollup(Seq(table), roll, ck, maxFiles = Some(1)),
      out.append(_), () => spark)
    assert(out.last == s"rollup at $roll caught up with $table")
    val total = graft.streaming.TraceStream.readRollup(spark, roll)
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(total == 9, s"second pass must deliver bootstrap remainder + live diff, got $total")
    // and it really is caught up: a third pass adds nothing
    Main.run(Main.FollowRollup(Seq(table), roll, ck, maxFiles = Some(1)),
      _ => (), () => spark)
    assert(graft.streaming.TraceStream.readRollup(spark, roll)
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0) == 9)
  }

  test("--replicate ships store changes to the HTTP endpoint across maintenance") {
    import java.nio.charset.StandardCharsets
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    srv.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val resp = "ok".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp); ex.close()
    })
    srv.start()
    try {
      val addr = s"http://127.0.0.1:${srv.getAddress.getPort}/"
      val in = tmpDir("cli-rep-in"); val table = tmpDir("cli-rep-table")
      writeTrace(in, "a.json", 1557761852L, 3)   // 201905
      Main.run(Main.Convert(Seq(s"$in/a.json"), table, 1), _ => (), () => spark)
      val action = Main.parse(Seq("--replicate"), Map(
        "GRAFT_TABLE_PATH" -> table, "CLICKHOUSE_ADDR" -> addr,
        "CLICKHOUSE_DB" -> "fdb", "CLICKHOUSE_TABLE" -> "trace"))
        .fold(e => fail(e), identity)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      Main.run(action, out.append(_), () => spark)
      assert(out.last == s"replicated changes of $table to $addr")
      def lines() = bodies.toArray(Array.empty[AnyRef]).map(_.toString)
        .flatMap(_.split("\n")).filter(_.nonEmpty)
      assert(lines().length == 3 && lines().forall(_.contains(""""_sign":1""")))
      // a compaction between runs posts nothing; a new file posts its rows
      Main.run(Main.Maintain(table, None, 1, 1), _ => (), () => spark)
      Main.run(action, _ => (), () => spark)
      assert(lines().length == 3, "maintenance must not reach the wire")
    } finally srv.stop(0)
  }

  test("watch mode creates the schema, drains the log dir, and exits on the sentinel") {
    val watch = tmpDir("cli-watch"); val table = tmpDir("cli-wtable")
    val ckpt = tmpDir("cli-ckpt")
    writeTrace(watch, "trace.1.json", 1557761852L, 5)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cfg = graft.streaming.TraceStream.Config(
      watch, table, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
    // drop the sentinel once the first batch lands, from a helper thread —
    // the run() call itself must block until then
    val t = new Thread(() => {
      val deadline = System.nanoTime() + 60e9.toLong
      while (TraceStore.read(spark, table).count() < 5 &&
             System.nanoTime() < deadline) Thread.sleep(100)
      Files.write(Paths.get(watch, "sim-completed"), Array.empty[Byte])
    })
    t.start()
    try
      Main.run(
        Main.Watch(cfg, Some(("fdbcli", "traces_cli")),
          Some(s"$watch/sim-completed")),
        out.append(_), () => spark)
    finally {
      t.join(70000)
      spark.sql("DROP TABLE IF EXISTS fdbcli.traces_cli")
      spark.sql("DROP DATABASE IF EXISTS fdbcli")
    }
    assert(TraceStore.read(spark, table).count() == 5)
    assert(out.exists(_.startsWith("created schema fdbcli.traces_cli")))
    assert(out.exists(_.startsWith("watching logs in ")))
    assert(out.exists(_.startsWith("NOTE: found completion file")))
  }

  test("watch lifecycle soak: rotated files + mid-stream evolve + sentinel " +
      "(the reference's entrypoint.sh:8-29 in one run)") {
    val watch = tmpDir("cli-soak"); val table = tmpDir("cli-soak-table")
    val ckpt = tmpDir("cli-soak-ckpt")
    writeTrace(watch, "trace.1.json", 1557761852L, 5)    // 2019-05, pre-evolution
    val out = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val cfg = graft.streaming.TraceStream.Config(
      watch, table, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
    // operator thread: once the first rotation has committed, evolve the
    // schema THROUGH THE CLI DISPATCH (a second graft.Main invocation, as
    // an operator would), rotate a second file in, wait for it to land,
    // then drop the completion sentinel
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try {
        val deadline = System.nanoTime() + 120e9.toLong
        def waitFor(n: Long): Unit =
          while (TraceStore.read(spark, table).count() < n &&
                 System.nanoTime() < deadline) Thread.sleep(100)
        waitFor(5)
        Main.run(Main.EvolveSchema(table, Main.AddCol("Region",
          org.apache.spark.sql.types.StringType)), out.add(_), () => spark)
        writeTrace(watch, "trace.2.json", 1561000000L, 4) // 2019-06, post-evolution
        waitFor(9)
        Files.write(Paths.get(watch, "soak-completed"), Array.empty[Byte])
      } catch { case e: Throwable =>
        errs.set(e) // surface helper failures instead of hanging the test
        Files.write(Paths.get(watch, "soak-completed"), Array.empty[Byte])
      }
    })
    t.start()
    try
      Main.run(
        Main.Watch(cfg, Some(("fdbsoak", "traces_soak")), Some(s"$watch/soak-completed")),
        out.add(_), () => spark)
    finally {
      t.join(130000)
      spark.sql("DROP TABLE IF EXISTS fdbsoak.traces_soak")
      spark.sql("DROP DATABASE IF EXISTS fdbsoak")
    }
    assert(errs.get() == null, s"helper thread failed: ${errs.get()}")
    import scala.jdk.CollectionConverters._
    val o = out.asScala
    assert(o.exists(_.startsWith("created schema fdbsoak.traces_soak")))
    assert(o.exists(_.startsWith("evolved schema to v2: added Region")))
    assert(o.exists(_.startsWith("NOTE: found completion file")))
    // final store: both rotations landed, under the evolved schema
    val got = TraceStore.read(spark, table)
    assert(got.count() == 9)
    assert(got.columns.contains("Region"))
    // the stream's post-evolution micro-batch aligned to the evolved
    // schema (null-filled), so EVERY row reads Region as NULL
    assert(got.filter(col("Region").isNull).count() == 9)
    assert(got.filter(col("ym") === "201906").count() == 4)
    // schema version on disk is v2 (base is implicitly v1)
    assert(TraceStore.storedSchema(table).fieldNames.last == "Region")
    assert(graft.store.FsMaint.listDir(Paths.get(table).resolve("_schema"))
      .map(_.getFileName.toString) == Seq("v000002.json"))
  }

  test("--evolve-schema via the CLI: metadata-only, old rows read as NULL") {
    val in = tmpDir("cli-e-in"); val table = tmpDir("cli-e-table")
    writeTrace(in, "trace.json", 1557761852L, 2)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.Convert(Seq(s"$in/trace.json"), table, 1), out.append(_), () => spark)
    Main.run(Main.EvolveSchema(table, Main.AddCol("Region",
      org.apache.spark.sql.types.StringType)), out.append(_), () => spark)
    assert(out.exists(_.startsWith("evolved schema to v2")))
    val got = TraceStore.read(spark, table)
    assert(got.columns.contains("Region") && got.filter(col("Region").isNull).count() == 2)
  }

  test("--evolve-schema rename/widen/drop via the CLI round-trip") {
    val in = tmpDir("cli-e2-in"); val table = tmpDir("cli-e2-table")
    writeTrace(in, "trace.json", 1557761852L, 2)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Main.run(Main.Convert(Seq(s"$in/trace.json"), table, 1), out.append(_), () => spark)
    Main.run(Main.EvolveSchema(table, Main.AddCol("Score",
      org.apache.spark.sql.types.IntegerType)), out.append(_), () => spark)
    Main.run(Main.EvolveSchema(table, Main.WidenCol("Score",
      org.apache.spark.sql.types.LongType)), out.append(_), () => spark)
    Main.run(Main.EvolveSchema(table, Main.RenameCol("Score", "Pts")),
      out.append(_), () => spark)
    assert(out.exists(_.startsWith("evolved schema to v3: widened Score")))
    assert(out.exists(_.startsWith("evolved schema to v4: renamed Score -> Pts")))
    val got = TraceStore.read(spark, table)
    assert(got.columns.contains("Pts") && !got.columns.contains("Score"))
    assert(got.schema("Pts").dataType == org.apache.spark.sql.types.LongType)
    Main.run(Main.EvolveSchema(table, Main.DropCol("Pts")), out.append(_), () => spark)
    assert(out.exists(_.startsWith("evolved schema to v5: dropped Pts")))
    assert(!TraceStore.read(spark, table).columns.contains("Pts"))
  }
}
