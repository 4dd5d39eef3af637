package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.store.TraceStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Model check for the `graft-cdc` source: across a RANDOMIZED store
  * lifecycle (appends, DELETE WHEREs, compactions, month retention in
  * arbitrary order — including re-appending into a retained-away month)
  * drained under RANDOMIZED admission control (unchunked, file-budget,
  * byte-budget per drain), the signed accumulation of every delivered
  * micro-batch must reconstruct the store's final content EXACTLY —
  * the streaming completion of `SnapshotModelSpec`'s batch-feed model
  * check. Fixed seed: failures reproduce. */
class CdcStreamModelSpec extends SparkSpec {

  private def mk(rows: Seq[(Int, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (sev, m, ty, t) =>
      (sev, m, "default", Timestamp.valueOf(t), ty, s"id$sev")
    }.toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID")
  }

  test("randomized lifecycle × randomized admission: the signed feed reconstructs the table") {
    // fixed default seed (deterministic CI); soak runs override it:
    //   GRAFT_CDC_MODEL_SEED=n sbt "testOnly graft.streaming.CdcStreamModelSpec"
    val seed = sys.env.get("GRAFT_CDC_MODEL_SEED").map(_.toLong).getOrElse(20260816L)
    info(s"model seed = $seed")
    val rnd = new scala.util.Random(seed)
    val store = tmpDir("cdcmodel"); val ck = tmpDir("cdcmodel-ck")

    // signed multiset accumulation of every delivered batch
    val acc = scala.collection.mutable.Map[(Int, String, String), Long]()
      .withDefaultValue(0L)
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      df.select("Severity", "Machine", "Type", "_change").collect().foreach {
        (r: Row) =>
          val k = (r.getInt(0), r.getString(1), r.getString(2))
          val d = if (r.getString(3) == "insert") 1L else -1L
          if (acc(k) + d == 0L) acc.remove(k) else acc(k) += d
      }
      ()
    }
    def drain(): Unit = {
      val reader = spark.readStream.format("graft-cdc")
        .option("path", store).option("initialLoad", "true")
      // randomized admission per drain: the offsets in ONE shared
      // checkpoint mix unchunked, file-budgeted, and byte-budgeted
      // epochs — chunk-boundary replay must stay exact through all
      rnd.nextInt(3) match {
        case 0 =>
        case 1 => reader.option("maxFilesPerTrigger", (1 + rnd.nextInt(3)).toString)
        case 2 => reader.option("maxBytesPerTrigger",
          if (rnd.nextBoolean()) "1" else (64L * 1024).toString)
      }
      val q = reader.load()
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
      q.awaitTermination()
    }

    var sev = 0
    def randRows(n: Int): Seq[(Int, String, String, String)] =
      (1 to n).map { _ =>
        sev += 1
        (sev, s"m${rnd.nextInt(4)}",
          if (rnd.nextBoolean()) "ok" else "bad",
          f"2019-0${5 + rnd.nextInt(3)}%d-1${rnd.nextInt(9)}%d 10:00:00")
      }

    TraceStore.append(mk(randRows(6)), store, splitsPerMonth = 2)
    drain() // bootstrap

    (1 to 18).foreach { _ =>
      rnd.nextInt(7) match {
        case 0 | 1 | 2 =>
          TraceStore.append(mk(randRows(1 + rnd.nextInt(5))), store,
            splitsPerMonth = 1 + rnd.nextInt(2))
        case 3 =>
          TraceStore.deleteWhere(spark, store,
            pmod(col("Severity"), lit(5)) === rnd.nextInt(5),
            splitsPerMonth = 1 + rnd.nextInt(2))
        case 4 =>
          TraceStore.compact(spark, store, maxFilesPerMonth = 1,
            splitsPerMonth = 1)
        case 5 =>
          // month retention: dropped months must arrive as deletes; a
          // later random append may re-create a dropped month (legal —
          // its rows arrive as fresh inserts)
          TraceStore.retainLastMonths(store, 2)
        case 6 =>
          TraceStore.append(mk(randRows(1 + rnd.nextInt(3))), store,
            splitsPerMonth = 1 + rnd.nextInt(2))
      }
      drain() // every mutation drained under a fresh random budget
    }

    val expected = TraceStore.read(spark, store)
      .groupBy(col("Severity"), col("Machine"), col("Type"))
      .agg(count(lit(1)).as("n")).collect()
      .map((r: Row) => (r.getInt(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(acc.toMap == expected,
      s"signed feed diverged from the table: extra=${(acc.toMap.toSet -- expected.toSet).take(5)} " +
        s"missing=${(expected.toSet -- acc.toMap.toSet).take(5)}")
    assert(acc.nonEmpty, "degenerate run: the lifecycle left an empty table")
  }

  test("FLEET model check: randomized per-store lifecycles through ONE checkpoint reconstruct every store") {
    // the multi-store source under the same adversarial regime: random
    // mutations land on a RANDOM store, each drain runs under a fresh
    // random admission budget against one shared checkpoint, and the
    // `_store`-keyed signed accumulation must reconstruct EACH store's
    // final content exactly — cross-store pin misattribution, a leaked
    // maintenance diff, or a round-robin cursor bug all diverge here.
    val seed = sys.env.get("GRAFT_CDC_MODEL_SEED").map(_.toLong).getOrElse(20260816L)
    info(s"fleet model seed = $seed")
    val rnd = new scala.util.Random(seed + 1)
    val stores = IndexedSeq(tmpDir("cdcmodel-fa"), tmpDir("cdcmodel-fb"))
    val ck = tmpDir("cdcmodel-fck")

    val acc = scala.collection.mutable.Map[(String, Int, String, String), Long]()
      .withDefaultValue(0L)
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      df.select("_store", "Severity", "Machine", "Type", "_change").collect().foreach {
        (r: Row) =>
          val k = (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))
          val d = if (r.getString(4) == "insert") 1L else -1L
          if (acc(k) + d == 0L) acc.remove(k) else acc(k) += d
      }
      ()
    }
    def drain(): Unit = {
      val reader = spark.readStream.format("graft-cdc")
        .option("paths", stores.mkString(",")).option("initialLoad", "true")
      rnd.nextInt(3) match {
        case 0 =>
        case 1 => reader.option("maxFilesPerTrigger", (1 + rnd.nextInt(3)).toString)
        case 2 => reader.option("maxBytesPerTrigger",
          if (rnd.nextBoolean()) "1" else (64L * 1024).toString)
      }
      val q = reader.load()
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
      q.awaitTermination()
    }

    var sev = 0
    def randRows(n: Int): Seq[(Int, String, String, String)] =
      (1 to n).map { _ =>
        sev += 1
        (sev, s"m${rnd.nextInt(4)}",
          if (rnd.nextBoolean()) "ok" else "bad",
          f"2019-0${5 + rnd.nextInt(3)}%d-1${rnd.nextInt(9)}%d 10:00:00")
      }

    stores.foreach(s => TraceStore.append(mk(randRows(4)), s, splitsPerMonth = 2))
    drain() // both bootstraps through one checkpoint

    (1 to 14).foreach { _ =>
      val s = stores(rnd.nextInt(2))   // mutations land on a random store
      rnd.nextInt(6) match {
        case 0 | 1 | 2 =>
          TraceStore.append(mk(randRows(1 + rnd.nextInt(4))), s,
            splitsPerMonth = 1 + rnd.nextInt(2))
        case 3 =>
          TraceStore.deleteWhere(spark, s,
            pmod(col("Severity"), lit(5)) === rnd.nextInt(5),
            splitsPerMonth = 1 + rnd.nextInt(2))
        case 4 =>
          TraceStore.compact(spark, s, maxFilesPerMonth = 1, splitsPerMonth = 1)
        case 5 =>
          TraceStore.retainLastMonths(s, 2)
      }
      drain()
    }

    val expected = stores.flatMap { s =>
      TraceStore.read(spark, s)
        .groupBy(col("Severity"), col("Machine"), col("Type"))
        .agg(count(lit(1)).as("n")).collect()
        .map((r: Row) => (s, r.getInt(0), r.getString(1), r.getString(2)) -> r.getLong(3))
    }.toMap
    assert(acc.toMap == expected,
      s"fleet feed diverged: extra=${(acc.toMap.toSet -- expected.toSet).take(5)} " +
        s"missing=${(expected.toSet -- acc.toMap.toSet).take(5)}")
    assert(acc.keySet.map(_._1) == stores.toSet,
      "degenerate run: some store never contributed rows")
  }

  test("MONTH-SCOPED model check: a random fixed scope reconstructs exactly the scoped subset") {
    // the months option under the adversarial regime: one random scope
    // (FIXED for the checkpoint's life — it is part of the offset
    // contract), a randomized lifecycle whose rewrites freely cross the
    // scope boundary, random admission per drain. The scoped signed
    // accumulation must equal the final table RESTRICTED to the scope —
    // an over-prune (in-scope change dropped) or under-prune
    // (out-of-scope row leaking in) both diverge.
    val seed = sys.env.get("GRAFT_CDC_MODEL_SEED").map(_.toLong).getOrElse(20260816L)
    info(s"months model seed = $seed")
    val rnd = new scala.util.Random(seed + 2)
    val store = tmpDir("cdcmodel-m"); val ck = tmpDir("cdcmodel-mck")
    val spec = Seq(">=201906", "<=201906", "=201906", "201905,201907")(rnd.nextInt(4))
    info(s"months scope = $spec")
    val ok = graft.sources.CdcStreamProvider.monthsPredicate(spec)

    val acc = scala.collection.mutable.Map[(Int, String, String, String), Long]()
      .withDefaultValue(0L)
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      df.select("Severity", "Machine", "Type", "ym", "_change").collect().foreach {
        (r: Row) =>
          val k = (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))
          assert(ok(r.getString(3)), s"out-of-scope row leaked: $k (scope $spec)")
          val d = if (r.getString(4) == "insert") 1L else -1L
          if (acc(k) + d == 0L) acc.remove(k) else acc(k) += d
      }
      ()
    }
    def drain(): Unit = {
      val reader = spark.readStream.format("graft-cdc")
        .option("path", store).option("initialLoad", "true")
        .option("months", spec)
      rnd.nextInt(3) match {
        case 0 =>
        case 1 => reader.option("maxFilesPerTrigger", (1 + rnd.nextInt(3)).toString)
        case 2 => reader.option("maxBytesPerTrigger",
          if (rnd.nextBoolean()) "1" else (64L * 1024).toString)
      }
      val q = reader.load()
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
      q.awaitTermination()
    }

    var sev = 0
    def randRows(n: Int): Seq[(Int, String, String, String)] =
      (1 to n).map { _ =>
        sev += 1
        (sev, s"m${rnd.nextInt(4)}",
          if (rnd.nextBoolean()) "ok" else "bad",
          f"2019-0${5 + rnd.nextInt(3)}%d-1${rnd.nextInt(9)}%d 10:00:00")
      }

    TraceStore.append(mk(randRows(6)), store, splitsPerMonth = 2)
    drain()
    (1 to 16).foreach { _ =>
      rnd.nextInt(6) match {
        case 0 | 1 | 2 =>
          TraceStore.append(mk(randRows(1 + rnd.nextInt(5))), store,
            splitsPerMonth = 1 + rnd.nextInt(2))
        case 3 =>
          TraceStore.deleteWhere(spark, store,
            pmod(col("Severity"), lit(5)) === rnd.nextInt(5),
            splitsPerMonth = 1 + rnd.nextInt(2))
        case 4 =>
          TraceStore.compact(spark, store, maxFilesPerMonth = 1, splitsPerMonth = 1)
        case 5 =>
          TraceStore.retainLastMonths(store, 2)
      }
      drain()
    }

    val expected = TraceStore.read(spark, store)
      .groupBy(col("Severity"), col("Machine"), col("Type"), col("ym"))
      .agg(count(lit(1)).as("n")).collect()
      .map((r: Row) => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .filter { case (k, _) => ok(k._4) }
      .toMap
    assert(acc.toMap == expected,
      s"scoped feed diverged from the scoped table (scope $spec): " +
        s"extra=${(acc.toMap.toSet -- expected.toSet).take(5)} " +
        s"missing=${(expected.toSet -- acc.toMap.toSet).take(5)}")
  }
}
