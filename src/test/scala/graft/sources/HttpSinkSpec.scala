package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The authenticated HTTP bulk-insert transport (SURVEY §2 A11/A12)
  * against an in-JDK embedded server: auth header, insert query params
  * and JSONEachRow bodies are captured byte-for-byte; failure statuses
  * must surface as exceptions (the at-least-once retry contract). */
class HttpSinkSpec extends SparkSpec {

  private final case class Captured(auth: String, query: String, body: String,
                                    insertId: String = "")

  /** Start a capturing server; returns (baseUrl, capturedQueue, stop). */
  private def server(status: Int): (String, ConcurrentLinkedQueue[Captured], () => Unit) = {
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val got = new ConcurrentLinkedQueue[Captured]()
    srv.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      got.add(Captured(
        Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""),
        Option(ex.getRequestURI.getQuery).getOrElse(""), body,
        Option(ex.getRequestHeaders.getFirst(HttpBulkSink.InsertIdHeader)).getOrElse("")))
      val resp = "ok".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, resp.length)
      ex.getResponseBody.write(resp); ex.close()
    })
    srv.start()
    (s"http://127.0.0.1:${srv.getAddress.getPort}/", got, () => srv.stop(0))
  }

  test("batch append posts JSONEachRow with basic auth and insert params") {
    import spark.implicits._
    val (url, got, stop) = server(200)
    try {
      val cfg = HttpBulkSink.Config(url, "fdb", "trace",
        user = Some("u"), pass = Some("p s"))
      val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      HttpBulkSink.append(df.coalesce(1), cfg)
      assert(got.size == 1)
      val c = got.peek()
      // Basic base64("u:p s")
      assert(c.auth == "Basic dTpwIHM=")
      assert(c.query.contains("database=fdb"))
      assert(c.query.contains("INSERT INTO trace FORMAT JSONEachRow"))
      val lines = c.body.trim.split("\n").toSeq.sorted
      assert(lines == Seq("""{"id":1,"v":"a"}""", """{"id":2,"v":"b"}""",
        """{"id":3,"v":"c"}"""))
    } finally stop()
  }

  test("one POST per non-empty partition; no auth header without creds") {
    import spark.implicits._
    val (url, got, stop) = server(200)
    try {
      val cfg = HttpBulkSink.Config(url, "db", "t")
      val df = Seq.tabulate(8)(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(4)
      HttpBulkSink.append(df, cfg)
      assert(got.size == 4)
      got.forEach(c => assert(c.auth == ""))
      val all = got.toArray(Array.empty[Captured]).flatMap(_.body.trim.split("\n"))
      assert(all.length == 8)
    } finally stop()
  }

  test("non-2xx response surfaces as a job failure (at-least-once retry)") {
    import spark.implicits._
    val (url, _, stop) = server(500)
    try {
      val cfg = HttpBulkSink.Config(url, "db", "t")
      val df = Seq((1L, "a")).toDF("id", "v")
      val e = intercept[org.apache.spark.SparkException] {
        HttpBulkSink.append(df.coalesce(1), cfg)
      }
      assert(e.getMessage.contains("bulk insert") ||
        Option(e.getCause).exists(_.getMessage.contains("bulk insert")))
    } finally stop()
  }

  test("createSchema posts CREATE DATABASE then table DDL, like the reference") {
    val (url, got, stop) = server(200)
    try {
      val cfg = HttpBulkSink.Config(url, "fdb", "trace", Some("u"), Some("p"))
      val ddl = graft.schema.Ddl.clickhouse("trace")
      HttpBulkSink.createSchema(cfg, ddl)
      val reqs = got.toArray(Array.empty[AnyRef])
        .map(_.asInstanceOf[Captured])
      assert(reqs.length == 2)
      assert(reqs(0).body == "CREATE DATABASE IF NOT EXISTS fdb")
      assert(reqs(0).query == "")                      // db may not exist yet
      assert(reqs(1).body == ddl)
      assert(reqs(1).query.contains("database=fdb"))
      reqs.foreach(c => assert(c.auth.startsWith("Basic ")))
    } finally stop()
  }

  test("idempotency keys: batchId/partition/chunk, stable across a replayed job") {
    import spark.implicits._
    val (url, got, stop) = server(200)
    try {
      val cfg = HttpBulkSink.Config(url, "db", "t")
      val df = Seq.tabulate(8)(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(4)
      // A retried task re-runs the same closure on the same partition, so
      // replaying the whole append with a pinned batchId is a strictly
      // harder version of the same determinism claim: every chunk id must
      // come back identical.
      HttpBulkSink.append(df, cfg, batchId = Some("batch-77"))
      val first = got.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Captured])
        .map(c => c.insertId -> c.body).toMap
      got.clear()
      HttpBulkSink.append(df, cfg, batchId = Some("batch-77"))
      val second = got.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Captured])
        .map(c => c.insertId -> c.body).toMap
      assert(first.size == 4)
      assert(first.keySet.forall(_.matches("batch-77/\\d+/0/[0-9a-f]{16}")))
      assert(second == first)   // same ids AND same bytes under each id
      // the CONTENT-hash component: same (batch, pid, chunk) slots with
      // different rows must NOT reuse ids (a reordered retry is stored,
      // never silently dedup-dropped)
      got.clear()
      val df2 = Seq.tabulate(8)(i => (i.toLong, s"DIFFERENT$i")).toDF("id", "v").repartition(4)
      HttpBulkSink.append(df2, cfg, batchId = Some("batch-77"))
      val third = got.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Captured])
        .map(_.insertId).toSet
      assert(third.intersect(first.keySet).isEmpty,
        "different content must produce different insert ids")
      // distinct append calls without a pinned batchId must NOT collide
      got.clear()
      HttpBulkSink.append(df, cfg)
      val auto = got.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Captured])
      assert(auto.forall(c => c.insertId.nonEmpty && !c.insertId.startsWith("batch-77/")))
    } finally stop()
  }

  test("chunk budget counts UTF-8 bytes, not UTF-16 chars") {
    import spark.implicits._
    val (url, got, stop) = server(200)
    try {
      val cfg = HttpBulkSink.Config(url, "db", "t")
      // 9000 rows x 500 'é' (2 bytes UTF-8 each) ≈ 9.3 MiB encoded but only
      // ~4.7M chars: a char-counting budget would send ONE oversized POST;
      // the byte budget must split at 8 MiB into exactly two.
      val payload = "é" * 500
      val df = Seq.tabulate(9000)(i => (i.toLong, payload)).toDF("id", "v")
      HttpBulkSink.append(df.coalesce(1), cfg, batchId = Some("bb"))
      val reqs = got.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Captured])
      assert(reqs.length == 2)
      assert(reqs.map(_.insertId.split("/").take(3).mkString("/")).toSet
        == Set("bb/0/0", "bb/0/1"))
      reqs.foreach(c =>
        assert(c.body.getBytes(StandardCharsets.UTF_8).length <= (9 << 20)))
      assert(reqs.flatMap(_.body.trim.split("\n")).length == 9000)
    } finally stop()
  }

  test("bodies and insert ids are byte-identical to Dataset.toJSON's lines") {
    import spark.implicits._
    val (url, got, stop) = server(200)
    try {
      val cfg = HttpBulkSink.Config(url, "db", "t")
      // the insert id hashes the body, so a writer whose bytes drift from
      // toJSON's would break dedup for a replay that straddles the change
      def check(df: org.apache.spark.sql.DataFrame): Unit = {
        got.clear()
        HttpBulkSink.append(df.coalesce(1), cfg, batchId = Some("id"))
        val want = df.coalesce(1).toJSON.collect().mkString("", "\n", "\n")
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(want.getBytes(StandardCharsets.UTF_8))
          .take(8).map(b => f"${b & 0xff}%02x").mkString
        assert(got.size == 1)
        assert(got.peek().body == want)
        assert(got.peek().insertId == s"id/0/0/$sha")
      }
      // the replicated shape: the store's columns plus _sign
      val store = tmpDir("bytes-store")
      graft.store.TraceStore.append(Seq(
        (10, "m1", "default", java.sql.Timestamp.valueOf("2019-05-13 15:37:32.5"), "ok", "a"),
        (40, "m2", "default", java.sql.Timestamp.valueOf("2019-05-14 10:00:00"), "bad", null)
      ).toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID"), store)
      check(graft.store.TraceStore.read(spark, store)
        .withColumn("_sign", org.apache.spark.sql.functions.lit(-1)))
      // every type and text shape the JSON writer treats specially
      check(spark.sql("""SELECT * FROM VALUES
        ('é ü 中 😀 \u0007 "q" \\ /', TIMESTAMP'1969-07-20 20:17:40.123456',
         double('NaN'), double('Infinity'), float('-Infinity'), CAST(NULL AS INT),
         array(1, NULL, 3), map('k', 'v', 'z', NULL), 12345.678BD, X'00FF41',
         DATE'1900-02-28', named_struct('a', CAST(NULL AS INT), 'b', array('x'))),
        (NULL, NULL, -0.0D, 1.0E-10D, 3.4E38F, -7, CAST(array() AS ARRAY<INT>),
         CAST(map() AS MAP<STRING, STRING>), NULL, NULL, NULL, NULL)
        AS t(s, ts, d, inf, f, i, arr, m, dec, bin, dt, st)"""))
    } finally stop()
  }

  test("soak: injected 500 + stream restart replays a batch; receiver dedup on insert ids yields exactly-once") {
    // The full at-least-once → exactly-once-with-dedup narrative against a
    // DEDUP-CAPABLE receiver (ClickHouse insert_deduplication_token
    // semantics): store bodies keyed by X-Graft-Insert-Id, drop replays.
    // Injection: batch 1's partition-1 POST gets a 500 (after a delay so
    // partition 0's concurrent POST lands first) → the query fails with
    // partition 0 already DELIVERED. A restart from the same checkpoint
    // replays micro-batch 1 under the SAME insert ids: partition 0's
    // duplicate delivery dedups at the receiver, partition 1 lands fresh.
    // Net: one batch delivered 1.5 times, stored exactly once.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val stored = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val attempts = new ConcurrentLinkedQueue[String]()
    val failP1 = new java.util.concurrent.atomic.AtomicBoolean(true)
    srv.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val id = Option(ex.getRequestHeaders.getFirst(HttpBulkSink.InsertIdHeader)).getOrElse("")
      attempts.add(id)
      val fail = failP1.get() && id.startsWith("soak-1/1/")
      if (fail) Thread.sleep(300)   // let partition 0's POST land first
      val resp = (if (fail) "injected" else "ok").getBytes(StandardCharsets.UTF_8)
      if (!fail) stored.putIfAbsent(id, body)
      ex.sendResponseHeaders(if (fail) 500 else 200, resp.length)
      ex.getResponseBody.write(resp); ex.close()
    })
    srv.start()
    val url = s"http://127.0.0.1:${srv.getAddress.getPort}/"
    val ckpt = tmpDir("soak_ckpt")
    try {
      val cfg = HttpBulkSink.Config(url, "fdb", "trace", Some("u"), Some("p"))
      val in = MemoryStream[(Long, String)]
      def startQuery() = in.toDF().toDF("id", "v").writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          HttpBulkSink.append(batch.repartition(2), cfg, batchId = Some(s"soak-$bid")))
        .start()
      val q1 = startQuery()
      in.addData((1L, "a"), (2L, "b")); q1.processAllAvailable()   // batch 0 ok
      in.addData((3L, "c"), (4L, "d"), (5L, "e"), (6L, "f"))       // batch 1 fails on p1
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
        q1.awaitTermination()
      }
      assert(!q1.isActive)
      // at-least-once held through the failure: batch 1 / partition 0 was
      // already delivered when the query died
      val p0id = attempts.toArray(Array.empty[AnyRef]).map(_.toString)
        .find(_.startsWith("soak-1/0/"))
      assert(p0id.isDefined, "partition 0 of the failed batch must have posted")
      assert(stored.containsKey(p0id.get))
      // recover: heal the receiver, restart from the same checkpoint
      failP1.set(false)
      val q2 = startQuery()
      in.addData((7L, "g"), (8L, "h"))                             // batch 2 after recovery
      q2.processAllAvailable(); q2.stop()
      // replayed batch 1 reused the SAME insert ids → p0's second delivery
      // was dropped by the receiver, not double-stored
      val p0Attempts = attempts.toArray(Array.empty[AnyRef]).map(_.toString)
        .count(_ == p0id.get)
      assert(p0Attempts == 2, s"expected a duplicate delivery of ${p0id.get}")
      // exactly-once net state: every input row stored once, nothing extra
      import scala.jdk.CollectionConverters._
      val rows = stored.values().asScala.flatMap(_.trim.split("\n")).toSeq.sorted
      assert(rows == Seq("a", "b", "c", "d", "e", "f", "g", "h")
        .zipWithIndex.map { case (v, i) => s"""{"id":${i + 1},"v":"$v"}""" }.sorted)
    } finally srv.stop(0)
  }

  test("replicateChanges follows a store's CDC feed onto the wire with collapsing signs") {
    import java.sql.Timestamp
    import graft.store.TraceStore
    val (url, got, stop) = server(200)
    try {
      val cfg = HttpBulkSink.Config(url, "fdb", "trace", None, None)
      val store = tmpDir("cdcrepl"); val ck = tmpDir("cdcrepl-ck")
      def rows(xs: (Int, String, String)*) = {
        import spark.implicits._
        xs.toSeq.map { case (sev, ty, t) =>
          (sev, "m1", "default", Timestamp.valueOf(t), ty, s"id$sev")
        }.toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID")
      }
      def drain(): Unit = {
        val q = graft.streaming.TraceStream.replicateChanges(spark, store, cfg, ck)
        q.awaitTermination()
      }
      def posted(): Seq[(Int, Int)] = // (Severity, _sign) across all bodies
        got.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Captured].body)
          .flatMap(_.split("\n")).filter(_.nonEmpty).toSeq
          .map { line =>
            val sev = """"Severity":(-?\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
            val sign = """"_sign":(-?\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
            (sev, sign)
          }.sorted

      TraceStore.append(rows((10, "ok", "2019-05-13 15:37:32"),
        (20, "bad", "2019-05-14 10:00:00")), store)
      drain() // bootstrap: both rows as +1
      assert(posted() == Seq((10, 1), (20, 1)))

      TraceStore.deleteWhere(spark, store, org.apache.spark.sql.functions.col("Type") === "bad")
      drain() // erased row arrives as -1 (CollapsingMergeTree nets it out)
      assert(posted() == Seq((10, 1), (20, -1), (20, 1)))

      val before = got.size
      TraceStore.compact(spark, store, maxFilesPerMonth = 1, splitsPerMonth = 1)
      drain() // compaction diffs to nothing and posts nothing
      assert(got.size == before, "maintenance noise must never reach the wire")

      // idempotency ids are scoped by the checkpointed cdc batch id
      val scopes = got.toArray(Array.empty[AnyRef])
        .map(_.asInstanceOf[Captured].insertId.split("/").head).toSet
      assert(scopes.forall(_.startsWith("cdc-")), scopes.toString)
    } finally stop()
  }

  test("replicateFleetChanges routes each store's signed feed to its own table") {
    import java.sql.Timestamp
    import graft.store.TraceStore
    val (url, got, stop) = server(200)
    try {
      val cfg = HttpBulkSink.Config(url, "fdb", "IGNORED", None, None)
      val a = tmpDir("cdcfr-a"); val b = tmpDir("cdcfr-b")
      val ck = tmpDir("cdcfr-ck")
      def rows(xs: (Int, String, String)*) = {
        import spark.implicits._
        xs.toSeq.map { case (sev, ty, t) =>
          (sev, "m1", "default", Timestamp.valueOf(t), ty, s"id$sev")
        }.toDF("Severity", "Machine", "LogGroup", "Time", "Type", "ID")
      }
      def drain(): Unit = {
        val q = graft.streaming.TraceStream.replicateChanges(spark,
          graft.streaming.TraceStream.Stores(Seq(a, b), fleet = true), cfg, ck,
          tables = Seq("trace_a", "trace_b"))
        q.awaitTermination()
      }
      // (table, Severity, _sign) across all bodies — per-table routing
      def posted(): Seq[(String, Int, Int)] =
        got.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Captured])
          .flatMap { c =>
            val table = """INSERT INTO (\w+) """.r
              .findFirstMatchIn(c.query).get.group(1)
            c.body.split("\n").filter(_.nonEmpty).map { line =>
              val sev = """"Severity":(-?\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
              val sign = """"_sign":(-?\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
              (table, sev, sign)
            }
          }.toSeq.sorted

      TraceStore.append(rows((10, "ok", "2019-05-13 15:37:32")), a)
      TraceStore.append(rows((20, "bad", "2019-05-14 10:00:00")), b)
      drain() // both bootstraps, each to its OWN table
      assert(posted() == Seq(("trace_a", 10, 1), ("trace_b", 20, 1)))

      // one store's erase lands as -1 ONLY on its table; the other's
      // compaction diffs to nothing
      TraceStore.deleteWhere(spark, b, org.apache.spark.sql.functions.col("Type") === "bad")
      TraceStore.compact(spark, a, maxFilesPerMonth = 1, splitsPerMonth = 1)
      drain()
      assert(posted() == Seq(("trace_a", 10, 1), ("trace_b", 20, -1), ("trace_b", 20, 1)))

      // idle restart replays nothing; idempotency ids are scoped by
      // batch id AND store index (replays re-send under identical keys)
      val before = got.size
      drain()
      assert(got.size == before, "an idle fleet must post nothing")
      val scopes = got.toArray(Array.empty[AnyRef])
        .map(_.asInstanceOf[Captured].insertId.split("/").head).toSet
      assert(scopes.forall(_.matches("cdc-\\d+-[01]")), scopes.toString)
    } finally stop()
  }

  test("streaming foreachBatch: one micro-batch = one logical insert") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val (url, got, stop) = server(200)
    try {
      val cfg = HttpBulkSink.Config(url, "fdb", "trace", Some("u"), Some("p"))
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("id", "v").writeStream
        .outputMode(OutputMode.Append)
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          // the streaming batch id IS the idempotency scope: a restarted
          // query replaying micro-batch N re-sends under the same keys
          HttpBulkSink.append(batch.coalesce(1), cfg,
            batchId = Some(s"stream-$bid")))
        .start()
      try {
        in.addData((1L, "x")); q.processAllAvailable()
        in.addData((2L, "y")); q.processAllAvailable()
        assert(got.size == 2)
        got.forEach(c => assert(c.auth.startsWith("Basic ")))
        val ids = got.toArray(Array.empty[AnyRef])
          .map(_.asInstanceOf[Captured].insertId.split("/").take(3).mkString("/")).toSet
        assert(ids == Set("stream-0/0/0", "stream-1/0/0"))
      } finally q.stop()
    } finally stop()
  }
}
