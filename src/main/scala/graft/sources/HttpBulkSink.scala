package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.graftshim.Shim

/** Authenticated HTTP bulk-insert transport — the reference's ClickHouse
  * write path reproduced natively (SURVEY §2 A11/A12;
  * `/root/reference/trace-converter.py:5-17,66-72`): each batch is
  * serialized to JSONEachRow and POSTed to
  * `ADDR?database=DB&query=INSERT INTO TABLE FORMAT JSONEachRow` with
  * HTTP Basic credentials.
  *
  * Execution shape: rows serialize distributed, inside Catalyst
  * (`to_json` over a struct of every column: the Jackson writer and
  * options `Dataset.toJSON` uses, so the bytes are `toJSON`'s, and the
  * insert ids that hash them match). Each task writes every row's UTF-8
  * bytes straight from Spark's row into its chunk buffer, with no Java
  * `String` in between, and each PARTITION posts from its executor —
  * the reference's one-file-one-POST contract at
  * partition grain, which is what a 1000-executor cluster needs (the
  * driver never sees the data; a failed POST throws, the task retries,
  * and at-least-once delivery matches the reference's semantics, whose
  * store dedups on merge). A caller that wants fewer, larger inserts
  * coalesces `df` first.
  *
  * Streaming: pass [[append]] inside `writeStream.foreachBatch` — one
  * micro-batch = one logical insert, the A11 batch-at-once contract.
  *
  * No ClickHouse ships in this environment, so the integration tests run
  * against an in-JDK embedded HTTP server ([[graft.sources.HttpSinkSpec]])
  * capturing auth, query params and bodies byte-for-byte.
  */
object HttpBulkSink {

  final case class Config(addr: String, database: String, table: String,
                          user: Option[String] = None, pass: Option[String] = None)

  /** One client per JVM (HttpClient is thread-safe): a client per POST
    * would spawn a selector thread + pool each insert and re-do
    * connection setup every micro-batch. A connect timeout is mandatory:
    * without one a hung remote stalls the executor task forever, and the
    * task-retry (at-least-once) contract never engages. */
  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(ConnectTimeoutSec))
    .build()

  private val ConnectTimeoutSec = 10L

  /** Per-request deadline. Generous because a request carries up to
    * [[MaxPostBytes]] of body over a possibly-slow link, but finite so a
    * wedged server surfaces as `HttpTimeoutException` → task retry. */
  private val RequestTimeoutSec = 120L

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private[sources] def insertUri(c: Config): URI =
    new URI(s"${c.addr}?database=${enc(c.database)}" +
      s"&query=${enc(s"INSERT INTO ${c.table} FORMAT JSONEachRow")}")

  private[sources] def authHeader(c: Config): Option[String] =
    for (u <- c.user; p <- c.pass) yield
      "Basic " + Base64.getEncoder.encodeToString(
        s"$u:$p".getBytes(StandardCharsets.UTF_8))

  /** Header carrying the deterministic chunk identity (see [[append]]).
    * A dedup-capable receiver (e.g. ClickHouse `insert_deduplication_token`
    * semantics) can drop replayed chunks, upgrading the transport's
    * at-least-once contract to effectively-once without coordination. */
  val InsertIdHeader = "X-Graft-Insert-Id"

  /** POST one JSONEachRow blob; throws on any non-2xx status (task retry
    * → at-least-once, the reference's failure contract: keep the file,
    * print the error — trace-converter.py:109-112). */
  private def post(c: Config, body: Chunk, insertId: String): Unit = {
    val b = HttpRequest.newBuilder(insertUri(c))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body.bytes, 0, body.size()))
      .header("Content-Type", "application/x-ndjson")
      .timeout(java.time.Duration.ofSeconds(RequestTimeoutSec))
      .header(InsertIdHeader, insertId)
    authHeader(c).foreach(b.header("Authorization", _))
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"bulk insert to ${c.addr} failed: HTTP ${resp.statusCode()} ${resp.body().take(200)}")
  }

  /** Max UTF-8 BYTES buffered per POST: a whole partition as one String
    * would tie task memory to partition size (multi-GB at the target
    * scale) — chunking bounds memory while keeping requests few and
    * large. Budgeted in encoded bytes, not UTF-16 code units: multi-byte
    * content would otherwise overshoot the cap up to 3×. */
  private val MaxPostBytes = 8 << 20

  /** Bulk-insert `df`: executor-side POSTs, one per ≤[[MaxPostBytes]]
    * chunk per (non-empty) partition.
    *
    * Each chunk carries an [[InsertIdHeader]] of
    * `batchId/partitionId/chunkIndex/contentHash`. batchId is fixed on
    * the DRIVER before the job launches (caller-supplied for streaming
    * micro-batches, else one UUID per append call, captured in the task
    * closure) and the partition id is Spark's. The CONTENT hash is the
    * component that makes receiver-side dedup SAFE rather than lossy:
    * after a shuffle, a retried task can fetch its input rows in a
    * different order, so positional ids alone would let a replayed
    * `batch/pid/0` carry different rows than the original — a
    * dedup-capable receiver would drop them (silent loss). With the hash,
    * a byte-identical replay dedups (effectively-once) while a
    * reordered replay gets fresh ids and is stored (at-least-once:
    * possible duplicates, never loss — the reference's contract). */
  def append(df: DataFrame, c: Config, batchId: Option[String] = None): Unit = {
    val insertBatch = batchId.getOrElse(java.util.UUID.randomUUID().toString)
    val json = df.select(to_json(struct(col("*"))))
    Shim.toInternalRdd(json).foreachPartition { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val buf = new Chunk(1 << 20)
      var chunk = 0
      def flush(): Unit = {
        val sha = java.security.MessageDigest.getInstance("SHA-256")
        sha.update(buf.bytes, 0, buf.size())
        val hash = sha.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
        post(c, buf, s"$insertBatch/$pid/$chunk/$hash")
        buf.reset(); chunk += 1
      }
      rows.foreach { r =>
        r.getUTF8String(0).writeTo(buf); buf.write('\n')
        if (buf.size() >= MaxPostBytes) flush()
      }
      if (buf.size() > 0) flush()
    }
  }

  /** A chunk's body buffer whose backing array is read in place by the
    * hash and the POST (`toByteArray` would copy every chunk). */
  private final class Chunk(initial: Int) extends java.io.ByteArrayOutputStream(initial) {
    def bytes: Array[Byte] = buf
  }

  /** Execute one SQL statement over the same transport (the reference's
    * `create_schema` path — trace-converter.py:58-61: `CREATE DATABASE
    * IF NOT EXISTS` + table DDL posted as the request body, database
    * selection via query param). Driver-side single POST; idempotent
    * when the statement is IF NOT EXISTS, like the original. */
  def exec(c: Config, statement: String, withDatabase: Boolean = true): Unit = {
    val uri = new URI(c.addr +
      (if (withDatabase) s"?database=${enc(c.database)}" else ""))
    val b = HttpRequest.newBuilder(uri)
      .timeout(java.time.Duration.ofSeconds(RequestTimeoutSec))
      .POST(HttpRequest.BodyPublishers.ofString(statement, StandardCharsets.UTF_8))
    authHeader(c).foreach(b.header("Authorization", _))
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"DDL exec on ${c.addr} failed: HTTP ${resp.statusCode()} ${resp.body().take(200)}")
  }

  /** The reference's bootstrap (`--create-schema`): create the database
    * (no database param — it may not exist yet), then the table DDL
    * against it. `Ddl.clickhouse` produces the statement. */
  def createSchema(c: Config, tableDdl: String): Unit = {
    exec(c, s"CREATE DATABASE IF NOT EXISTS ${c.database}", withDatabase = false)
    exec(c, tableDdl)
  }
}
