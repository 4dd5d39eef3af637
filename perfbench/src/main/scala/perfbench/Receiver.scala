package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Embedded JSONEachRow receiver standing in for the ClickHouse HTTP
  * endpoint. It observes the sink from outside the program: every POST is
  * counted, timed and kept. Rows are counted per POST; rows in a POST whose
  * insert id (`X-Graft-Insert-Id`) was already seen count as delivered
  * twice. It always answers 200. */
final class Receiver {
  private val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(4)
  private val bodies = ArrayBuffer.empty[Array[Byte]]
  private val latenciesMs = ArrayBuffer.empty[Double]
  private val insertIds = ConcurrentHashMap.newKeySet[String]()
  val posts = new AtomicLong
  val bytes = new AtomicLong
  val non2xx = new AtomicLong
  val rows = new AtomicLong
  val dupRows = new AtomicLong

  srv.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val body = ex.getRequestBody.readAllBytes()
    val n = new String(body, StandardCharsets.UTF_8).split('\n').count(_.nonEmpty).toLong
    // a chunk posted again under the same insert id is a re-delivery
    val id = Option(ex.getRequestHeaders.getFirst(graft.sources.HttpBulkSink.InsertIdHeader))
    if (id.exists(i => !insertIds.add(i))) dupRows.addAndGet(n)
    rows.addAndGet(n)
    posts.incrementAndGet()
    bytes.addAndGet(body.length.toLong)
    ex.sendResponseHeaders(200, -1)
    ex.close()
    val ms = (System.nanoTime() - t0) / 1e6
    synchronized { bodies += body; latenciesMs += ms }
  })
  srv.setExecutor(pool)
  srv.start()

  val addr: String = s"http://127.0.0.1:${srv.getAddress.getPort}/"

  /** Write every received body to `dir`, one file per POST, so the rows
    * can be read back in parallel for checking. */
  def dump(dir: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(dir)
    synchronized(bodies.toSeq).zipWithIndex.foreach { case (b, i) =>
      java.nio.file.Files.write(dir.resolve(f"post-$i%06d.json"), b)
    }
  }

  def postLatenciesMs: Seq[Double] = synchronized(latenciesMs.toSeq)

  def stop(): Unit = {
    srv.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
