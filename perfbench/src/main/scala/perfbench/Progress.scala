package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One micro-batch's progress event. `endMs` is the batch's trigger time
  * plus its trigger-execution duration: the moment its commit was done. */
final case class Batch(query: String, batchId: Long, startMs: Long, endMs: Long, inputRows: Long,
                       durations: Map[String, Long])

/** Records every streaming query's progress events. The untraced passes
  * use it too: per-file freshness is defined by the ingest progress event
  * of the batch that committed the file. */
final class Progress(spark: SparkSession) {
  private val events = new ConcurrentLinkedQueue[Batch]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      events.add(Batch(p.name, p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
        p.numInputRows, d))
    }
  }
  spark.streams.addListener(listener)

  def batches(queryPrefix: String): Seq[Batch] =
    events.asScala.toSeq.filter(b => Option(b.query).exists(_.startsWith(queryPrefix))).sortBy(_.batchId)

  def stop(): Unit = spark.streams.removeListener(listener)
}

object Progress {
  private val PathRe = """"path"\s*:\s*"([^"]+)"""".r
  private val BatchRe = """"batchId"\s*:\s*(\d+)""".r

  /** File name → batch id, from a file-stream checkpoint's source log
    * (`<ckpt>/sources/0`, plain and `.compact` entries alike). */
  def committedFiles(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val logs = Files.list(dir).iterator().asScala.toSeq
        .filter(p => !p.getFileName.toString.startsWith(".") && Files.isRegularFile(p))
      logs.flatMap(p => Files.readAllLines(p).asScala).flatMap { line =>
        for (pm <- PathRe.findFirstMatchIn(line); bm <- BatchRe.findFirstMatchIn(line))
          yield pm.group(1).split('/').last -> bm.group(1).toLong
      }.toMap
    }
  }
}

/** Order statistics as reported by the benchmark. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
