package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer's public function, as seen from the benchmark.
  * Times are epoch milliseconds, so they line up with Spark's listener
  * events. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Long, var endMs: Long = -1L, var rows: Long = 0L)

/** A finished task, kept for attribution to the spans it overlaps. */
final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long, fetchWaitMs: Long,
                         bytesWritten: Long, failed: Boolean)

/** One `QueryExecution` finished, with its planning phases in ms. `endMs`
  * is when its last tracked phase ended (listener callbacks arrive later,
  * on the listener bus). */
final case class QeRec(endMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Spans plus Spark's public listener events, kept in memory and
  * attributed by time window when the run ends. With `enabled = false`
  * the tracer records nothing and registers no listener, so an untraced
  * pass runs the program exactly as a user would. */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val nextId = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val stageSubmits = new ConcurrentLinkedQueue[java.lang.Long]()
  val qes = new ConcurrentLinkedQueue[QeRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageSubmits.add(t)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      val failed = e.reason match { case org.apache.spark.Success => false; case _ => true }
      if (m == null) tasks.add(TaskRec(i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, failed))
      else tasks.add(TaskRec(i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.fetchWaitTime, m.outputMetrics.bytesWritten, failed))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      qes.add(QeRec(end, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` inside a span named `name`, child of the innermost span
    * open on this thread. */
  def span[T](name: String)(body: => T): T = spanWith[T](name, _ => 0L)(body)

  /** [[span]], with the span's row count taken from the body's value. */
  def spanWith[T](name: String, rows: T => Long)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.get().headOption.getOrElse(-1)
      val s = Span(nextId.incrementAndGet(), name, parent, runId, System.currentTimeMillis())
      open.set(s.id :: open.get())
      try {
        val v = body
        s.rows = rows(v)
        v
      } finally {
        s.endMs = System.currentTimeMillis()
        open.set(open.get().tail)
        spans.add(s)
      }
    }

  private var finished = false

  /** Drain Spark's listener bus so every event of work already finished
    * is recorded, then unregister. */
  def finish(): Unit = if (enabled && !finished) {
    finished = true
    org.apache.spark.sql.graftshim.Shim.flushListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
  def named(name: String): Seq[Span] = allSpans.filter(_.name == name)

  /** Tasks that finished inside any of `ss`. */
  def tasksIn(ss: Seq[Span]): Seq[TaskRec] =
    tasks.asScala.toSeq.filter(t => ss.exists(s => t.finishMs >= s.startMs && t.finishMs <= s.endMs))
  private def countIn(q: ConcurrentLinkedQueue[java.lang.Long], ss: Seq[Span]): Int =
    q.asScala.count(t => ss.exists(s => t >= s.startMs && t <= s.endMs))
  def jobsIn(ss: Seq[Span]): Int = countIn(jobStarts, ss)
  def stagesIn(ss: Seq[Span]): Int = countIn(stageSubmits, ss)
  def qesIn(ss: Seq[Span]): Seq[QeRec] =
    qes.asScala.toSeq.filter(q => ss.exists(s => q.endMs >= s.startMs && q.endMs <= s.endMs))

  /** Wall seconds of `ss`. */
  def busyS(ss: Seq[Span]): Double = ss.map(s => (s.endMs - s.startMs) / 1000.0).sum

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Long = {
    val kids = allSpans.filter(_.parent == s.id).map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
    s.endMs - s.startMs - Tracer.unionMs(kids)
  }

  /** Wall time of `s` during which no task was running. */
  def driverGapMs(s: Span): Long = {
    val ivs = tasks.asScala.toSeq.filter(t => t.finishMs >= s.startMs && t.launchMs <= s.endMs)
      .map(t => (t.launchMs max s.startMs, t.finishMs min s.endMs))
    s.endMs - s.startMs - Tracer.unionMs(ivs)
  }
}

object Tracer {
  /** Total length of the union of half-open intervals. */
  def unionMs(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
