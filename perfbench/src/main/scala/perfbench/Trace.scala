package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskEndReason
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch microseconds so
  * spans from the benchmark and from Spark's listeners share one clock.
  */
final case class Span(id: Int, parent: Int, name: String, key: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Spans {
  private val nanoBase = System.nanoTime()
  private val epochUsBase = System.currentTimeMillis() * 1000L

  /** Epoch microseconds from the monotonic clock. */
  def nowUs(): Long = epochUsBase + (System.nanoTime() - nanoBase) / 1000L

  /** Self time of each span: its duration minus the part of its interval
    * its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.durUs - covered)
    }.toMap
  }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** In-memory span store. Spans are appended as layers finish and written
  * out once, when the run ends.
  */
final class Tracer {
  private val nextId = new AtomicInteger(1)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def newId(): Int = nextId.getAndIncrement()

  private def add(s: Span): Unit = buf.add(s)

  /** Times `body` as a span under `parent`; the span id is passed in so
    * Spark jobs started inside can be tagged with it.
    */
  def span[T](name: String, key: String, parent: Int)(body: Int => T): T = {
    val id = newId()
    val t0 = Spans.nowUs()
    try body(id)
    finally add(Span(id, parent, name, key, t0, Spans.nowUs()))
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(s => (s.startUs, s.id))
}

/** Per-layer execution record built from Spark's public listeners: every
  * job is attributed to the benchmark span whose id was set as the
  * [[LayerListener.SpanProperty]] local property when the job started, and
  * every Catalyst run (tracker phases of a finished QueryExecution) is kept
  * with its wall interval.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val taskTimes = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  val failedTasks = new ConcurrentHashMap[Int, AtomicInteger]()
  val catalyst = new java.util.concurrent.ConcurrentLinkedQueue[CatalystRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toInt).getOrElse(0)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time * 1000L, -1L, e.stageIds))
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endUs = e.time * 1000L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = (e.stageId, e.stageAttemptId)
    val span = stageSpan.getOrDefault(e.stageId, 0)
    taskTimes.computeIfAbsent(key, _ => mutable.ArrayBuffer[Long]())
      .synchronized(taskTimes.get(key) += e.taskInfo.duration)
    if (!isSuccess(e.reason))
      failedTasks.computeIfAbsent(span, _ => new AtomicInteger()).incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val span = stageSpan.getOrDefault(i.stageId, 0)
    val times = Option(taskTimes.get((i.stageId, i.attemptNumber()))).map(_.toSeq).getOrElse(Nil)
    stages.put((i.stageId, i.attemptNumber()), StageRec(i.stageId, span, i.numTasks,
      i.submissionTime.getOrElse(0L) * 1000L, i.completionTime.getOrElse(0L) * 1000L,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (times.isEmpty) 0L else times.max,
      if (times.isEmpty) 0.0 else times.sum.toDouble / times.length))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.filter { case (p, _) => CatalystPhases(p) }
    if (phases.nonEmpty)
      catalyst.add(CatalystRec(
        phases.values.map(_.startTimeMs).min * 1000L,
        phases.values.map(_.durationMs).sum * 1000L,
        qe.analyzed.toString.contains(SentinelText)))
  }

  def sentinelSeen: Boolean = catalyst.asScala.exists(_.sentinel)

  private def isSuccess(r: TaskEndReason): Boolean = r == org.apache.spark.Success
}

object LayerListener {
  /** Local property carrying the id of the benchmark span a job runs under. */
  val SpanProperty = "perfbench.span"
  val SentinelText = "perfbench_listener_sentinel"
  private val CatalystPhases = Set("analysis", "optimization", "planning")

  final case class JobRec(jobId: Int, span: Int, startUs: Long, endUs: Long,
                          stageIds: Seq[Int])
  final case class StageRec(stageId: Int, span: Int, tasks: Int, startUs: Long, endUs: Long,
                            runMs: Long, gcMs: Long,
                            inputBytes: Long, outputBytes: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            spillBytes: Long, maxTaskMs: Long, meanTaskMs: Double)
  final case class CatalystRec(startUs: Long, durUs: Long, sentinel: Boolean)

  /** Installs a listener on the session for the traced run. */
  def install(spark: SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Listener events arrive asynchronously. Runs a marked query and waits
    * for its Catalyst record, so every earlier event has been delivered.
    */
  def drain(spark: SparkSession, l: LayerListener, timeoutMs: Long = 20000L): Unit = {
    spark.sql(s"SELECT '$SentinelText' AS s").collect()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!l.sentinelSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}
