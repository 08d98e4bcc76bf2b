package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: a call into one layer of the program, timed from the
  * benchmark. `op` is the operation (backfill build, daily cycle, dashboard
  * request, curation funnel) the span belongs to; spans of one operation
  * share it.
  */
final case class Span(
    id: Long, parent: Long, name: String, op: Long,
    startMs: Double, endMs: Double, status: String, error: String) {
  def durMs: Double = endMs - startMs
}

/** Spark counters summed over every task of every job started under one
  * span (jobs are attributed to the innermost open span of the thread that
  * submitted them, through a thread-local Spark property).
  */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, inputRecords = 0L
  var outputBytes, outputRecords = 0L
}

final case class JobRun(span: Long, startMs: Double, endMs: Double)

/** Records task metrics per span. Listener events arrive on Spark's single
  * listener-bus thread, so the maps are only read once the tracer has
  * stopped (which drains the bus).
  */
final class SpanListener extends SparkListener {
  val counters = new ConcurrentHashMap[Long, Counters]()
  val jobs = new ConcurrentLinkedQueue[JobRun]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobOpen = new ConcurrentHashMap[Int, (Long, Long)]()

  private def of(span: Long): Counters = counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    jobOpen.put(e.jobId, (span, e.time))
    of(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOpen.remove(e.jobId)).foreach { case (span, t0) =>
      jobs.add(JobRun(span, t0.toDouble, e.time.toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageId, 0L))
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

/** In-memory span recorder. Disabled, [[span]] only runs its body, so the
  * end-to-end runs pay nothing for it; enabled, it also registers a
  * [[SpanListener]] for the Spark counters. Spans are written out once, when
  * the run ends.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  val listener = new SpanListener
  private val ids = new AtomicLong(1)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[(Long, String), Double]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long, String, Double)]](() => Nil)
  private val opId = new ThreadLocal[java.lang.Long]
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def start(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }
  def stop(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener); enabled = false }
  private def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def spans: Seq[Span] = closed.asScala.toSeq

  /** Per-operation counts: (operation id, name) -> summed value. */
  def countsByOp: Map[(Long, String), Double] = counts.asScala.toMap

  /** Adds `v` to the count `name` of the current operation. */
  def add(name: String, v: Double): Unit = if (enabled)
    counts.merge((Option(opId.get).map(_.longValue).getOrElse(0L), name), v, _ + _)

  /** Opens a span named `name` on this thread; [[close]] ends the innermost. */
  def open(name: String): Long =
    if (!enabled) 0L
    else {
      val id = ids.getAndIncrement()
      stack.set((id, if (stack.get.isEmpty) 0L else stack.get.head._1, name, nowMs) :: stack.get)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      id
    }

  def close(status: String = "ok", error: String = ""): Unit = if (enabled && stack.get.nonEmpty) {
    val (id, parent, name, t0) = stack.get.head
    stack.set(stack.get.tail)
    sc.setLocalProperty(Tracer.SpanProp, stack.get.headOption.map(_._1.toString).orNull)
    val op = Option(opId.get).map(_.longValue).getOrElse(0L)
    closed.add(Span(id, parent, name, op, t0, nowMs, status, error))
  }

  def span[A](name: String)(body: => A): A = {
    open(name)
    try { val r = body; close(); r }
    catch { case e: Throwable => close("failed", e.getClass.getName); throw e }
  }

  /** Runs one operation: a root span `name` whose id tags every span in it. */
  def operation[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      opId.set(open(name))
      try { val r = body; close(); r }
      catch { case e: Throwable => close("failed", e.getClass.getName); throw e }
      finally opId.remove()
    }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
