package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one request share `req`; a
  * child names its parent span. */
final case class Span(req: String, name: String, parent: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one (request, phase) key. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
}

/** Records spans around the benchmark's calls into each layer, and ties
  * Spark jobs to them through thread-local properties read back by a
  * [[SparkListener]]. Spans stay in memory until [[writeSpans]]. Tracing
  * is switched per thread ([[tracing]]); while it is off every call is a
  * bare pass-through. The listener is registered only in a traced run
  * (`listen`). */
final class Tracer(sc: SparkContext, listen: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(String, String)]
  private val on = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  val listener = new WorkListener
  if (listen) sc.addSparkListener(listener)

  def enabled: Boolean = on.get

  /** Run `f` on this thread with spans recorded (`b`) or not. */
  def tracing[T](b: Boolean)(f: => T): T = {
    val prev = on.get
    on.set(b)
    try f finally on.set(prev)
  }

  /** Run `f` as request `req`'s span `name`, child of the enclosing span
    * of this thread (if any). Spark jobs started inside are tagged with
    * the request and the span name. */
  def span[T](req: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val outer = current.get()
      val parent = if (outer != null && outer._1 == req) outer._2 else ""
      current.set((req, name))
      sc.setLocalProperty(WorkListener.ReqKey, req)
      sc.setLocalProperty(WorkListener.PhaseKey, name)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(req, name, parent, t0, System.nanoTime()))
        current.set(outer)
        if (outer == null) {
          sc.setLocalProperty(WorkListener.ReqKey, null)
          sc.setLocalProperty(WorkListener.PhaseKey, null)
        } else sc.setLocalProperty(WorkListener.PhaseKey, outer._2)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (listen) org.apache.spark.graftbench.Bus.drain(sc)

  /** Self time of each span: its duration minus the time its direct
    * children cover (children of one span never overlap: one thread). */
  def selfMs: Map[(String, String), Double] = {
    val all = allSpans
    val childMs = all.filter(_.parent.nonEmpty)
      .groupBy(s => (s.req, s.parent)).view.mapValues(_.map(_.ms).sum).toMap
    all.map(s => (s.req, s.name) -> (s.ms - childMs.getOrElse((s.req, s.name), 0.0)))
      .toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.startNs).map(s =>
      s"""{"req":${Json.str(s.req)},"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object WorkListener {
  val ReqKey = "graftbench.req"
  val PhaseKey = "graftbench.phase"
}

/** Accumulates job, task and task-metric counts per (request, phase).
  * The listener bus calls it from one thread; readers call
  * [[Tracer.drain]] first. */
final class WorkListener extends SparkListener {
  private val jobKey = mutable.HashMap.empty[Int, (String, String)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobSubmit = mutable.HashMap.empty[Int, Long]
  private val work = mutable.HashMap.empty[(String, String), Work]

  def snapshot: Map[(String, String), Work] = synchronized(work.toMap)

  private def at(k: (String, String)): Work = work.getOrElseUpdate(k, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val req = if (p == null) null else p.getProperty(WorkListener.ReqKey)
    if (req != null) {
      val k = (req, p.getProperty(WorkListener.PhaseKey))
      jobKey(e.jobId) = k
      jobSubmit(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      at(k).jobs += 1
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      jobSubmit.remove(j).foreach { t0 =>
        at(jobKey(j)).schedWaitMs += math.max(0L, e.taskInfo.launchTime - t0)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val w = at(jobKey(j))
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.rowsRead += m.inputMetrics.recordsRead
        w.bytesRead += m.inputMetrics.bytesRead
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}
