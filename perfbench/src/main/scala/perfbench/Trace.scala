package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark listener counts attached to one span. Every field is a running
  * total over the jobs whose submitting thread carried the span id (or
  * the id of one of its descendants).
  */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  var rowsWritten = 0L
  var bytesWritten = 0L
  var firstTaskMs = 0L // wall-clock ms of the first task launch, 0 = none

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "task_s" -> taskNs / 1e9,
    "shuffle_mb" -> shuffleBytes / 1048576.0, "spill_mb" -> spillBytes / 1048576.0,
    "rows_read" -> rowsRead, "bytes_read" -> bytesRead,
    "rows_written" -> rowsWritten, "bytes_written" -> bytesWritten,
    "first_task_ms" -> firstTaskMs)
}

final case class Span(id: Long, parent: Long, name: String,
    attrs: Map[String, Any], startNs: Long, startMs: Long, ancestors: List[Long]) {
  @volatile var endNs: Long = 0L
  @volatile var gcMs: Long = 0L
  val counts = new Counts
}

/** Span recorder for traced runs. Spans are kept in memory and written
  * out once, at exit. In an untraced run every call is a cheap pass-through
  * so the same workload code runs in both modes.
  *
  * Attribution: a span sets the Spark local property `perfbench.span` on
  * its thread, so every job the layer call submits (broadcast and subquery
  * threads capture the submitter's properties) is tagged with it; the
  * listener adds each task's metrics to that span and to all its
  * ancestors.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val progress = mutable.ArrayBuffer.empty[String]
  private val PropKey = "perfbench.span"

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Run `body` inside a span named `name`; returns its value. */
  def span[T](sc: SparkContext, name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = Span(nextId.getAndIncrement(), if (parent == null) 0L else parent.id,
        name, attrs.toMap, System.nanoTime(), System.currentTimeMillis(),
        if (parent == null) Nil else parent.id :: parent.ancestors)
      spans.put(s.id, s)
      val prevProp = sc.getLocalProperty(PropKey)
      current.set(s)
      sc.setLocalProperty(PropKey, s.id.toString)
      val gc0 = gcMillis
      try body
      finally {
        s.endNs = System.nanoTime()
        s.gcMs = gcMillis - gc0
        current.set(parent)
        sc.setLocalProperty(PropKey, prevProp)
      }
    }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(PropKey)))
      .flatMap(id => Option(spans.get(id.toLong)))

  private def chain(s: Span): Iterator[Span] =
    Iterator.single(s) ++ s.ancestors.iterator.flatMap(a => Option(spans.get(a)))

  /** Spark listener that attaches task metrics to the tagged spans. */
  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        e.stageIds.foreach(id => stageSpan.put(id, s))
        chain(s).foreach(x => x.counts.synchronized(x.counts.jobs += 1))
      }

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        chain(s).foreach { x =>
          x.counts.synchronized {
            if (x.counts.firstTaskMs == 0L) x.counts.firstTaskMs = e.taskInfo.launchTime
          }
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        chain(s).foreach { x =>
          val c = x.counts
          c.synchronized {
            c.tasks += 1
            c.taskNs += m.executorRunTime * 1000000L
            c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.rowsRead += m.inputMetrics.recordsRead
            c.bytesRead += m.inputMetrics.bytesRead
            c.rowsWritten += m.outputMetrics.recordsWritten
            c.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Streaming progress reports, kept verbatim (Spark's own JSON). */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress.json)
  }

  /** Spans as JSON lines, one per span, ordered by start. */
  def spanLines: Seq[String] = spans.values().asScala.toSeq.sortBy(_.startNs).map { s =>
    Main.json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "start_ms" -> s.startMs, "gc_s" -> s.gcMs / 1e3,
      "attrs" -> s.attrs, "counts" -> s.counts.toMap))
  }

  def progressLines: Seq[String] = progress.synchronized(progress.toList)
}
