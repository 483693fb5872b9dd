package graft.metrics

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job-group execution metrics of one session: the one listener the
  * bench, the diagnostic tools and the plan specs read task counts,
  * shuffle, spill and the executed plan from.
  *
  * A caller tags its work with [[withGroup]] (or [[measure]]), then
  * [[fence]]s and [[take]]s the group's [[Totals]]. Spark delivers
  * listener events asynchronously, so a count read the moment an action
  * returns can miss task-end events still in the queue. The fence runs a
  * 1-task job and blocks until this collector has seen that job end.
  * This listener and the session's `ExecutionListenerBus` (which calls
  * [[onSuccess]]) share the listener bus's one shared queue, and the queue
  * delivers events in order, so every task-end and query-execution event
  * of work that finished before the fence has arrived once it returns.
  *
  * Only groups opened through this collector are tracked; other jobs
  * cost one property lookup each.
  */
final class QueryMetrics private (sc: SparkContext)
    extends SparkListener with QueryExecutionListener {
  import QueryMetrics._

  // one open group's sums: written only by the listener-bus thread, read
  // by callers after a fence
  private final class Acc {
    @volatile var jobs, tasks, runMs, shuffleWriteBytes, shuffleWriteRecords,
      spillBytes, inputRecords, resultBytes = 0L
    @volatile var firstLaunchMs = -1L
    @volatile var lastQe: QueryExecution = null
    def totals: Totals = Totals(jobs, tasks, runMs,
      if (firstLaunchMs < 0) None else Some(firstLaunchMs),
      shuffleWriteBytes, shuffleWriteRecords, spillBytes, inputRecords,
      resultBytes, Option(lastQe))
  }

  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stages = new ConcurrentHashMap[Int, Acc]()
  private val executions = new ConcurrentHashMap[Long, Acc]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()
  private val fenceJobs = new ConcurrentHashMap[Int, CountDownLatch]()
  private val fenceSeq = new AtomicLong()
  // the QueryExecution `onSuccess` just reported: the session's
  // ExecutionListenerBus sits ahead of this listener on the shared queue
  // (see `QueryMetrics.of`), so the SQLExecutionEnd event it came from is
  // delivered to `onOtherEvent` next, carrying the execution id
  @volatile private var reported: QueryExecution = null

  /** Run `body` with `group` as this thread's Spark job group, restoring
    * the caller's group afterwards. Repeated calls with one group add up.
    */
  def withGroup[T](group: String)(body: => T): T = {
    groups.putIfAbsent(group, new Acc)
    val prev = sc.getLocalProperty(JobGroupKey)
    sc.setLocalProperty(JobGroupKey, group)
    try body
    finally sc.setLocalProperty(JobGroupKey, prev)
  }

  /** Block until every listener event posted before this call has been
    * delivered to this collector.
    */
  def fence(): Unit = {
    val token = FencePrefix + fenceSeq.incrementAndGet()
    val seen = new CountDownLatch(1)
    fences.put(token, seen)
    val prev = sc.getLocalProperty(JobGroupKey)
    sc.setLocalProperty(JobGroupKey, token)
    try sc.runJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) => ())
    finally sc.setLocalProperty(JobGroupKey, prev)
    // only a dropped event (listener queue overflow) can leave this
    // unreleased; the bound keeps a harness from hanging on it
    if (!seen.await(FenceTimeoutSec, TimeUnit.SECONDS)) {
      fences.remove(token)
      System.err.println(s"[metrics] fence $token not seen within " +
        s"$FenceTimeoutSec s; listener events were dropped")
    }
  }

  /** Remove `group` and return what it accumulated (zero when it never
    * ran a task). Call after [[fence]].
    */
  def take(group: String): Totals = Option(groups.remove(group)).fold(Totals.Empty) { acc =>
    stages.values.removeIf(_ eq acc)
    executions.values.removeIf(_ eq acc)
    acc.totals
  }

  /** `body` under `group`, fenced: its result with the group's totals. */
  def measure[T](group: String)(body: => T): (T, Totals) = {
    val out =
      try withGroup(group)(body)
      catch { case e: Throwable => take(group); throw e }
    fence()
    (out, take(group))
  }

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty(JobGroupKey))).foreach { g =>
      if (g.startsWith(FencePrefix)) Option(fences.remove(g)).foreach(fenceJobs.put(js.jobId, _))
      // a stage shared with a later job keeps the group that created it
      else Option(groups.get(g)).foreach { acc =>
        acc.jobs += 1
        js.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, acc))
      }
    }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(fenceJobs.remove(je.jobId)).foreach(_.countDown())

  override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
    val acc = stages.get(ts.stageId)
    // the event carries the real launch time; the bus delivers it late
    // under load, so "now" would overstate queueing
    if (acc != null && acc.firstLaunchMs < 0) acc.firstLaunchMs = ts.taskInfo.launchTime
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val acc = stages.get(te.stageId)
    val m = te.taskMetrics
    if (acc != null && m != null) {
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      acc.spillBytes += m.diskBytesSpilled
      acc.inputRecords += m.inputMetrics.recordsRead
      acc.resultBytes += m.resultSize
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.flatMap(g => Option(groups.get(g)))
        .foreach(executions.put(s.executionId, _))
    case e: SparkListenerSQLExecutionEnd =>
      val acc = executions.remove(e.executionId)
      if (acc != null && reported != null) acc.lastQe = reported
      reported = null
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = reported = qe

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = reported = null
}

object QueryMetrics {

  /** What one job group's jobs and tasks did. `lastQe` is the last query
    * execution that finished in the group, for reading plan-node SQL
    * metrics.
    */
  final case class Totals(jobs: Long, tasks: Long, runMs: Long, firstLaunchMs: Option[Long],
      shuffleWriteBytes: Long, shuffleWriteRecords: Long, spillBytes: Long,
      inputRecords: Long, resultBytes: Long, lastQe: Option[QueryExecution])

  object Totals {
    val Empty: Totals = Totals(0, 0, 0, None, 0, 0, 0, 0, 0, None)
  }

  private val JobGroupKey = "spark.jobGroup.id"
  private val FencePrefix = "graft.metrics.fence-"
  private val FenceTimeoutSec = 120L

  private val installed = new java.util.WeakHashMap[SparkSession, QueryMetrics]()

  /** The session's collector, registered on first use. The execution
    * listener is registered first: that creates the session's
    * ExecutionListenerBus (if the session had not yet) ahead of the
    * collector on the shared queue, which the execution-id hand-off in
    * `onOtherEvent` relies on.
    */
  def of(spark: SparkSession): QueryMetrics = installed.synchronized {
    installed.computeIfAbsent(spark, _ => {
      val m = new QueryMetrics(spark.sparkContext)
      spark.listenerManager.register(m)
      spark.sparkContext.addSparkListener(m)
      m
    })
  }

  /** Every node of an executed plan with its depth, root first, with the
    * adaptive wrappers unwrapped to the final plan so scan leaves and
    * exchanges are reachable.
    */
  def nodes(plan: SparkPlan, depth: Int = 0): Seq[(SparkPlan, Int)] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, depth)
    case q: QueryStageExec => nodes(q.plan, depth)
    case other => (other, depth) +: other.children.flatMap(nodes(_, depth + 1))
  }
}
