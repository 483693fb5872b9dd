package graft.metrics

import graft.{Bench, SparkSpec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The collector's counts are exact the moment the fence returns, and
  * stay apart per job group.
  */
class QueryMetricsSpec extends SparkSpec {

  // 4 range tasks write 10,000 shuffle records; repartition(3) is a
  // user-set partition count, so AQE keeps 3 reduce tasks
  private def planted(rows: Long, splits: Int, parts: Int): Unit =
    Bench.force(spark.range(0, rows, 1, splits).repartition(parts).toDF())

  test("a planted job's tasks and shuffle records, read right after the fence") {
    val metrics = QueryMetrics.of(spark)
    spark.sparkContext.setJobGroup("caller-group", "caller")
    try {
      val (_, t) = metrics.measure("planted")(planted(10000, 4, 3))
      assert(t.tasks == 7)
      assert(t.shuffleWriteRecords == 10000)
      assert(t.shuffleWriteBytes > 0 && t.runMs >= 0)
      assert(t.firstLaunchMs.nonEmpty)
      // the noop write's execution, walked through the adaptive wrappers
      // to the exchange it ran
      val nodes = t.lastQe.toSeq.flatMap(qe => QueryMetrics.nodes(qe.executedPlan))
      assert(nodes.head._2 == 0)
      val exchanges = nodes.collect { case (e: ShuffleExchangeExec, d) => (e, d) }
      assert(exchanges.map(_._1.metrics("shuffleRecordsWritten").value) == Seq(10000L))
      assert(exchanges.forall(_._2 > 0))
      // the caller's own job group is restored
      assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == "caller-group")
    } finally spark.sparkContext.clearJobGroup()
    // a taken group is gone
    assert(metrics.take("planted") == QueryMetrics.Totals.Empty)
  }

  test("the fence waits out a lagging listener bus") {
    val metrics = QueryMetrics.of(spark)
    // a listener behind the collector on the shared queue that holds each
    // task-end event for 100 ms, so the planted job returns while most of
    // its task ends are still queued; `measure` must read them all anyway
    val lag = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(lag)
    try {
      val (_, t) = metrics.measure("lagged")(planted(10000, 4, 3))
      assert((t.tasks, t.shuffleWriteRecords) == ((7L, 10000L)))
    } finally spark.sparkContext.removeSparkListener(lag)
  }

  test("two concurrent job groups do not mix counts") {
    val metrics = QueryMetrics.of(spark)
    val start = new java.util.concurrent.CyclicBarrier(2)
    val threads = Seq(("a", 10000L, 4, 3), ("b", 6000L, 2, 2)).map {
      case (g, rows, splits, parts) =>
        val t = new Thread(() => {
          start.await()
          metrics.withGroup(g)(planted(rows, splits, parts))
        })
        t.start()
        t
    }
    threads.foreach(_.join())
    metrics.fence()
    val a = metrics.take("a")
    val b = metrics.take("b")
    assert((a.tasks, a.shuffleWriteRecords) == ((7L, 10000L)))
    assert((b.tasks, b.shuffleWriteRecords) == ((4L, 6000L)))
  }
}
