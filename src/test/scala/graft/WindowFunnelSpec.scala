package graft

import graft.analytics.EventQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Semantics + linearity pins for the a19 ordered window funnel core.
  *
  * The linearity test is the r12→r13 regression guard: the old
  * interval-join plan materialized |views|·|clicks| pairs per user, so a
  * single dense user (1.5k views × 1.5k clicks) pushed ~2.25M intermediate
  * rows through the plan. The window rewrite touches each event O(1)
  * times; we assert that via the plan's own row metrics, not wall time.
  */
class WindowFunnelSpec extends SparkSpec {
  import spark.implicits._

  private val T = 1000L // tiny window in µs for hand-built cases

  private def levels(rows: Seq[(Long, String, Long)]): Map[Long, Long] =
    EventQueries.funnelLevels(
        rows.toDF("user_id", "event_type", "us"), T)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("depth per user: ordered progression within the window") {
    val m = levels(Seq(
      (1L, "view", 100L),                                        // views only
      (2L, "view", 100L), (2L, "click", 200L),                   // v < c, in window
      (3L, "view", 100L), (3L, "click", 200L), (3L, "purchase", 300L),
      (4L, "purchase", 50L), (4L, "click", 60L), (4L, "view", 70L), // wrong order
      (5L, "click", 100L)))                                      // no view at all
    assert(m == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L, 5L -> 0L))
  }

  test("the whole chain must fit in T of its anchoring view") {
    val m = levels(Seq(
      // click lands outside the window of the only view -> level 1
      (1L, "view", 0L), (1L, "click", 1001L),
      // click in window, purchase past view+T -> level 2
      (2L, "view", 0L), (2L, "click", 500L), (2L, "purchase", 1500L),
      // a LATER view re-anchors: purchase fits its window -> level 3
      (3L, "view", 0L), (3L, "click", 500L), (3L, "view", 900L),
      (3L, "click", 1000L), (3L, "purchase", 1800L)))
    assert(m == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("timestamps must strictly increase (ties do not chain)") {
    val m = levels(Seq(
      (1L, "view", 100L), (1L, "click", 100L),                   // tie: no chain
      (2L, "view", 100L), (2L, "click", 101L), (2L, "purchase", 101L)))
    assert(m == Map(1L -> 1L, 2L -> 2L))
  }

  private def sumRowMetrics(p: SparkPlan): Long =
    graft.metrics.QueryMetrics.nodes(p)
      .flatMap(_._1.metrics.get("numOutputRows")).map(_.value).sum

  test("one dense user stays linear: plan row volume ~input, not views x clicks") {
    // 1.5k views + 1.5k clicks interleaved + 1 purchase, all inside one
    // window: the r12 pair plan would emit ~2.25M chain rows before its
    // DISTINCT; linear work is a small constant times the 3001 inputs.
    val n = 1500
    val dense = (0 until n).flatMap { i =>
      Seq((9L, "view", i * 2L), (9L, "click", i * 2L + 1L))
    } :+ ((9L, "purchase", n * 2L + 1L))
    val df = EventQueries.funnelLevels(
      dense.toDF("user_id", "event_type", "us"), 1000000L)
    val out = df.collect()
    assert(out.toSeq == Seq(org.apache.spark.sql.Row(9L, 3L)))
    val rowVolume = sumRowMetrics(df.queryExecution.executedPlan)
    assert(rowVolume < 50000L,
      s"funnel plan pushed $rowVolume rows for ${dense.size} inputs — " +
        "quadratic pair materialization is back")
  }
}
