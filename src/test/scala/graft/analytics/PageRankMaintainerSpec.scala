package graft.analytics

import graft.SparkSpec
import graft.operators.PageRank
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** ST35: the maintained rank table must equal a from-scratch PageRank
  * over base ∪ appends exactly (long equality), replays must not double
  * edge mass, the staleness trigger must fire on mass — not batch count
  * — and the live drive must survive a checkpoint restart.
  */
final case class EdgeIn(u: Long, v: Long, w: Long)

class PageRankMaintainerSpec extends SparkSpec {
  import spark.implicits._

  private def sym(h: Seq[(Long, Long, Long)]) =
    h ++ h.map { case (u, v, w) => (v, u, w) }

  private val base = sym(Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L),
    (3L, 4L, 4L), (4L, 5L, 1L)))
  private val delta = sym(Seq((1L, 2L, 2L), (5L, 6L, 3L)))

  private def ranksOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("refresh equals a from-scratch rank over the folded graph, exactly") {
    val dir = tempDir("graft-st35a").toString
    val m = new PageRankMaintainer(dir)
    m.init(base.toDF("u", "v", "w"))
    val frozen = ranksOf(m.ranks(spark))
    m.appendBatch(delta.toDF("u", "v", "w"), 0L)
    // serving stays frozen until refresh
    assert(ranksOf(m.ranks(spark)) === frozen)
    m.refresh(spark)
    val expected = ranksOf(PageRank.run(spark,
      (base ++ delta).toDF("u", "v", "w")
        .groupBy("u", "v").agg(org.apache.spark.sql.functions.sum("w").as("w")),
      4))
    assert(ranksOf(m.ranks(spark)) === expected)
    // node 6 entered the graph through the delta
    assert(ranksOf(m.ranks(spark)).contains(6L))
  }

  test("replayed batches are no-ops: before refresh (overwrite) and after (ledger)") {
    val dir = tempDir("graft-st35b").toString
    val m = new PageRankMaintainer(dir)
    m.init(base.toDF("u", "v", "w"))
    m.appendBatch(delta.toDF("u", "v", "w"), 0L)
    m.appendBatch(delta.toDF("u", "v", "w"), 0L) // pre-refresh re-delivery
    m.refresh(spark)
    val once = ranksOf(m.ranks(spark))
    assert(m.appendBatch(delta.toDF("u", "v", "w"), 0L) === 0L) // folded
    m.refresh(spark)
    assert(ranksOf(m.ranks(spark)) === once)
  }

  test("staleness trigger fires on appended mass, not batch count") {
    val dir = tempDir("graft-st35c").toString
    val m = new PageRankMaintainer(dir, stalePpm = 200000L) // 20%
    m.init(base.toDF("u", "v", "w")) // mass 22
    val tiny = sym(Seq((1L, 2L, 1L))) // mass 2 < 20% of 22
    m.appendBatch(tiny.toDF("u", "v", "w"), 0L)
    assert(!m.refreshDue(spark))
    val big = sym(Seq((5L, 6L, 2L))) // cumulative 6 >= 4.4
    m.appendBatch(big.toDF("u", "v", "w"), 1L)
    assert(m.refreshDue(spark))
    m.refresh(spark)
    assert(!m.refreshDue(spark)) // baseline reset
  }

  test("live drive with a checkpoint restart converges to the batch rank") {
    val dir = tempDir("graft-st35d").toString
    val m = new PageRankMaintainer(dir)
    m.init(base.toDF("u", "v", "w"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EdgeIn]
    val all = delta.map { case (u, v, w) => EdgeIn(u, v, w) }
    val (h1, h2) = all.splitAt(all.size / 2)
    val q1 = m.start(mem.toDF(), s"$dir/ckpt")
    try { mem.addData(h1); q1.processAllAvailable() } finally q1.stop()
    val q2 = m.start(mem.toDF(), s"$dir/ckpt")
    try { mem.addData(h2); q2.processAllAvailable() } finally q2.stop()
    m.refresh(spark)
    val expected = ranksOf(PageRank.run(spark,
      (base ++ delta).toDF("u", "v", "w")
        .groupBy("u", "v").agg(org.apache.spark.sql.functions.sum("w").as("w")),
      4))
    assert(ranksOf(m.ranks(spark)) === expected)
  }
}
