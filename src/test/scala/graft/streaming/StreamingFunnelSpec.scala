package graft.streaming

import graft.SparkSpec
import graft.analytics.EventQueries
import graft.streaming.StreamingFunnel.{FunnelEvent, FunnelOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** ST17 streamed ≡ batch a19: the incremental fold, arbitrary in-order
  * batch splits, and a checkpoint restart must all land on exactly the
  * levels the batch window plan computes.
  */
class StreamingFunnelSpec extends SparkSpec {
  import spark.implicits._

  private val T = 1000L

  private def batchLevels(evs: Seq[FunnelEvent]): Map[Long, Long] =
    EventQueries.funnelLevels(
        evs.toDF().select($"user_id", $"event_type", $"us"), T)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Deterministic pseudo-random event soup: dense users, ties, wrong
    * orders, chains that exceed the window.
    */
  private def soup(seed: Long, n: Int): Seq[FunnelEvent] = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("view", "click", "purchase", "search")
    Seq.tabulate(n) { _ =>
      FunnelEvent(rnd.nextInt(7).toLong, types(rnd.nextInt(4)),
        rnd.nextInt(3000).toLong)
    }
  }

  test("fold over any in-order batch split equals the batch window plan") {
    for (seed <- 1L to 6L) {
      val evs = soup(seed, 300)
      val expect = batchLevels(evs)
      for (nSplits <- Seq(1, 3, 7)) {
        // split respecting event-time order (the ordered-log contract)
        val sorted = evs.sortBy(_.us)
        val chunks = sorted.grouped(math.max(1, sorted.size / nSplits)).toSeq
        val got = (0L until 7L).map { uid =>
          val st = chunks.foldLeft(StreamingFunnel.empty) { (acc, chunk) =>
            StreamingFunnel.fold(acc,
              chunk.filter(_.user_id == uid).map(e => (e.event_type, e.us)), T)
          }
          uid -> StreamingFunnel.levelOf(st).toLong
        }.toMap
        assert(got == expect, s"seed=$seed splits=$nSplits")
      }
    }
  }

  test("ties never chain, across a batch boundary too") {
    // view@100 then click@100 in a LATER batch: strictness must survive
    // the state hand-off (max_view_us=100 is in state, click at the same
    // timestamp must not chain to it)
    val st1 = StreamingFunnel.fold(StreamingFunnel.empty,
      Seq(("view", 100L)), T)
    val st2 = StreamingFunnel.fold(st1, Seq(("click", 100L)), T)
    assert(StreamingFunnel.levelOf(st2) == 1)
    // but a click strictly later does chain
    val st3 = StreamingFunnel.fold(st1, Seq(("click", 101L)), T)
    assert(StreamingFunnel.levelOf(st3) == 2)
  }

  test("stragglers behind the frontier are dropped, never over-count") {
    // click@100 arrives AFTER view@200 has been processed (ordering
    // contract violated). Evaluating it would compare against
    // max_view_settled=200 — a view that happened after the click — and
    // wrongly set l2. The fold must drop it: under-count only.
    val st1 = StreamingFunnel.fold(StreamingFunnel.empty,
      Seq(("view", 200L), ("buffer", 300L)), T) // view settled by t=300
    val st2 = StreamingFunnel.fold(st1, Seq(("click", 100L)), T)
    assert(StreamingFunnel.levelOf(st2) == 1,
      "late click chained to a future view (over-count)")
    assert(st2 === st1, "straggler mutated state")
    // a frontier-timestamp tie is still admitted (cross-batch tie split)
    val st3 = StreamingFunnel.fold(st1, Seq(("view", 300L)), T)
    assert(st3.max_view_frontier === 300L)
  }

  test("live query: streamed levels equal batch a19 after replay") {
    implicit val sqlCtx = spark.sqlContext
    val evs = soup(42L, 400).sortBy(_.us)
    val (h1, h2) = evs.splitAt(evs.size / 2)
    val mem = MemoryStream[FunnelEvent]
    val out = StreamingFunnel.levels(mem.toDS(), T)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("funnel_live").start()
    try {
      mem.addData(h1); q.processAllAvailable()
      mem.addData(h2); q.processAllAvailable()
    } finally q.stop()
    // last-write-wins per user over the update log
    val live = spark.table("funnel_live").as[FunnelOut].collect()
      .zipWithIndex.groupBy(_._1.user_id)
      .map { case (u, rows) => u -> rows.maxBy(_._2)._1.level.toLong }
    assert(live == batchLevels(evs))
  }

  test("checkpoint restart carries funnel state (exactly-once resume)") {
    val dir = tempDir("graft-funnel-r").toString
    val inDir = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val evs = soup(7L, 300).sortBy(_.us)
    val (h1, h2) = evs.splitAt(evs.size / 2)
    def drop(vs: Seq[FunnelEvent]): Unit =
      vs.toDF().coalesce(1).write.mode("append").parquet(inDir)
    val outDir = s"$dir/out"
    def start() = StreamingFunnel.levels(
        spark.readStream.schema(evs.toDF().schema).parquet(inDir)
          .as[FunnelEvent], T)
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch((b: org.apache.spark.sql.Dataset[FunnelOut], id: Long) =>
        b.withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(outDir))
      .start()

    drop(h1)
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    drop(h2)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()

    // last-write-wins per user over the update log (batch_id orders it)
    val live = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("level"),
        r.getAs[Long]("batch_id")))
      .groupBy(_._1)
      .map { case (u, rows) => u -> rows.maxBy(_._3)._2.toLong }
    assert(live == batchLevels(evs), "restart lost or double-applied funnel state")
  }
}
