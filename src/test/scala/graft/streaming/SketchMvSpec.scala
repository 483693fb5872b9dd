package graft.streaming

import java.sql.Timestamp

import graft.{MaterializationGuardSpec, SparkSpec}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import Events.Event

/** The speed-layer MVs count distinct users on the DataSketches HLL
  * kernel, and report an estimate that does not depend on how the sketch
  * was merged: a stream folded over many micro-batches, a restarted
  * stream and a batch recompute must serve the same number.
  */
class SketchMvSpec extends SparkSpec {

  private val hour0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime

  private def event(id: String, user: Long, tier: String, tsMs: Long) =
    Event(id, user, s"s$user", Events.eventTypes((user % Events.eventTypes.size).toInt),
      new Timestamp(tsMs), tier, null)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("5,000 users over five micro-batches: the streamed estimate is within 3 " +
    "standard errors and equals a single-partition batch recompute exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = (0 until 5).map(b => (b * 1000 until (b + 1) * 1000)
      .map(u => event(s"b$b-u$u", u.toLong, "gold", hour0 + u)))
    // the same distinct count as the MV, read with plain hll_sketch_estimate
    def plain(events: Dataset[Event]): DataFrame = events.toDF
      .groupBy(window(col("ts"), "1 hour"), col("user_tier"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(StreamingAggs.LgConfigK)))
        .as("approx_users"))

    val mem = MemoryStream[Event]
    val (mv, plainMv) = (new PinnedMv(Seq("window", "user_tier")),
      new PinnedMv(Seq("window", "user_tier")))
    val queries = Seq(StreamingAggs.funnel(mem.toDS(), watermark = None) -> mv,
        plain(mem.toDS()) -> plainMv).map { case (df, sink) =>
      df.writeStream.outputMode("update")
        .foreachBatch((b: DataFrame, id: Long) => sink.update(b, id)).start()
    }
    try batches.foreach { b => mem.addData(b); queries.foreach(_.processAllAvailable()) }
    finally queries.foreach(_.stop())

    val streamed = mv.rows.map(_.getAs[Long]("approx_users"))
    assert(streamed.size === 1)
    assert(math.abs(streamed.head - 5000) <= 3 * 0.016 * 5000, s"estimate ${streamed.head}")

    // one partition: each group's final aggregate meets a single partial
    val recompute = spark.createDataset(batches.flatten).coalesce(1)
    // object-hash aggregates with one sketch buffer per distinct column:
    // the estimate's two references to a column's sketch share one
    val plan = StreamingAggs.funnel(recompute, watermark = None).queryExecution.sparkPlan
    assert(plan.collect { case a: ObjectHashAggregateExec =>
      a.aggregateExpressions.count(_.aggregateFunction.isInstanceOf[HllSketchAgg])
    } === Seq(2, 2))
    assert(plan.collect { case h: HashAggregateExec => h }.isEmpty)
    assert(sameRows(mv.toDF(spark), StreamingAggs.funnel(recompute, watermark = None)),
      "streamed MV differs from the batch recompute")
    // the plain estimate is HIP for the never-merged batch sketch and the
    // composite one for the streamed sketch, so the two disagree
    val plainStreamed = plainMv.rows.head.getAs[Long]("approx_users")
    val plainBatch = plain(recompute).head.getAs[Long]("approx_users")
    assert(plainStreamed !== plainBatch)
  }

  test("a funnel stopped mid-stream and restarted from its checkpoint serves " +
    "the batch recompute") {
    import spark.implicits._
    val base = tempDir("graft-sketch-restart")
    val (in, ckpt) = (base.resolve("in").toString, base.resolve("ckpt").toString)
    java.nio.file.Files.createDirectories(base.resolve("in"))
    val rnd = new scala.util.Random(7)
    val tiers = Seq("free", "basic", "premium", "enterprise")
    // six files alternating between two hours, so the restarted query
    // merges into restored state; ~750 distinct users per (hour, tier)
    def land(f: Int): Unit = spark.createDataset((0 until 1000).map { i =>
        val user = rnd.nextInt(100000).toLong
        event(s"f$f-$i", user, tiers((user % 4).toInt), hour0 + (f % 2) * 3600000L + i)
      }).coalesce(1).write.mode("append").parquet(in)
    val mv = new PinnedMv(Seq("window", "user_tier"))
    def start() = StreamingAggs.funnel(spark.readStream.schema(Events.schema)
        .option("maxFilesPerTrigger", 1).parquet(in).as[Event], watermark = None)
      .writeStream.outputMode("update").option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, id: Long) => mv.update(b, id)).start()

    (0 until 3).foreach(land)
    val first = start()
    try first.processAllAvailable() finally first.stop()
    (3 until 6).foreach(land)
    val second = start()
    try second.processAllAvailable() finally second.stop()
    assert(first.lastProgress.batchId === 2 && second.lastProgress.batchId === 5)

    val landed = spark.read.schema(Events.schema).parquet(in).as[Event]
    assert(sameRows(mv.toDF(spark), StreamingAggs.funnel(landed, watermark = None)),
      "restarted MV differs from the batch recompute")
    assert(mv.rows.map(_.getAs[Long]("approx_users")).forall(_ > 600))
  }

  test("no main source uses HLL++ approx_count_distinct") {
    assert(MaterializationGuardSpec.mainSourcesContaining("approx_count_distinct") === Nil)
  }
}
