package graft.streaming

import graft.{Parity, SparkSpec}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Production-ops surfaces the deployment leans on:
  *
  *  - `observe()`: execution-attached metrics (row counts, sums) read
  *    from the ACTUAL job that ran — the audit numbers a pipeline logs
  *    per load without paying a second scan. At 100 TB "count it again"
  *    is a full extra pass; observation is free.
  *  - `Trigger.AvailableNow`: the catch-up trigger — process the whole
  *    backlog in rate-limited batches, then stop. This is how a nightly
  *    job drains a streaming source with streaming semantics (checkpoint,
  *    exactly-once) but batch lifecycle.
  */
class StreamingOpsSpec extends SparkSpec {

  test("observe(): load-audit metrics come from the executed job, no second scan") {
    val obs = Observation("load_audit")
    val orders = Tables.load(spark, sfDir, "orders")
      .observe(obs,
        count(lit(1)).as("rows_read"),
        sum(Parity.dec2(col("o_totalprice"))).cast("double").as("revenue_total"))
    // one action drives both the query result AND the metrics
    val n = orders.filter(col("o_orderstatus") === "O").count()
    val m = obs.get
    assert(m("rows_read").asInstanceOf[Long] > n,
      "observed rows_read must count the PRE-filter scan")
    val expectedRevenue = Tables.load(spark, sfDir, "orders")
      .agg(sum(Parity.dec2(col("o_totalprice"))).cast("double")).head.getDouble(0)
    assert(m("revenue_total").asInstanceOf[Double] === expectedRevenue)
  }

  test("streaming observe(): per-micro-batch gauges ride the progress events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = mem.toDF().toDF("cents")
      .observe("batch_gauge", count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
      .writeStream.outputMode("append")
      .foreachBatch((b: DataFrame, _: Long) => { b.count(); () })
      .start()
    try {
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
      mem.addData(10L)
      q.processAllAvailable()
      val rows = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("batch_gauge")))
      // every non-empty micro-batch reported its gauge; totals reconcile
      assert(rows.map(_.getAs[Long]("n")).sum === 4L,
        s"per-batch observed counts must total the stream")
      assert(rows.map(_.getAs[Long]("cents_sum")).sum === 16L)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog then stops itself") {
    import spark.implicits._
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val base = tempDir("graft-avnow").toString
    val inDir = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    // a backlog of two drops BEFORE the query starts
    Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.mode("append").parquet(inDir)
    Seq(10L, 20L).toDF("v").coalesce(1).write.mode("append").parquet(inDir)

    val outDir = s"$base/out"
    def start() = spark.readStream
      .schema(StructType(Seq(StructField("v", LongType))))
      .parquet(inDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, id: Long) =>
        StreamingAggs.appendPartials(b, id, outDir))
      .start()
    def drained() = spark.read.parquet(outDir).agg(sum(col("v"))).head.getLong(0)

    // AvailableNow terminates on its own once the backlog is drained
    assert(start().awaitTermination(120000), "AvailableNow query did not self-stop")
    assert(drained() === 36L)
    // a restart with NO new data processes nothing and stops immediately
    assert(start().awaitTermination(120000))
    assert(drained() === 36L, "restart over a drained backlog must not re-process")
  }
}
