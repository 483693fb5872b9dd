package graft.streaming

import graft.SparkSpec
import graft.sources.Tables
import java.nio.file.Files

/** ST8 — stream-stream interval join: the streaming attribution output
  * must equal the identical plan evaluated statically (watermarks are
  * no-ops in batch; a single AvailableNow batch has no late data, so the
  * stream drops nothing and the sets must match exactly).
  */
class AttributionSpec extends SparkSpec {

  test("streaming view->purchase pairs equal the batch interval join") {
    val base = tempDir("graft-attr").toString
    val inDir = Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"))

    val cfg = SpeedLayer.Config(inDir.toString, s"$base/out", s"$base/chk")
    val streamed = Attribution.viewPurchasePairs(
      SpeedLayer.eventStream(spark, cfg))
    val q = streamed.writeStream
      .format("memory").queryName("st8_pairs")
      .option("checkpointLocation", s"$base/chk/pairs")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()

    val batchSchema =
      if (Tables.eventsTsIsNanos(spark, inDir.toString)) Tables.events
      else Tables.eventsMicros
    val batch = Attribution.viewPurchasePairs(
      SpeedLayer.adapt(spark.read.schema(batchSchema)
        .parquet(inDir.toString)))

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.select("purchase_id", "view_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet

    val s1 = pairSet(spark.table("st8_pairs"))
    val s2 = pairSet(batch)
    assert(s2.nonEmpty, "the corpus must produce attribution pairs")
    assert(s1 === s2, "stream and batch interval joins must emit the same pairs")

    // interval semantics: every pair's view precedes its purchase by <= 1h
    val bad = batch.filter(
      org.apache.spark.sql.functions.col("view_ts") >
        org.apache.spark.sql.functions.col("purchase_ts")).count()
    assert(bad === 0)
  }

  test("left-outer interval join: organic purchases emit nulls after watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1600000000000L
    def ev(id: String, user: Long, typ: String, tsMs: Long) =
      Events.Event(id, user, s"s$user", typ,
        new java.sql.Timestamp(tsMs), "basic", "{}")
    val mem = MemoryStream[Events.Event]
    val q = Attribution.viewPurchasePairsOuter(mem.toDS())
      .writeStream.format("memory").queryName("st11_outer")
      .outputMode("append").start()
    try {
      // user 1: view 10 min before purchase (attributed)
      // user 2: purchase with NO prior view (organic)
      mem.addData(
        ev("v1", 1, "product_view", base),
        ev("p1", 1, "purchase", base + 600000L),
        ev("p2", 2, "purchase", base + 600000L))
      q.processAllAvailable()
      // watermark jump on BOTH sides (each withWatermark node only sees
      // its own filtered rows): 3h ahead → watermark passes base+2h,
      // beyond p2's interval end, so the organic row can flush
      mem.addData(
        ev("v9", 9, "product_view", base + 10800000L),
        ev("p9", 9, "purchase", base + 10800000L))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, purchase_id, view_id FROM st11_outer ORDER BY user_id")
        .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      assert(rows.contains((1L, "p1", Some("v1"))),
        s"attributed pair missing: ${rows.toSeq}")
      assert(rows.contains((2L, "p2", None)),
        s"organic purchase must emit with null view: ${rows.toSeq}")
      // matched rows never duplicate as organic
      assert(!rows.contains((1L, "p1", None)))
    } finally q.stop()
  }
}
