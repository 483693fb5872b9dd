package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end speed layer on the canonical events table: file stream →
  * dedup → sessionization + funnel MV with real triggers and checkpoints,
  * including exactly-once restart semantics.
  */
class SpeedLayerSpec extends SparkSpec {

  test("speed layer runs end-to-end and restart reprocesses nothing") {
    val base = tempDir("graft-speed").toString
    // the file source requires a directory; stage the table file into one
    val inDir = Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"))
    val cfg = SpeedLayer.Config(
      eventsPath = inDir.toString,
      outDir = s"$base/out",
      checkpointDir = s"$base/chk")

    val queries = SpeedLayer.run(spark, cfg)
    try queries.foreach(_.awaitTermination(120000))
    finally queries.foreach(_.stop())

    val sessions = spark.read.parquet(s"$base/out/sessions")
    assert(sessions.count() > 0)
    // every emitted partial carries accumulated counters
    assert(sessions.filter(col("event_count") <= 0).count() === 0)
    // funnel partials exist and merge-on-read produces per-hour-tier rows
    val funnel = StreamingAggs.mergeOnRead(spark, s"$base/out/funnel",
      Seq("window", "user_tier"))
    assert(funnel.count() > 0)
    val totalEvents = funnel.agg(sum("n_events")).head().getLong(0)
    val srcCount = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(totalEvents === srcCount, "funnel must account for every event")
    // checkpoints written
    assert(new java.io.File(s"$base/chk/sessions").exists())
    assert(new java.io.File(s"$base/chk/funnel").exists())

    // restart with same checkpoints: AvailableNow finds no new files
    val before = sessions.count()
    val queries2 = SpeedLayer.run(spark, cfg)
    try queries2.foreach(_.awaitTermination(60000))
    finally queries2.foreach(_.stop())
    assert(spark.read.parquet(s"$base/out/sessions").count() === before,
      "restart must not duplicate output (exactly-once)")
  }

  test("session totals reconcile with source purchases") {
    val base = tempDir("graft-speed2").toString
    val inDir = Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"))
    val cfg = SpeedLayer.Config(inDir.toString, s"$base/out", s"$base/chk")
    val qs = SpeedLayer.run(spark, cfg)
    try qs.foreach(_.awaitTermination(120000))
    finally qs.foreach(_.stop())
    val sessions = spark.read.parquet(s"$base/out/sessions")
    // final per-user purchase counts (latest partial per user) == source
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("event_count").desc)
    val latest = sessions.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val sessionPurchases = latest.agg(sum("purchases")).head().getLong(0)
    val srcPurchases = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("event_type") === "purchase").count()
    assert(sessionPurchases === srcPurchases)
  }

  test("session state survives restart: new files continue existing sessions") {
    val base = tempDir("graft-speed3").toString
    val inDir = Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    // Tables.load normalizes the on-disk ts encoding (nanos-long vs native
    // micros) to one TimestampType `ts`; re-writing through it gives the
    // stream input files a shape eventStream's unit probe classifies
    val src = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // split on EVENT TIME (not id): batch2 rows older than the recovered
    // watermark would be legitimately dropped as late and fail the count
    val tsMedian = src.select(unix_micros(col("ts")).as("us")).orderBy("us")
      .collect()(src.count().toInt / 2).getLong(0)
    src.filter(unix_micros(col("ts")) < tsMedian).write.parquet(s"$inDir/batch1")
    // huge inactivity window: every user keeps ONE session, so continuity
    // across the restart is assertable for the whole population
    val timeoutMs = 365L * 24 * 3600 * 1000
    val cfg = SpeedLayer.Config(s"$inDir/*", s"$base/out", s"$base/chk",
      sessionTimeoutMs = timeoutMs)
    val q1 = SpeedLayer.run(spark, cfg)
    try q1.foreach(_.awaitTermination(120000)) finally q1.foreach(_.stop())
    // second half arrives while the query is down
    src.filter(unix_micros(col("ts")) >= tsMedian).write.parquet(s"$inDir/batch2")
    val q2 = SpeedLayer.run(spark, cfg)
    try q2.foreach(_.awaitTermination(120000)) finally q2.foreach(_.stop())
    val sessions = spark.read.parquet(s"$base/out/sessions")
    // with a timeout longer than the data span, every user must end with
    // ONE session whose final event_count equals their source events —
    // i.e. run 2 folded new events into the state recovered from run 1
    val perUserSrc = src.groupBy("user_id")
      .agg(count(lit(1)).as("src_events"))
    val perUserMax = sessions.groupBy("user_id")
      .agg(max("event_count").as("session_events"))
    val mismatched = perUserMax.join(perUserSrc, "user_id")
      .filter(col("session_events") =!= col("src_events")).count()
    assert(mismatched === 0,
      "restarted stream must fold new events into recovered session state")
    // funnel partials across both runs still account for every event
    val funnelTotal = StreamingAggs.mergeOnRead(spark, s"$base/out/funnel",
      Seq("window", "user_tier"))
      .agg(sum("n_events")).head().getLong(0)
    assert(funnelTotal === src.count())
  }
}
