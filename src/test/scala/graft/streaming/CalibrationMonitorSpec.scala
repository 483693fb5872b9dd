package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST36 — streamed class histogram ≡ batch histogram (exact), served
  * AUC verdict ≡ a batch twin over the same rows, closed-form planted
  * verdicts, and chunking invariance.
  */
class CalibrationMonitorSpec extends SparkSpec {

  /** Real labeled scores: the x78 signal pair (curated flag, learned
    * score) — the exact stream a production gate would emit.
    */
  private def labeledScores(): Array[(Long, Long)] =
    graft.text.TextQueries.scoredQuality(spark, sfDir)
      .select(col("source").isInCollection(
          graft.text.TextQueries.CURATED_SOURCES).cast("long").as("pos"),
        expr("(wsum * CAST(1000000 AS BIGINT)) div n_toks").as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  private def streamHist(rows: Array[(Long, Long)], chunks: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-calib").toString
    val mem = MemoryStream[(Long, Long)]
    val q = CalibrationMonitor
      .histogram(mem.toDF().toDF("pos", "score"), "pos", "score")
      .writeStream.outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) =>
        StreamingAggs.appendPartials(b, id, dir))
      .start()
    try {
      val size = math.max(1, rows.length / chunks)
      rows.grouped(size).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    StreamingAggs.mergeOnRead(spark, dir, Seq("bin"))
  }

  test("ST36: streamed histogram accumulates to the batch histogram") {
    import spark.implicits._
    val rows = labeledScores()
    assert(rows.length > 100)
    val served = streamHist(rows, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val batch = CalibrationMonitor
      .binnedLabeled(rows.toSeq.toDF("pos", "score"), "pos", "score")
      .groupBy("bin")
      .agg(sum(col("pos")).as("pos_n"), sum(lit(1L) - col("pos")).as("neg_n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(served === batch)
  }

  test("ST36: served verdict equals the batch twin; chunking-invariant") {
    import spark.implicits._
    val rows = labeledScores()
    val v1 = CalibrationMonitor.verdict(streamHist(rows, 1))
    val v5 = CalibrationMonitor.verdict(streamHist(rows, 5))
    val batch = CalibrationMonitor.verdict(
      CalibrationMonitor
        .histogram(rows.toSeq.toDF("pos", "score"), "pos", "score"))
    assert(v1 === batch)
    assert(v5 === batch)
    assert(v1._1 + v1._2 === rows.length.toLong)
  }

  test("ST36: planted separation reads AUC 10000; reversal alarms at 0") {
    import spark.implicits._
    val good = ((1L to 50L).map(i => (1L, 1000000L + i)) ++
      (1L to 50L).map(i => (0L, i))).toDF("pos", "score")
    val gv = CalibrationMonitor.verdict(
      CalibrationMonitor.histogram(good, "pos", "score"))
    assert(gv === ((50L, 50L, 10000L, false)))
    val bad = ((1L to 50L).map(i => (0L, 1000000L + i)) ++
      (1L to 50L).map(i => (1L, i))).toDF("pos", "score")
    val bv = CalibrationMonitor.verdict(
      CalibrationMonitor.histogram(bad, "pos", "score"))
    assert(bv === ((50L, 50L, 0L, true)))
  }

  test("ST36: one-class stream reads no ranking, no alarm") {
    import spark.implicits._
    val only = (1L to 20L).map(i => (1L, i)).toDF("pos", "score")
    val v = CalibrationMonitor.verdict(
      CalibrationMonitor.histogram(only, "pos", "score"))
    assert(v === ((20L, 0L, 0L, false)))
  }

  test("ST36: quantized AUC matches x77's exact AUC when bins are injective") {
    import spark.implicits._
    // small integer scores far apart in IEEE space -> one bin each
    val rows = Seq((1L, 8L), (1L, 4L), (0L, 4L), (0L, 2L), (0L, 1L))
    val v = CalibrationMonitor.verdict(
      CalibrationMonitor.histogram(rows.toDF("pos", "score"), "pos", "score"))
    // pairs pos>neg: (8,4),(8,2),(8,1),(4,2),(4,1) = 5; ties (4,4) = 1
    // AUC = (10+1)/(2*2*3) = 11/12 -> 9166 bp
    assert(v._3 === 9166L)
  }
}
