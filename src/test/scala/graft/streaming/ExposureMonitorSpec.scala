package graft.streaming

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST38 — streamed exposure census ≡ batch census (exact), served SRM
  * verdict ≡ the batch q22 verdict on the same population, chunking
  * invariance, and a planted one-arm-drop alarm.
  */
class ExposureMonitorSpec extends SparkSpec {

  private def streamCensus(rows: Array[String], chunks: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-expo").toString
    val mem = MemoryStream[String]
    val q = ExposureMonitor.census(mem.toDF().toDF("uid"), "exp1")
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
    StreamingAggs.mergeOnRead(spark, dir, Seq("variant"))
  }

  test("ST38: streamed census equals batch; verdict chunking-invariant " +
    "and equal to the q22 batch audit") {
    import spark.implicits._
    val uids = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").cast("string")).collect().map(_.getString(0))
    val v1 = ExposureMonitor.verdict(streamCensus(uids, 1))
    val v4 = ExposureMonitor.verdict(streamCensus(uids, 4))
    val batch = ExposureMonitor.verdict(
      ExposureMonitor.census(uids.toSeq.toDF("uid"), "exp1"))
    assert(v1 === batch)
    assert(v4 === batch)
    assert(v1._1 + v1._2 === uids.length.toLong)
    // the monitor and the batch q22 audit read the SAME chi2
    val q22 = graft.SparkEntry.queries("q22_srm_audit")(spark, sfDir)
      .collect().head
    assert(v1._3 === q22.getLong(4))
    assert(v1._4 === q22.getBoolean(5))
  }

  test("ST38: a dropped arm alarms with the exact closed form") {
    import spark.implicits._
    val uids = (1 to 1500).map(i => s"u$i").toArray
    // a logging pipeline that drops variant B: stream only the A uids
    // (tag with the SAME shared assignment expression, keeping the uid)
    val aUids = uids.toSeq.toDF("uid")
      .withColumn("variant",
        when(pmod(graft.functions.CrossHash.md5u60(
          concat(col("uid"), lit("#exp1"))), lit(100L)) < 50, "A")
          .otherwise("B"))
      .filter(col("variant") === "A")
      .select("uid").collect().map(_.getString(0))
    val nA = aUids.length.toLong
    val v = ExposureMonitor.verdict(streamCensus(aUids, 2))
    assert(v._1 === nA && v._2 === 0L)
    assert(v._3 === 10000L * nA) // (2a-n)^2/n with b=0 -> n*1e4
    assert(v._4)
  }

  test("ST38: empty census reads no alarm") {
    import spark.implicits._
    val empty = ExposureMonitor.census(
      Seq.empty[String].toDF("uid"), "exp1")
    assert(ExposureMonitor.verdict(empty) === ((0L, 0L, 0L, false)))
  }
}
