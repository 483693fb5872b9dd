package graft.streaming

import graft.{Parity, SparkSpec, SparkEntry}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST11 — the streaming drift monitor must be bit-identical to the
  * oracle-gated q6 batch audit on the same data: baseline from the early
  * half, the late half streamed through a real update-mode query in
  * several triggers, served via mergeable partials + merge-on-read.
  */
class DriftMonitorSpec extends SparkSpec {

  private def halves(): (DataFrame, DataFrame) = {
    val o = Tables.load(spark, sfDir, "orders")
      .select((Parity.dec2(col("o_totalprice")) * 100).cast("long").as("cents"),
        to_date(col("o_orderdate")).as("od"))
    (o.filter(col("od") < "1997-01-01").select("cents"),
      o.filter(col("od") >= "1997-01-01").select("cents"))
  }

  test("streamed drift table equals the q6 batch audit on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val (early, late) = halves()
    val base = DriftMonitor.baseline(early)

    val dir = tempDir("graft-drift").toString
    val mem = MemoryStream[Long]
    val q = DriftMonitor
      .binCounts(mem.toDF().withColumnRenamed("value", "cents"), base)
      .writeStream.outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) =>
        StreamingAggs.appendPartials(b, id, dir))
      .start()
    try {
      // three triggers: the running counts must accumulate across batches,
      // and merge-on-read must keep each bin's newest cumulative row
      val cents = late.collect().map(_.getLong(0))
      val third = math.max(1, cents.length / 3)
      cents.grouped(third).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val served = StreamingAggs.mergeOnRead(spark, dir, Seq("bin"))
    val streamed = DriftMonitor.drift(spark, served, base)
      .collect().map(_.toSeq).toSeq

    val batch = SparkEntry.queries("q6_distribution_drift")(spark, sfDir)
      .collect().map(_.toSeq).toSeq

    assert(streamed === batch,
      s"stream/batch drift divergence:\nstream=$streamed\nbatch=$batch")
  }

  test("monitor survives a restart: resumed counts equal the batch audit") {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val (early, late) = halves()
    val base = DriftMonitor.baseline(early)
    val dir = tempDir("graft-drift-r").toString
    val inDir = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = StructType(Seq(StructField("cents", LongType)))
    val cents = late.collect().map(_.getLong(0))
    val (h1, h2) = cents.splitAt(cents.length / 2)
    def drop(vs: Array[Long]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          vs.toIndexedSeq.map(org.apache.spark.sql.Row(_)), 1), schema)
        .coalesce(1).write.mode("append").parquet(inDir)
    def start() = DriftMonitor
      .binCounts(spark.readStream.schema(schema).parquet(inDir), base)
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch((b: DataFrame, id: Long) =>
        StreamingAggs.appendPartials(b, id, s"$dir/out"))
      .start()

    drop(h1)
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    drop(h2)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()

    val served = StreamingAggs.mergeOnRead(spark, s"$dir/out", Seq("bin"))
    val streamed = DriftMonitor.drift(spark, served, base)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q6_distribution_drift")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch, "restart lost or double-counted drift state")
  }

  test("an empty trusted window fails loudly, not with an NPE") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      DriftMonitor.baseline(Seq.empty[Long].toDF("cents"))
    }
    assert(e.getMessage.contains("baseline is empty"))
  }

  test("out-of-range live values clamp into the edge bins (bins never move)") {
    import spark.implicits._
    val base = DriftMonitor.baseline(Seq(100L, 200L, 300L).toDF("cents"))
    val live = DriftMonitor
      .bucketize(Seq(-50L, 99L, 301L, 5000L).toDF("cents"), base.minC, base.maxC)
      .select("bin").as[Long].collect().sorted
    assert(live === Array(0L, 0L, 9L, 9L),
      "values outside the baseline range must land in bins 0/9")
  }
}
