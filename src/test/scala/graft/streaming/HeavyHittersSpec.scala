package graft.streaming

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST13 — streamed Count-Min cells must accumulate to the batch sketch
  * exactly, and probe estimates must equal the oracle-gated x22 values.
  */
class HeavyHittersSpec extends SparkSpec {

  test("monitor survives a restart: resumed cells equal the batch sketch") {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val dir = tempDir("graft-cms-r").toString
    val inDir = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = StructType(Seq(StructField("key", LongType)))
    val keys = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey")).collect().map(_.getLong(0))
    val (h1, h2) = keys.splitAt(keys.length / 2)
    def drop(vs: Array[Long]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          vs.toIndexedSeq.map(org.apache.spark.sql.Row(_)), 1), schema)
        .coalesce(1).write.mode("append").parquet(inDir)
    def start() = HeavyHitters
      .cells(spark.readStream.schema(schema).parquet(inDir))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingAggs.appendPartials(b, id, s"$dir/out"))
      .start()

    drop(h1)
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    drop(h2)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()

    val served = StreamingAggs.mergeOnRead(spark, s"$dir/out", Seq("r", "bucket"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    val batch = HeavyHitters.cells(
        Tables.load(spark, sfDir, "lineitem").select(col("l_partkey").as("key")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    assert(served.nonEmpty && served === batch,
      "restart lost or double-counted sketch cells")
  }

  test("streamed CMS cells equal the batch sketch; probes match x22") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val keys = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey")).as[Long].collect()

    val dir = tempDir("graft-cms").toString
    val mem = MemoryStream[Long]
    val q = HeavyHitters.cells(mem.toDF().toDF("key"))
      .writeStream.outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) =>
        StreamingAggs.appendPartials(b, id, dir))
      .start()
    try {
      val third = math.max(1, keys.length / 3)
      keys.grouped(third).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val served = StreamingAggs.mergeOnRead(spark, dir, Seq("r", "bucket"))
    val servedCells = served
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    val batchCells = HeavyHitters.cells(
        Tables.load(spark, sfDir, "lineitem").select(col("l_partkey").as("key")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    assert(servedCells.nonEmpty && servedCells === batchCells,
      "streamed running cells must equal the batch sketch")

    // probe estimates from streamed state == the x22 batch query's column
    val probes = Tables.load(spark, sfDir, "part")
      .filter(col("p_partkey") <= 10).select(col("p_partkey").as("key"))
    val streamedEst = HeavyHitters.estimate(probes, served)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val x22 = graft.SparkEntry.queries("x22_countmin")(spark, sfDir)
      .select(col("p_partkey"), col("est_count"), col("true_count"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(x22.nonEmpty)
    x22.foreach { case (k, est, truth) =>
      assert(streamedEst(k) === est,
        s"streamed estimate for $k = ${streamedEst(k)} != x22's $est")
      assert(streamedEst(k) >= truth, s"CM guarantee violated for $k")
    }
  }
}
