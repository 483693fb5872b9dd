package graft.streaming

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST12 — streamed histogram ≡ batch histogram (exact), and every
  * streamed bracket contains the exact batch percentile.
  */
class QuantileMonitorSpec extends SparkSpec {

  private def lineitems(): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").cast("double").as("price"))

  test("streamed histogram accumulates to the batch histogram exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = lineitems().as[(String, Double)].collect()
    val dir = tempDir("graft-quant").toString
    val mem = MemoryStream[(String, Double)]
    val q = QuantileMonitor
      .histogram(mem.toDF().toDF("flag", "price"), "flag", "price")
      .writeStream.outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) =>
        StreamingAggs.appendPartials(b, id, dir))
      .start()
    try {
      val third = math.max(1, rows.length / 3)
      rows.grouped(third).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val served = StreamingAggs.mergeOnRead(spark, dir, Seq("g", "bin"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val batch = QuantileMonitor.binned(lineitems(), "flag", "price")
      .groupBy("g", "bin").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(served.nonEmpty && served === batch,
      "streamed running histogram must equal the batch histogram")

    // brackets from the STREAMED state must contain the exact percentile
    val servedDf = StreamingAggs.mergeOnRead(spark, dir, Seq("g", "bin"))
    val brackets = QuantileMonitor.brackets(servedDf, Seq(0.5, 0.95, 0.99))
    val exact = lineitems()
      .groupBy("flag")
      .agg(percentile(col("price"), lit(0.5)).as("p50"),
        percentile(col("price"), lit(0.95)).as("p95"),
        percentile(col("price"), lit(0.99)).as("p99"))
      .collect().map(r => r.getString(0) ->
        Map(0.5 -> r.getDouble(1), 0.95 -> r.getDouble(2), 0.99 -> r.getDouble(3)))
      .toMap
    assert(brackets.nonEmpty)
    brackets.foreach { b =>
      val v = exact(b.group)(b.quantile)
      assert(b.lo <= v && v <= b.hi,
        s"exact ${b.quantile} of ${b.group} = $v outside bracket [${b.lo}, ${b.hi}]")
      // 16 bin bits: sign+exponent+4 mantissa bits → ~3% relative width
      assert((b.hi - b.lo) <= math.abs(v) * 0.07 + 1e-9,
        s"bracket [${b.lo}, ${b.hi}] too wide for $v")
    }
  }

  test("distributed brackets equal a reference driver fold at 5k groups") {
    // the cumulation must scale past dashboard grains: 5,000 groups of
    // deterministic values, new distributed path vs the plain driver fold
    // it replaced, exact equality on every bracket
    val hist = QuantileMonitor.binned(
      spark.range(100000).selectExpr(
        "concat('g', id % 5000) AS flag",
        "CAST((id DIV 5000) * 7 % 97 AS DOUBLE) - 31.0 AS price"),
      "flag", "price")
      .groupBy("g", "bin").agg(count(lit(1)).as("n"))
      .cache()
    try {
      val ps = Seq(0.5, 0.95, 0.99)
      val got = QuantileMonitor.brackets(hist, ps)
      // reference: per-group sort + linear scan on the driver
      val ref = hist.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
          val bins = rows.map(r => (r._2, r._3)).sortBy(_._1)
          val n = bins.map(_._2).sum
          ps.map { p =>
            val pos = p * (n - 1)
            def binAt(rank: Long): Long = {
              var before = 0L
              bins.find { case (_, c) =>
                if (rank < before + c) true else { before += c; false }
              }.get._1
            }
            val lo = QuantileMonitor.binBounds(binAt(math.floor(pos).toLong), 16)._1
            val hi = QuantileMonitor.binBounds(binAt(math.ceil(pos).toLong), 16)._2
            QuantileMonitor.Bracket(g, p, n, lo, hi)
          }
        }.sortBy(b => (b.group, b.quantile))
      assert(got.size === 15000)
      assert(got === ref,
        "distributed bracket cumulation must equal the driver fold")
    } finally { hist.unpersist(); () }
  }

  test("monitor survives a restart: checkpointed source + idempotent partials") {
    import org.apache.spark.sql.types._
    val base = tempDir("graft-qrestart").toString
    val inDir = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = StructType(Seq(StructField("flag", StringType),
      StructField("price", DoubleType)))

    val all = lineitems().limit(2000).collect()
    val (h1, h2) = all.splitAt(all.length / 2)
    def drop(rows: Array[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
        .coalesce(1).write.mode("append").parquet(inDir)
    val outDir = s"$base/out"
    def start() = QuantileMonitor
      .histogram(spark.readStream.schema(schema).parquet(inDir), "flag", "price")
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingAggs.appendPartials(b, id, outDir))
      .start()

    drop(h1)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    drop(h2)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // the restarted aggregation resumed its state: merged counters equal
    // the batch histogram over BOTH halves (nothing lost, nothing doubled)
    val served = StreamingAggs.mergeOnRead(spark, outDir, Seq("g", "bin"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val batch = QuantileMonitor.binned(
        spark.createDataFrame(
          spark.sparkContext.parallelize(all.toIndexedSeq, 2), schema),
        "flag", "price")
      .groupBy("g", "bin").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(served.nonEmpty && served === batch,
      "restart lost or double-counted monitor state")
  }

  test("edge bins clamp to infinities, never NaN (Infinity-bearing streams)") {
    // bottom edge (t=0, negative-NaN space) and top edge (t=-1, positive-
    // NaN space) must clamp; a NaN edge would poison every containment
    assert(QuantileMonitor.invertSortable(0L).isNegInfinity)
    assert(QuantileMonitor.invertSortable(-1L).isPosInfinity)
    val top = QuantileMonitor.binBounds((1L << 16) - 1, 16)
    assert(!top._1.isNaN && top._2.isPosInfinity, s"top bin $top")
    val bottom = QuantileMonitor.binBounds(0L, 16)
    assert(bottom._1.isNegInfinity && !bottom._2.isNaN, s"bottom bin $bottom")
    // a stream value of +Infinity lands in a bin whose bracket is finite-
    // or-infinite, never NaN
    val t = {
      val s = java.lang.Double.doubleToLongBits(Double.PositiveInfinity)
      s | java.lang.Long.MIN_VALUE
    }
    val (lo, hi) = QuantileMonitor.binBounds(t >>> 48, 16)
    assert(!lo.isNaN && !hi.isNaN && hi.isPosInfinity)
  }

  test("property: every double lies inside its own bin's bounds (500 seeded cases)") {
    val rnd = new scala.util.Random(1234)
    val extremes = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, Double.MinValue, 1e-308, -1e-308,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val cases = extremes ++ (1 to 490).map { _ =>
      // span the full exponent range, both signs
      val m = rnd.nextDouble() * 2 - 1
      val e = rnd.nextInt(600) - 300
      m * math.pow(10, e)
    }
    for (v <- cases; bits <- Seq(8, 16, 24)) {
      val t = {
        val s = java.lang.Double.doubleToLongBits(v)
        if (s < 0) ~s else s | java.lang.Long.MIN_VALUE
      }
      val (lo, hi) = QuantileMonitor.binBounds(t >>> (64 - bits), bits)
      assert(!lo.isNaN && !hi.isNaN, s"NaN bound for $v at $bits bits")
      assert(lo <= v && v <= hi, s"$v outside its bin [$lo, $hi] at $bits bits")
    }
  }

  test("bin bounds invert the sortable transform at both edges") {
    for (v <- Seq(0.0, 1.5, -2.75, 1e300, -1e-300, 42.42)) {
      val t = {
        val s = java.lang.Double.doubleToLongBits(v)
        if (s < 0) ~s else s | java.lang.Long.MIN_VALUE
      }
      val bin = t >>> 48
      val (lo, hi) = QuantileMonitor.binBounds(bin, 16)
      assert(lo <= v && v <= hi, s"$v outside its own bin [$lo, $hi]")
    }
  }
}
