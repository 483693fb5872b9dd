package graft.streaming

import graft.SparkSpec
import graft.streaming.CusumGate.{CusumOut, Obs}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** ST21 streamed ≡ batch e11: the incremental fold over any in-order
  * batch split, a live MemoryStream drive (including the e11 planted
  * series against the engine's own first-alarm answer), and a
  * checkpoint restart.
  */
class CusumGateSpec extends SparkSpec {
  import spark.implicits._

  private def recursion(obs: Seq[Obs]): (Long, Long) = {
    var s = 0L; var alarm = -1L
    obs.sortBy(_.t).foreach { o =>
      s = math.max(0L, s + (o.n_pre * o.x - o.total_pre - o.total_pre / 10))
      if (alarm < 0 && s >= 2 * o.total_pre) alarm = o.t
    }
    (s, alarm)
  }

  private def series(seed: Long, key: String, tp: Long, np: Long): Seq[Obs] = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(120) { i =>
      val base = (tp / np).toInt
      Obs(key, i + 1L, (base + rnd.nextInt(base) - base / 2 +
        (if (i > 80) base / 5 else 0)).toLong, tp, np)
    }
  }

  test("fold over any in-order split equals the single recursion") {
    for (seed <- 1L to 6L; splits <- Seq(1, 4, 9)) {
      val obs = series(seed, "k", 4400L, 100L)
      val chunks = obs.grouped(math.max(1, obs.size / splits)).toSeq
      val st = chunks.foldLeft(CusumGate.empty)((acc, c) =>
        CusumGate.fold(acc, c))
      assert((st.s, st.first_alarm_t) === recursion(obs),
        s"seed=$seed splits=$splits")
    }
  }

  test("replayed periods at or before the frontier are ignored") {
    val obs = series(3L, "k", 4400L, 100L)
    val once = CusumGate.fold(CusumGate.empty, obs)
    val replayed = CusumGate.fold(once, obs.take(50)) // duplicate delivery
    assert(replayed === once, "replay must not double-apply deviations")
  }

  test("live query matches per-key recursions, incl. the e11 planted series") {
    import org.apache.spark.sql.functions._
    // the e11 series, planted exactly as the batch query plants it
    val weekly = graft.sources.Tables.load(spark, sfDir, "orders")
      .groupBy(to_date(date_trunc("week", col("o_orderdate"))).as("wk"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("wk").collect().map(_.getLong(1)).toSeq
    val shiftT = weekly.size * 2 / 3
    val pre = weekly.take(shiftT - 1)
    val (tp, np) = (pre.sum, pre.size.toLong)
    val e11Obs = weekly.zipWithIndex.map { case (c, i) =>
      Obs("orders", i + 1L, if (i + 1 >= shiftT) c + tp / np / 5 else c,
        tp, np)
    }
    val other = series(11L, "other", 8800L, 200L)
    val all = (e11Obs ++ other).sortBy(_.t)
    val (h1, h2) = all.splitAt(all.size / 3)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Obs]
    val q = CusumGate.alarms(mem.toDS()).writeStream.outputMode("update")
      .format("memory").queryName("cusum_live").start()
    try {
      mem.addData(h1); q.processAllAvailable()
      mem.addData(h2); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table("cusum_live").as[CusumOut].collect()
      .zipWithIndex.groupBy(_._1.key)
      .map { case (k, rows) =>
        val last = rows.maxBy(_._2)._1
        k -> ((last.stat, last.first_alarm_t))
      }
    assert(live("orders") === recursion(e11Obs))
    assert(live("other") === recursion(other))
    // and the stream's alarm equals the BATCH e11 engine answer
    val e11Row = graft.analytics.ExtendedSqlQueries.e11CusumChangepoint
      .run(spark, sfDir).collect().head
    val batchAlarm = Option(e11Row.get(2)).map(_.asInstanceOf[Long])
      .getOrElse(-1L)
    assert(live("orders")._2 === batchAlarm,
      "streamed first alarm must equal batch e11 on the same series")
  }

  test("checkpoint restart carries CUSUM state") {
    val dir = tempDir("graft-cusum-r").toString
    val inDir = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val obs = series(5L, "k", 4400L, 100L)
    val (h1, h2) = (obs.take(60), obs.drop(60))
    def drop(vs: Seq[Obs]): Unit =
      vs.toDF().coalesce(1).write.mode("append").parquet(inDir)
    val outDir = s"$dir/out"
    def start() = CusumGate.alarms(
        spark.readStream.schema(obs.toDF().schema).parquet(inDir).as[Obs])
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch((b: org.apache.spark.sql.Dataset[CusumOut], id: Long) =>
        b.withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(outDir))
      .start()
    drop(h1)
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    drop(h2)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()
    val last = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("stat"),
        r.getAs[Long]("first_alarm_t")))
      .maxBy(_._1)
    assert((last._2, last._3) === recursion(obs),
      "restart lost or double-applied CUSUM state")
  }
}
