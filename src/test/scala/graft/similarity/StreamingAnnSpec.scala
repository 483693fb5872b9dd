package graft.similarity

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** ST15 streaming ANN serving: per-batch results equal the batch probe
  * exactly, the TTL snapshot isolates an in-flight append, and a
  * zero-TTL instance sees appended vectors on the very next batch.
  */
class StreamingAnnSpec extends SparkSpec {

  private def buildIndex(dir: String): Unit = {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (index, cents) = Ivf.buildIndex(vecs, pmod(col("vec_id"), lit(16L)),
      iterations = 1)
    Ivf.save(index, cents, dir)
  }

  private def queriesOf(ids: Seq[Long]) = Tables.load(spark, sfDir, "embeddings")
    .filter(col("vec_id").isin(ids: _*))
    .select(col("vec_id"), col("embedding"))

  test("streamed per-batch results equal the batch probe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("graft-st15").toString
    buildIndex(s"$root/idx")
    val ann = new StreamingAnn(s"$root/idx", ttlMs = Long.MaxValue)

    val all = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = ann.start(mem.toDF().toDF("vec_id", "embedding"),
      s"$root/out", s"$root/ckpt", triggerMs = 100)
    try {
      mem.addData(all.filter(_._1 < 4).toSeq)
      q.processAllAvailable()
      mem.addData(all.filter(t => t._1 >= 4 && t._1 < 8).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$root/out")
      .select("q_id", "vec_id", "cos_sim", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val (index, cents) = Ivf.load(spark, s"$root/idx")
    val batch = Ivf.topK(index, cents, queriesOf(0L until 8L), nprobe = 2, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(streamed === batch, "stream-of-batches must equal the batch probe")
    assert(ann.loadCount === 1L, "one snapshot served both batches")
  }

  test("batch replay overwrites its own partition instead of duplicating") {
    val root = tempDir("graft-st15c").toString
    buildIndex(s"$root/idx")
    val ann = new StreamingAnn(s"$root/idx", ttlMs = Long.MaxValue)
    val q = queriesOf(0L until 4L)
    ann.writeBatch(q, 0L, s"$root/out")
    val once = spark.read.parquet(s"$root/out").count()
    ann.writeBatch(q, 0L, s"$root/out") // restart re-delivery of batch 0
    assert(spark.read.parquet(s"$root/out").count() === once,
      "a replayed batch must replace itself, not append")
    ann.writeBatch(queriesOf(Seq(5L)), 1L, s"$root/out")
    assert(spark.read.parquet(s"$root/out").count() > once,
      "a NEW batch must still add rows")
  }

  test("TTL snapshot isolates an append; zero TTL picks it up next batch") {
    import spark.implicits._
    val root = tempDir("graft-st15b").toString
    buildIndex(s"$root/idx")
    // plant an exact copy of query vector 3 under a new id: once visible,
    // it is an unambiguous cos=1.0 top hit
    val planted = queriesOf(Seq(3L))
      .select(lit(99999L).as("vec_id"), col("embedding"))
    val pinned = new StreamingAnn(s"$root/idx", ttlMs = Long.MaxValue)
    val live = new StreamingAnn(s"$root/idx", ttlMs = 0L)
    val query = queriesOf(Seq(3L))
    // both instances load their first snapshot BEFORE the append
    assert(!pinned.serveBatch(query).collect().exists(_.getLong(1) == 99999L))
    assert(!live.serveBatch(query).collect().exists(_.getLong(1) == 99999L))
    Ivf.append(spark, s"$root/idx", planted)
    val pinnedAfter = pinned.serveBatch(query).collect()
    assert(!pinnedAfter.exists(_.getLong(1) == 99999L),
      "a pinned snapshot must not see a mid-snapshot append")
    val liveAfter = live.serveBatch(query).collect()
    val top = liveAfter.filter(r => r.getInt(3) == 1).head
    assert(top.getLong(1) === 99999L && top.getDouble(2) > 0.9999,
      s"zero-TTL serving must surface the appended duplicate, got $top")
    assert(live.loadCount === 2L && pinned.loadCount === 1L,
      "zero TTL reloads per batch; pinned TTL loads once")
  }
}
