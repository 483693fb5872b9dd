package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ST16 topic-share drift: streamed counts equal batch assignment, the
  * trusted corpus replayed against itself shows zero drift, and a
  * single-topic flood concentrates the live share exactly.
  */
class TopicDriftSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  private def corpus = graft.sources.Tables.load(spark, sf01, "documents")
    .select(col("doc_id"), col("text"))

  test("streamed counts == batch assignment; self-replay has zero drift") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("graft-st16").toString
    val m = TopicDrift.fit(corpus)
    try {
      val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      val mem = MemoryStream[(Long, String)]
      val q = TopicDrift.start(mem.toDF().toDF("doc_id", "text"), m,
        s"$root/counts", s"$root/ckpt", triggerMs = 100)
      try {
        mem.addData(docs.take(200).toSeq)
        q.processAllAvailable()
        mem.addData(docs.drop(200).toSeq)
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.read.parquet(s"$root/counts")
        .groupBy("topic").agg(sum("n").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = TopicDrift.assignBatch(corpus, m)
        .groupBy("topic").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed === batch, "stream-of-batches must equal batch assignment")
      // the corpus replayed against its own baseline: shares identical
      val d = TopicDrift.drift(spark, s"$root/counts", m).collect()
      assert(d.nonEmpty)
      d.foreach { r =>
        assert(r.getLong(3) === r.getLong(4) && r.getLong(5) === 0L,
          s"self-replay must show zero drift: $r")
      }
    } finally TopicDrift.release(m)
  }

  test("count-log replay overwrites its own partition (delta sink, no double count)") {
    val root = tempDir("graft-st16c").toString
    val m = TopicDrift.fit(corpus)
    try {
      val half = corpus.limit(250)
      TopicDrift.writeCounts(half, m, 0L, s"$root/counts")
      val once = spark.read.parquet(s"$root/counts")
        .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      TopicDrift.writeCounts(half, m, 0L, s"$root/counts") // replay batch 0
      val twice = spark.read.parquet(s"$root/counts")
        .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      assert(once === 250L && twice === 250L,
        s"replayed delta batch must not double-count: $once -> $twice")
    } finally TopicDrift.release(m)
  }

  test("a single-topic flood concentrates the live share to 10000 bp") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("graft-st16b").toString
    val m = TopicDrift.fit(corpus)
    try {
      // pick the topic with the most documents and stream ONLY its docs
      val assigned = TopicDrift.assignBatch(corpus, m)
        .join(corpus, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("topic")).collect()
      val major = assigned.groupBy(_.getLong(2)).maxBy(_._2.length)._1
      val flood = assigned.filter(_.getLong(2) == major)
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = MemoryStream[(Long, String)]
      val q = TopicDrift.start(mem.toDF().toDF("doc_id", "text"), m,
        s"$root/counts", s"$root/ckpt", triggerMs = 100)
      try { mem.addData(flood.toSeq); q.processAllAvailable() } finally q.stop()
      val d = TopicDrift.drift(spark, s"$root/counts", m).collect()
        .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5))).toMap
      assert(d(major)._1 === 10000L, s"flood topic must own the live mass: $d")
      d.filterNot(_._1 == major).foreach { case (t, (live, _)) =>
        assert(live === 0L, s"topic $t must have no live share: $d")
      }
    } finally TopicDrift.release(m)
  }
}
