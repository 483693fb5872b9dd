package graft.streaming

import graft.SparkSpec
import graft.lakehouse.SnapshotTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

// top-level: Dataset encoders cannot derive for spec-nested case classes
final case class SDoc(doc_id: Long, source: String, text: String)

/** Streaming incremental dedup: stream output must equal the batch x13
  * audit over the same history/new splits, the persisted fingerprint
  * index must accumulate exactly the distinct corpus, and a replayed
  * micro-batch (crash-restart semantics) must be a no-op.
  */
class StreamingDedupSpec extends SparkSpec {

  private def batch0 = (0L to 9L).map(id =>
    SDoc(id, if (id % 2 == 0) "web" else "book", s"alpha $id"))

  // 2 history dups (one per source + one extra book), 2 within-batch dup
  // pairs, 3 genuinely new texts
  private def batch1 = Seq(
    SDoc(10, "web", "alpha 0"), SDoc(11, "book", "alpha 1"),
    SDoc(12, "web", "fresh A"), SDoc(13, "web", "fresh A"),
    SDoc(14, "book", "fresh B"), SDoc(15, "book", "fresh B"),
    SDoc(16, "web", "fresh C"), SDoc(17, "book", "alpha 3"))

  private def dropFile(inDir: String, docs: Seq[SDoc]): Unit = {
    import spark.implicits._
    spark.createDataset(docs).coalesce(1).write.mode("append").parquet(inDir)
  }

  test("stream audit equals the batch x13 shape; index accumulates distinct fps") {
    val base = tempDir("graft-sdedup").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val index = SnapshotTable.create(spark, s"$base/index")
    dropFile(inDir, batch0)
    val q = StreamingDedup.start(spark, inDir, index, s"$base/audit", s"$base/ckpt")
    try {
      q.processAllAvailable()
      dropFile(inDir, batch1)
      q.processAllAvailable()
    } finally q.stop()

    val audit = StreamingDedup.auditLog(spark, s"$base/audit")
      .orderBy("batch_id", "source").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_new"), r.getAs[Long]("n_dup_within_batch"),
        r.getAs[Long]("n_dup_vs_history"), r.getAs[Long]("n_insertable")))
    // batch 0: empty history, all unique → everything insertable
    // batch 1 (hand-derived from the dup structure above):
    //   web: 4 new, 1 within-batch dup, 1 vs-history, 2 insertable
    //   book: 4 new, 1 within-batch dup, 2 vs-history, 1 insertable
    assert(audit.toSeq === Seq(
      (0L, "book", 5L, 0L, 0L, 5L),
      (0L, "web", 5L, 0L, 0L, 5L),
      (1L, "book", 4L, 1L, 2L, 1L),
      (1L, "web", 4L, 1L, 1L, 2L)))

    // index = exactly the distinct corpus fingerprints (10 + 3 fresh)
    val fps = index.read().select("fp").collect().map(_.getString(0))
    assert(fps.length === 13 && fps.distinct.length === 13)
    // commits carry their batch markers (the exactly-once mechanism)
    val ops = index.history().select("operation").collect().map(_.getString(0))
    assert(ops.toSeq === Seq("dedup-batch-0", "dedup-batch-1"))
  }

  test("replayed micro-batch is a no-op: index version, fps, audit unchanged") {
    import spark.implicits._
    val base = tempDir("graft-sdedup-r").toString
    val index = SnapshotTable.create(spark, s"$base/index")
    val auditDir = s"$base/audit"
    StreamingDedup.processBatch(spark.createDataset(batch0).toDF(), 0, index, auditDir)
    StreamingDedup.processBatch(spark.createDataset(batch1).toDF(), 1, index, auditDir)
    val vBefore = index.currentVersion
    val fpsBefore = index.read().select("fp").collect().map(_.getString(0)).sorted.toSeq
    // crash-restart replay: same batch id, same data → must be a no-op
    StreamingDedup.processBatch(spark.createDataset(batch1).toDF(), 1, index, auditDir)
    assert(index.currentVersion === vBefore, "replay must not commit again")
    assert(index.read().select("fp").collect().map(_.getString(0)).sorted.toSeq
      === fpsBefore)
    assert(StreamingDedup.auditLog(spark, auditDir)
      .filter(col("batch_id") === 1).count() === 2)
  }

  test("restart continues from the checkpoint without re-processing") {
    val base = tempDir("graft-sdedup-s").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val index = SnapshotTable.create(spark, s"$base/index")
    dropFile(inDir, batch0)
    val q1 = StreamingDedup.start(spark, inDir, index, s"$base/audit", s"$base/ckpt")
    try q1.processAllAvailable() finally q1.stop()
    dropFile(inDir, batch1)
    val q2 = StreamingDedup.start(spark, inDir, index, s"$base/audit", s"$base/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    // batch 0 not re-processed, batch 1 processed exactly once
    val fps = index.read().select("fp").collect().map(_.getString(0))
    assert(fps.length === 13 && fps.distinct.length === 13)
    assert(index.history().count() === 2)
    assert(StreamingDedup.auditLog(spark, s"$base/audit")
      .select("batch_id").distinct().count() === 2)
  }
}
