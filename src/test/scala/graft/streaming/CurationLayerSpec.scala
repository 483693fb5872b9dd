package graft.streaming

import graft.SparkSpec
import graft.lakehouse.SnapshotTable
import org.apache.spark.sql.functions._

/** ST37 — the assembled curation layer: every gate exercised by a
  * planted doc, per-stage audit exactness, deterministic within-batch
  * dedup, replay idempotence (marker-gated), and a two-drop streaming
  * drive through `start()`.
  */
class CurationLayerSpec extends SparkSpec {
  import spark.implicits._

  private val benchText = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13"

  private def layer(root: String): CurationLayer = {
    val decon = new DecontaminationGate(
      s => Seq((900L, benchText)).toDF("doc_id", "text"), ttlMs = Long.MaxValue)
    val quality = new QualityGate(
      s => Seq(("good", 1000L), ("bad", -1000L)).toDF("tok", "w_ppm"),
      ttlMs = Long.MaxValue)
    new CurationLayer(decon, quality,
      SnapshotTable.create(spark, s"$root/index"), s"$root/out")
  }

  // one doc per fate + a duplicate pair
  private def batch1 = Seq(
    (1L, "s0", "good good clean text"), // accepted
    (2L, "s0", s"prefix $benchText suffix good"), // contaminated
    (3L, "s0", "bad bad awful"), // quality-rejected
    (4L, "s0", "good mail me a@b.com now"), // PII-redacted, then accepted
    (5L, "s0", "dup good text here"), // dup pair: min doc_id wins
    (6L, "s0", "dup good text here"))
    .toDF("doc_id", "source", "text")

  test("ST37: every gate fires; audit row is exact; winners deterministic") {
    val root = tempDir("graft-cur").toString
    val l = layer(root)
    l.processBatch(batch1, 0L)
    val audit = l.audit(spark).collect().head
    assert(audit.getLong(audit.fieldIndex("n_in")) === 6L)
    assert(audit.getLong(audit.fieldIndex("n_pii_redacted")) === 1L)
    assert(audit.getLong(audit.fieldIndex("n_contaminated")) === 1L)
    assert(audit.getLong(audit.fieldIndex("n_quality_rejected")) === 1L)
    assert(audit.getLong(audit.fieldIndex("n_dup_dropped")) === 1L)
    assert(audit.getLong(audit.fieldIndex("n_accepted")) === 3L)
    val acc = l.accepted(spark).orderBy("doc_id").collect()
    assert(acc.map(_.getLong(0)).toSeq === Seq(1L, 4L, 5L)) // 5 beats 6
    // the PII doc crossed the gate REDACTED, in the ingest schema
    val d4 = acc.find(_.getLong(0) == 4L).get
    assert(!d4.getString(2).contains("a@b.com"))
    assert(d4.getString(2).contains("[EMAIL]") || !d4.getString(2).contains("@"))
    assert(l.accepted(spark).columns.toSeq === Seq("doc_id", "source", "text"))
  }

  test("ST37: replayed batch is a no-op; cross-batch dedup holds") {
    val root = tempDir("graft-cur").toString
    val l = layer(root)
    l.processBatch(batch1, 0L)
    val before = l.accepted(spark).collect().toSet
    l.processBatch(batch1, 0L) // replay: marker-gated no-op
    assert(l.accepted(spark).collect().toSet === before)
    assert(l.audit(spark).count() === 1L)
    // a later batch resubmitting doc 5's text dedups AGAINST THE INDEX
    val b2 = Seq((7L, "s1", "dup good text here"), (8L, "s1", "good brand new"))
      .toDF("doc_id", "source", "text")
    l.processBatch(b2, 1L)
    val audit2 = l.audit(spark).filter(col("batch_id") === 1L).collect().head
    assert(audit2.getLong(audit2.fieldIndex("n_dup_dropped")) === 1L)
    assert(audit2.getLong(audit2.fieldIndex("n_accepted")) === 1L)
    assert(l.accepted(spark).filter(col("doc_id") === 7L).count() === 0L)
  }

  test("ST37: streaming drive over two file drops equals the batch fold") {
    val root = tempDir("graft-cur").toString
    val in = s"$root/in"
    val l = layer(root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    batch1.coalesce(1).write.mode("append").parquet(in)
    val q = l.start(spark, in, s"$root/ckpt")
    try q.processAllAvailable() finally {}
    Seq((7L, "s1", "dup good text here"), (8L, "s1", "good brand new"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("append").parquet(in)
    try q.processAllAvailable() finally q.stop()
    assert(l.accepted(spark).orderBy("doc_id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 4L, 5L, 8L))
    assert(l.audit(spark).agg(sum("n_accepted")).collect().head.getLong(0) === 4L)
  }
}
