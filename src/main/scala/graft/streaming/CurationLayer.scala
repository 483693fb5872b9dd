package graft.streaming

import graft.lakehouse.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** ST37 — the assembled streaming CURATION layer: what [[SpeedLayer]] is
  * to the analytics side, this is to the training-data side. One
  * document stream runs the full gate chain per micro-batch —
  *
  *   PII redaction → benchmark decontamination → learned quality gate →
  *   exact dedup vs the persisted fingerprint index → accepted sink
  *
  * — with a per-stage audit row and exactly-once semantics end to end.
  *
  * Composition rules (each learned separately by the component specs,
  * enforced together here):
  *  - PII is REMEDIATION, not rejection: offenders continue with
  *    redacted text (the raw value never crosses the gate); all docs
  *    stay in the INGEST schema between stages (the PiiGate route
  *    lesson — no audit-column drift into sinks).
  *  - Decontamination and quality verdicts are stateless per document
  *    against TTL-frozen snapshots, so batch boundaries cannot change
  *    any verdict and replay is deterministic.
  *  - Dedup winners are deterministic WITHIN a batch too (min doc_id
  *    per fingerprint), so a replayed batch re-derives byte-identical
  *    output.
  *  - Exactly-once: accepted/quarantine sinks are per-batch-directory
  *    overwrites (a re-delivered batch replaces itself); the fingerprint
  *    index append carries a `curate-batch-N` marker in table history —
  *    a replayed batch that already committed is a no-op BEFORE any sink
  *    write, so the audit table never double-counts.
  */
final class CurationLayer(
    decon: DecontaminationGate,
    quality: QualityGate,
    index: SnapshotTable,
    outDir: String) {

  private def acceptedDir = s"$outDir/accepted"
  private def contamDir = s"$outDir/quarantine_contaminated"
  private def qualityDir = s"$outDir/quarantine_quality"
  private def auditDir = s"$outDir/audit"

  /** Driver-side committed set, primed from the index history ONCE per
    * instance (restart-safe) and updated in memory on each commit — so
    * the steady-state replay check is an O(1) lookup with no Spark job.
    * Compressed as a [[graft.CommittedFrontier]] (watermark +
    * out-of-order exceptions): foreachBatch delivers ids monotonically,
    * so memory is O(gaps) — never O(batches ever committed) — while an
    * out-of-order or backfill drive ([[processBatch]] is a public API
    * Bench also drives manually) still lands in the exception set
    * instead of being silently skipped by a plain high-water mark. Each
    * marker also records the pre-commit watermark (`curate-batch-N@F`),
    * so replay protection for the whole committed prefix survives
    * [[SnapshotTable.expireSnapshots]] GC-ing old manifests via the
    * newest surviving marker alone.
    */
  private var committedIds: graft.CommittedFrontier = _

  /** Has `batchId` already committed? (The replay check — marker in the
    * index history, the [[StreamingDedup.committed]] rule.)
    */
  def committed(batchId: Long): Boolean = synchronized {
    if (committedIds == null) {
      committedIds = new graft.CommittedFrontier
      index.operations().foreach {
        case CurationLayer.Marker(b, f) =>
          committedIds.add(b.toLong)
          if (f != null) committedIds.addFrontier(f.toLong)
        case _ => ()
      }
    }
    committedIds.contains(batchId)
  }

  /** Pre-commit watermark, stamped into the marker. */
  private def watermarkNow(): Long = synchronized {
    if (committedIds == null) committed(-1L)
    committedIds.watermark
  }

  private def markCommitted(batchId: Long): Unit = synchronized {
    if (committedIds == null) committedIds = new graft.CommittedFrontier
    committedIds.add(batchId)
  }

  /** Run one (micro-)batch of `(doc_id, source, text)` docs through the
    * full chain. Idempotent on replay.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (committed(batchId)) return
    val spark = batch.sparkSession
    val ingest = batch.columns.map(col).toSeq
    val nIn = batch.count()

    // stage 1 — PII: redact offenders IN PLACE, keep everything moving
    val scrubbed = PiiGate.scrub(batch).persist()
    try {
      val nPii = scrubbed.filter(col("had_pii")).count()
      val redacted = scrubbed
        .withColumn("text",
          when(col("had_pii"), col("redacted")).otherwise(col("text")))
        .select(ingest: _*)

      // stage 2 — benchmark decontamination (TTL-frozen gram snapshot)
      val (cleanDocs, contaminated) = decon.route(redacted)
      contaminated.write.mode("overwrite").parquet(s"$contamDir/b$batchId")
      val nContam = spark.read.parquet(s"$contamDir/b$batchId").count()

      // stage 3 — learned quality gate (TTL-frozen scorer); both routes
      // come back in the ingest schema
      val (accepted0, rejected0) = quality.route(cleanDocs)
      rejected0.select(ingest: _*).write.mode("overwrite")
        .parquet(s"$qualityDir/b$batchId")
      val nRejected = spark.read.parquet(s"$qualityDir/b$batchId").count()

      // stage 4 — exact dedup vs the persisted index, deterministic
      // winner (min doc_id) within the batch
      val withFp = accepted0.select(ingest: _*)
        .withColumn("fp", md5(col("text")))
      val histFps =
        (if (index.currentVersion == 0)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(Seq(StructField("fp", StringType))))
        else index.read().select("fp")).distinct()
      val winners = withFp.join(histFps, Seq("fp"), "left_anti")
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")
            .orderBy("doc_id")))
      val acceptedNew = winners.filter(col("__rn") === 1).drop("__rn")
      acceptedNew.drop("fp").write.mode("overwrite")
        .parquet(s"$acceptedDir/b$batchId")
      val nAccepted = spark.read.parquet(s"$acceptedDir/b$batchId").count()

      // audit row (per-batch-dir overwrite: replay-safe)
      import spark.implicits._
      Seq((batchId, nIn, nPii, nContam, nRejected,
        nIn - nContam - nRejected - nAccepted, nAccepted))
        .toDF("batch_id", "n_in", "n_pii_redacted", "n_contaminated",
          "n_quality_rejected", "n_dup_dropped", "n_accepted")
        .coalesce(1).write.mode("overwrite").parquet(s"$auditDir/b$batchId")

      // the commit marker LAST: everything above replays cleanly until
      // this lands, and nothing above survives observation if it doesn't.
      // The fingerprints are re-derived from the JUST-WRITTEN accepted
      // parquet (one narrow md5 pass over the written rows) instead of
      // re-executing the gate-chain lineage a second time — md5 of the
      // same text is the same fp, and the read-back makes "what the index
      // records" definitionally equal to "what the sink holds".
      index.append(
        spark.read.parquet(s"$acceptedDir/b$batchId")
          .select(md5(col("text")).as("fp")).distinct(),
        s"curate-batch-$batchId@${watermarkNow()}")
      markCommitted(batchId)
    } finally scrubbed.unpersist()
  }

  /** Wire a file-source document stream through the layer. */
  def start(spark: SparkSession, inDir: String,
      checkpoint: String): StreamingQuery =
    spark.readStream.schema(CurationLayer.docSchema).parquet(inDir)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .option("checkpointLocation", checkpoint)
      .start()

  /** Accumulated per-stage audit (one row per batch). */
  def audit(spark: SparkSession): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(auditDir)

  /** All accepted documents across batches. */
  def accepted(spark: SparkSession): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(acceptedDir)

  /** All quarantined-as-contaminated documents across batches. */
  def contaminated(spark: SparkSession): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(contamDir)

  /** All quality-rejected documents across batches. */
  def qualityRejected(spark: SparkSession): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(qualityDir)
}

object CurationLayer {
  /** A commit marker: batch id, then the pre-commit watermark if stamped. */
  private val Marker = """curate-batch-(\d+)(?:@(-?\d+))?""".r

  /** Wire schema of one incoming document (the StreamingDedup shape). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType),
    StructField("text", StringType)))
}
