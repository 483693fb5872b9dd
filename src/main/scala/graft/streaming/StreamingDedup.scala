package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lakehouse.SnapshotTable

/** Streaming incremental dedup — the x13 new-batch-vs-history audit as a
  * real structured-streaming pipeline, the form a daily 100 TB ingest
  * actually runs: a stream of new documents arrives, each micro-batch is
  * fingerprinted and joined against the PERSISTED fingerprint index (a
  * [[SnapshotTable]] — history text is never re-scanned), the per-source
  * audit is emitted, and only insertable fingerprints append to the
  * index.
  *
  * Exactly-once across restarts without relying on sink transactions:
  * each micro-batch's index append is committed with the batch id stamped
  * in the manifest operation (`dedup-batch-N`) — the commit IS the
  * marker, atomically with the data (SnapshotTable manifests move into
  * place atomically). A replayed batch finds its marker and skips; a
  * crash between data write and manifest commit leaves an orphan dir no
  * manifest references, so the replay is clean. The audit write is
  * idempotent by path (`batch_id=N` dir, overwrite mode).
  *
  * Scale posture: per batch, ONE fp-keyed left join against the
  * O(history) index of 128-bit fingerprints plus one aggregation —
  * the exact plan shape of batch x13 — and an append-only index commit
  * (no COW rewrite of history).
  */
object StreamingDedup {

  /** Wire schema of one incoming document. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType),
    StructField("text", StringType)))

  private def emptyFps(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("fp", StringType))))

  /** Has `batchId` already committed to the index? (The replay check.) */
  def committed(index: SnapshotTable, batchId: Long): Boolean =
    index.operations().contains(s"dedup-batch-$batchId")

  /** Process one micro-batch: audit + index append, idempotent on replay.
    * Factored out of the stream wiring so specs can drive replay
    * scenarios deterministically.
    */
  def processBatch(batch: DataFrame, batchId: Long, index: SnapshotTable,
      auditDir: String): Unit = {
    if (committed(index, batchId)) return // replayed batch: already done
    val spark = batch.sparkSession
    val withFp = batch.withColumn("fp", md5(col("text"))).persist()
    try {
      val histFps =
        (if (index.currentVersion == 0) emptyFps(spark)
         else index.read().select("fp")).distinct()
      val hist = histFps.withColumn("in_hist", lit(1))
      // one fp-keyed left join + one aggregation — the batch-x13 plan
      val audit = withFp
        .join(hist, Seq("fp"), "left")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_new"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_within_batch"),
          sum(when(col("in_hist") === 1, 1L).otherwise(0L)).as("n_dup_vs_history"),
          countDistinct(when(col("in_hist").isNull, col("fp"))).as("n_insertable"))
        .withColumn("batch_id", lit(batchId))
      // non-hive dir name (no '='): batch_id is a data column, and a
      // same-named partition dir would collide with it on read
      audit.coalesce(1).write.mode("overwrite")
        .parquet(s"$auditDir/b$batchId")
      val insertable = withFp.select("fp").distinct()
        .join(histFps, Seq("fp"), "left_anti")
      // empty insertable still commits: the marker must exist for replay
      // detection even when every new doc was a duplicate
      index.append(insertable, s"dedup-batch-$batchId")
    } finally withFp.unpersist()
  }

  /** Start the pipeline over a file-source directory of new-doc parquet
    * drops (the Kafka-topic analogue). Caller stops the returned query.
    */
  def start(spark: SparkSession, inDir: String, index: SnapshotTable,
      auditDir: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(docSchema).parquet(inDir)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, index, auditDir)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The accumulated audit across batches (one row per batch × source). */
  def auditLog(spark: SparkSession, auditDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(auditDir)
}
