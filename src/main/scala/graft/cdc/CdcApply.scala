package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lakehouse.SnapshotTable

/** ST9 — continuous CDC apply: the streaming Debezium→lakehouse upsert
  * loop that keeps a [[SnapshotTable]] equal to the source table's current
  * state (the reference pipeline's end state: CDC events land in the
  * lakehouse as a queryable mirror, not just an event log —
  * `.kiro/specs/data-ingestion-pipeline/design.md`'s CDC→S3 path composed
  * with the Iceberg upsert jobs of `2-batch-analytics-layer`).
  *
  * Per micro-batch: compact the batch to its latest image per key (W4),
  * guard against out-of-order delivery by dropping images older than what
  * the table already holds (`WHEN MATCHED AND source.lsn >= target.lsn`
  * in Iceberg MERGE terms — expressed as a pre-merge left join because
  * [[SnapshotTable.merge]] replaces unconditionally), then MERGE: updates
  * replace, inserts append, deletes (`__op = 'd'`) drop their target row.
  *
  * Exactly-once across restarts without sink transactions: the merge
  * commit is stamped `cdc-batch-N` in the manifest — the commit IS the
  * marker, atomic with the data (same contract as
  * [[graft.streaming.StreamingDedup]]). A replayed batch finds its marker
  * and no-ops; a crash before the manifest move leaves only an orphan
  * data dir no reader resolves.
  *
  * Scale posture: per batch ONE key-shuffled window (batch-local, sized
  * by the batch not the table), one key join against the current
  * snapshot, and the merge's anti-join + COW write. The table read is
  * manifest-resolved parquet — no log replay. Known limitation (standard
  * for materialized CDC views): a delete removes the key AND its LSN
  * watermark, so a later-arriving pre-delete image for that key would
  * re-insert; WAL-ordered feeds (Debezium's per-key ordering guarantee)
  * never produce that sequence.
  */
object CdcApply {

  /** Has `batchId` already merged into `table`? (The replay check: a
    * manifest walk on the driver, no Spark job.)
    */
  def committed(table: SnapshotTable, batchId: Long): Boolean =
    table.operations().contains(s"cdc-batch-$batchId")

  /** Apply one micro-batch of envelope rows; idempotent on replay.
    * `keyCols`/`orderCol` default to the users-table contract but any
    * envelope with a primary key and a WAL order column works — the four
    * reference envelopes ([[Cdc.envelopeSchemas]]) all do.
    */
  def applyBatch(envelope: DataFrame, batchId: Long, table: SnapshotTable,
      keyCols: Seq[String] = Seq("id"),
      orderCol: String = "__source_lsn"): Unit = {
    if (committed(table, batchId)) return
    // batch-local W4 compaction: one image per key, WAL order by LSN
    val image = Cdc.latestByKey(Cdc.unwrap(envelope), keyCols, orderCol)
    // out-of-order guard: never regress a key the table already has newer
    val cur = table.read()
    val guarded =
      if (cur.columns.isEmpty) image
      else image
        .join(cur.select((keyCols.map(col) :+
            col(orderCol).as("__tgt_ord")): _*),
          keyCols, "left")
        .filter(col("__tgt_ord").isNull ||
          col(orderCol) >= col("__tgt_ord"))
        .drop("__tgt_ord")
    table.merge(guarded, keyCols,
      deleteWhen = Some(col("__op") === "d"), op = s"cdc-batch-$batchId")
  }

  /** Start the continuous apply over a file-source directory of envelope
    * parquet drops (the Kafka-topic analogue; `format("kafka")` is a
    * config swap). Caller stops the returned query.
    */
  def start(spark: SparkSession, inDir: String, table: SnapshotTable,
      checkpoint: String,
      schema: org.apache.spark.sql.types.StructType = Cdc.usersEnvelopeSchema,
      keyCols: Seq[String] = Seq("id"),
      orderCol: String = "__source_lsn"): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(b, id, table, keyCols, orderCol)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
