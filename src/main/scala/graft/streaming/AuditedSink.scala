package graft.streaming

import graft.lakehouse.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ST32 — audited exactly-once lakehouse sink: write-audit-publish as a
  * streaming discipline. Every micro-batch is STAGED on a table branch
  * (invisible to readers), the audit runs against the staged state —
  * exactly what readers would see after publish — and only a passing
  * batch fast-forwards HEAD. A failing batch lands in a quarantine
  * table with its batch id and main never moves: a bad batch cannot
  * poison dashboards even for one trigger interval, which is the gap
  * the plain foreachBatch append (ST6) leaves open.
  *
  * Exactly-once across restarts without sink transactions (the
  * CdcApply/ErasureCascade contract): the staged manifest carries the
  * `wap-batch-N` operation marker, and PUBLISH makes it reachable from
  * HEAD — so "this batch committed" is exactly "the marker is in main's
  * lineage", atomic with the data. A crash before publish leaves the
  * marker manifest unreachable (history walks parent links from HEAD),
  * so the replay re-stages cleanly on a fresh branch; the orphaned
  * staging manifest is garbage that snapshot expiry collects later.
  * Quarantined batches stamp the same marker in the QUARANTINE table's
  * own lineage, so their replays are no-ops too.
  *
  * Scale posture: staging writes the batch's files once — publish moves
  * a pointer, no rewrite; the audit sees the staged state as a plain
  * DataFrame and can stay O(batch) (push the heavy checks onto the new
  * rows) or go O(table) when the invariant truly is global. State per
  * stream is zero — idempotence lives in the two tables' manifests.
  */
object AuditedSink {

  private def marker(batchId: Long): String = s"wap-batch-$batchId"

  /** Is `batchId` already in `t`'s MAIN lineage? (Published or
    * quarantined, depending on which table is asked.)
    */
  def committed(t: SnapshotTable, batchId: Long): Boolean =
    t.operations().contains(marker(batchId))

  /** Process one micro-batch: stage → audit → publish | quarantine.
    * Returns true when the batch published. Idempotent on replay of
    * either outcome. Factored out of the stream wiring so specs can
    * drive replay and crash scenarios deterministically.
    */
  def processBatch(batch: DataFrame, batchId: Long, table: SnapshotTable,
      quarantine: SnapshotTable, audit: DataFrame => Boolean): Boolean = {
    if (committed(table, batchId)) return true // replay of a published batch
    if (committed(quarantine, batchId)) return false // replay of a failure
    val name = s"wap-$batchId"
    // a crash mid-stage can leave the branch ref behind; staging is not
    // a commitment, so restage from scratch
    table.dropBranch(name)
    table.branch(name)
    try {
      table.appendToBranch(name, batch, op = marker(batchId))
      if (audit(table.readBranch(name))) {
        table.publish(name); true
      } else {
        quarantine.append(
          batch.withColumn("quarantined_batch", lit(batchId)),
          op = marker(batchId))
        table.dropBranch(name)
        false
      }
    } catch { case e: Throwable => table.dropBranch(name); throw e }
  }

  /** Wire the sink onto a streaming DataFrame. */
  def run(stream: DataFrame, table: SnapshotTable,
      quarantine: SnapshotTable, audit: DataFrame => Boolean,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, table, quarantine, audit); ()
      }
      .start()
}
