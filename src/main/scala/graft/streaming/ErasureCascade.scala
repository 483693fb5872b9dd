package graft.streaming

import graft.lakehouse.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ST25 — streaming GDPR erasure: the execution half of q14
  * ([[graft.analytics.ExtendedSqlQueries.q14ErasureCascade]] scopes the
  * blast radius; this operator actually erases it). A delete-request
  * stream (one row per right-to-be-forgotten request, keyed by customer)
  * cascades two FK hops through the lakehouse — customer → orders →
  * lineitem, plus the customer's event history — via
  * [[SnapshotTable.deleteMatching]] COW deletes.
  *
  * Exactly-once across restarts without sink transactions (the
  * [[graft.cdc.CdcApply]] contract, per TABLE): each table's delete
  * commit is stamped `erase-batch-N` in its own manifest — the commit IS
  * the marker, atomic with the rewrite. A replayed batch skips every
  * table whose marker already exists, so a crash ANYWHERE inside the
  * four-table cascade resumes at the first un-erased table.
  *
  * Deletion ORDER is what makes mid-cascade resumption correct:
  * lineitem goes FIRST because its scope (`l_orderkey IN` the erased
  * customers' orders) is derived from the orders table — orders must
  * still be alive when lineitem's scope is computed. Orders erase
  * second, then events, then the customer rows themselves. On replay
  * after a crash between the two, lineitem's marker skips its step and
  * orders (still alive, marker absent) erases normally. The reverse
  * order would orphan lineitems forever: with orders already gone, the
  * replayed scope semi-join would resolve to nothing.
  *
  * Scale posture: per batch, each 100 TB fact table is rewritten once
  * via one anti join against a broadcast-sized key set (delete requests
  * are tiny by nature; the order-key scope is requests × orders-per-
  * customer). Nothing is collected to the driver. Served requests are
  * recorded in an audit table (request key + batch id + per-table blast
  * counts) so compliance evidence survives the data it erased.
  */
object ErasureCascade {

  /** The four cascade targets. `audit` records served requests. */
  final case class Tables(
      customer: SnapshotTable,
      orders: SnapshotTable,
      lineitem: SnapshotTable,
      events: SnapshotTable,
      audit: SnapshotTable)

  private def marker(batchId: Long): String = s"erase-batch-$batchId"

  private def committed(t: SnapshotTable, batchId: Long): Boolean =
    t.operations().contains(marker(batchId))

  /** q14's blast-radius scope against live snapshot state: per table,
    * the rows a compliant erasure of `requests` (column `k` = customer
    * key) must remove. Zero everywhere = the requests are fully served.
    */
  def blastRadius(requests: DataFrame, t: Tables): DataFrame = {
    val req = requests.select(col("k")).distinct()
    val erasedOrders = t.orders.read().join(broadcast(req),
      col("o_custkey") === col("k"), "left_semi")
    def row(name: String, erased: DataFrame) =
      erased.agg(count(lit(1)).as("n_remaining"))
        .select(lit(name).as("tbl"), col("n_remaining"))
    row("customer", t.customer.read().join(broadcast(req),
        col("c_custkey") === col("k"), "left_semi"))
      .unionByName(row("orders", erasedOrders))
      .unionByName(row("lineitem", t.lineitem.read()
        .join(erasedOrders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")))
      .unionByName(row("events", t.events.read().join(broadcast(req),
        col("user_id") === col("k"), "left_semi")))
  }

  /** Serve one micro-batch of erasure requests; idempotent on replay,
    * resumable after a crash between table commits.
    */
  def applyBatch(requests: DataFrame, batchId: Long, t: Tables): Unit = {
    val req = requests.select(col("k").cast("long").as("k"))
      .distinct().persist()
    try {
      if (req.isEmpty) return
      // audit FIRST (blast counts need all four tables alive), keyed for
      // replay like every other step; n_* columns are the BATCH's blast
      // totals stamped onto each of its request rows. The marker check is
      // only a fast path: markers are COMMITS in the audit table's own
      // history, so `expireSnapshots` retention can forget them — a
      // checkpoint-recovered replay of a forgotten batch would then
      // re-enter here and, with the deletes already applied, append a
      // second set of request rows with zeroed blast counts. The (k,
      // batch_id) anti join below makes the append itself idempotent:
      // replayed request rows that already exist append nothing.
      // Retention floor regardless: cascade-table markers must outlive
      // the streaming checkpoint's replay horizon, or the DELETE steps
      // (idempotent but O(table) COW rewrites) re-run on replay too.
      if (!committed(t.audit, batchId)) {
        val counts = blastRadius(req, t).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val rows = req.select(col("k"), lit(batchId).as("batch_id"),
          lit(counts.getOrElse("orders", 0L)).as("n_orders"),
          lit(counts.getOrElse("lineitem", 0L)).as("n_lineitems"),
          lit(counts.getOrElse("events", 0L)).as("n_events"))
        // empty-table read() has no columns — nothing to dedupe against
        val prior = t.audit.read()
        val fresh =
          if (!prior.columns.contains("batch_id")) rows
          else rows.join(
            prior.filter(col("batch_id") === batchId).select(col("k")),
            Seq("k"), "left_anti")
        t.audit.append(fresh, op = marker(batchId))
      }
      // lineitem first: its scope is derived FROM orders (see scaladoc)
      if (!committed(t.lineitem, batchId)) {
        val erasedOrderKeys = t.orders.read()
          .join(broadcast(req), col("o_custkey") === col("k"), "left_semi")
          .select(col("o_orderkey").as("l_orderkey"))
        t.lineitem.deleteMatching(erasedOrderKeys, Seq("l_orderkey"),
          op = marker(batchId))
      }
      if (!committed(t.orders, batchId))
        t.orders.deleteMatching(req.select(col("k").as("o_custkey")),
          Seq("o_custkey"), op = marker(batchId))
      if (!committed(t.events, batchId))
        t.events.deleteMatching(req.select(col("k").as("user_id")),
          Seq("user_id"), op = marker(batchId))
      if (!committed(t.customer, batchId))
        t.customer.deleteMatching(req.select(col("k").as("c_custkey")),
          Seq("c_custkey"), op = marker(batchId))
    } finally req.unpersist()
  }

  /** Continuous erasure service over a file-source directory of request
    * parquet drops (schema: `k` LONG — the customer key). Kafka is a
    * `format` config swap. Caller stops the returned query.
    */
  def start(spark: SparkSession, requestsDir: String, t: Tables,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
      .parquet(requestsDir)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => applyBatch(b, id, t))
      .option("checkpointLocation", checkpoint)
      .start()
}
