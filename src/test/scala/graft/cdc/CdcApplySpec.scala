package graft.cdc

import graft.SparkSpec
import graft.lakehouse.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Continuous CDC apply (ST9): the streamed lakehouse mirror must equal
  * the batch current-state compaction over the same event history,
  * out-of-order batches must never regress a key, and replayed
  * micro-batches (crash-restart) must be no-ops.
  */
class CdcApplySpec extends SparkSpec {

  private val nUsers = 40L

  private def events = Cdc.generateUsersCdc(spark, nUsers)

  private def sortedRows(df: DataFrame) =
    df.select(col("id"), col("email"), col("account_balance"),
      col("__op"), col("__source_lsn")).orderBy("id").collect().toSeq

  test("streamed apply equals batch currentState over the same history") {
    val base = tempDir("graft-cdcapply").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val table = SnapshotTable.create(spark, s"$base/table")
    // three WAL-ordered drops: inserts, then updates, then deletes
    Seq("c", "u", "d").foreach { op =>
      events.filter(col("__op") === op)
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    val q = CdcApply.start(spark, inDir, table, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()

    val expected = Cdc.currentState(Cdc.unwrap(events))
    assert(sortedRows(table.read()) === sortedRows(expected))
    // deleted keys are gone from the mirror
    assert(table.read().filter(col("id") % 11 === 0).count() === 0)
    // commits carry batch markers (the exactly-once mechanism)
    val ops = table.history().select("operation").collect().map(_.getString(0))
    assert(ops.count(_.startsWith("cdc-batch-")) === ops.length && ops.nonEmpty)
  }

  test("out-of-order batch never regresses a key past its applied LSN") {
    val base = tempDir("graft-cdcapply-ooo").toString
    val table = SnapshotTable.create(spark, s"$base/table")
    // updates (LSN id*100+50) arrive BEFORE inserts (LSN id*100+0)
    CdcApply.applyBatch(events.filter(col("__op") === "u"), 0, table)
    CdcApply.applyBatch(events.filter(col("__op") === "c"), 1, table)
    val got = table.read()
    assert(got.count() === nUsers)
    // updated keys keep the newer update image; the stale insert lost
    assert(got.filter(col("id") % 3 === 0)
      .filter(col("__op") =!= "u").count() === 0)
    assert(got.filter(col("id") % 3 =!= 0)
      .filter(col("__op") =!= "c").count() === 0)
    // equal-LSN replay of the same image is also not a regression
    val maxLsn = got.agg(max("__source_lsn")).head.getLong(0)
    assert(maxLsn === (nUsers - 1) * 100 + 50 ||
      maxLsn === (nUsers - 1) * 100)
  }

  test("generalized apply: an ORDERS envelope mirrors through the same loop") {
    import org.apache.spark.sql.Row
    val base = tempDir("graft-cdcapply-ord").toString
    val table = SnapshotTable.create(spark, s"$base/table")
    def row(id: Long, status: String, amount: String, op: String, lsn: Long) =
      Row(id, 7L, status, amount, 980000000000L, 980000000100L,
        op, 980000000200L, 980000000100L, lsn, if (op == "d") "true" else "false")
    def batch(rows: Row*) = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      Cdc.ordersEnvelopeSchema)
    CdcApply.applyBatch(batch(
      row(1, "pending", "10.00", "c", 100),
      row(2, "pending", "20.00", "c", 200)), 0, table)
    CdcApply.applyBatch(batch(
      row(1, "shipped", "10.00", "u", 150),
      row(2, "cancelled", "20.00", "d", 250)), 1, table)
    val got = table.read().orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("status"),
        r.getAs[java.math.BigDecimal]("total_amount").toPlainString))
    // delete dropped id 2; money unwrapped to decimal via the generic cast
    assert(got.toSeq === Seq((1L, "shipped", "10.00")))
  }

  test("Debezium snapshot bootstrap: snapshot('r') + WAL tail == full replay") {
    // Connector-start semantics: ids < 20 already exist when the connector
    // starts — it emits their CURRENT state as op='r' (the initial table
    // scan), then streams only the subsequent WAL. ids >= 20 are created
    // after the start, so their inserts ARE in the tail.
    val preExisting = col("id") < 20
    val snapshot = Cdc.asSnapshotRead(events.filter(col("__op") === "c")
      .filter(preExisting))
    val tail = events.filter(col("__op") =!= "c" || !preExisting)

    val base = tempDir("graft-cdcapply-snap").toString
    val table = SnapshotTable.create(spark, s"$base/table")
    CdcApply.applyBatch(snapshot, 0, table)
    // the mirror holds exactly the snapshot population before the tail
    assert(table.read().count() === 20)
    assert(table.read().filter(col("__op") =!= "r").count() === 0)
    CdcApply.applyBatch(tail, 1, table)

    // bootstrap-then-stream equals a full-history replay on every column
    // except __op (untouched pre-existing users keep the snapshot's 'r'
    // where the replay shows their original 'c' — same image, same LSN)
    def opFree(df: DataFrame) =
      df.select(col("id"), col("email"), col("account_balance"),
        col("__source_lsn")).orderBy("id").collect().toSeq
    val expected = Cdc.currentState(Cdc.unwrap(events))
    assert(opFree(table.read()) === opFree(expected))
  }

  test("asSnapshotRead rejects delete rewrites (resurrection guard)") {
    // stamping a change HISTORY as a snapshot would turn its 'd' rows
    // into live upsert images; the guard fails the job instead
    val e = intercept[Exception] {
      Cdc.asSnapshotRead(events).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("current-state extract")),
      s"unexpected error: $e")
  }

  test("replayed micro-batch is a no-op; restart continues from checkpoint") {
    val base = tempDir("graft-cdcapply-r").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val table = SnapshotTable.create(spark, s"$base/table")
    events.filter(col("__op") === "c")
      .coalesce(1).write.mode("append").parquet(inDir)
    val q1 = CdcApply.start(spark, inDir, table, s"$base/ckpt")
    try q1.processAllAvailable() finally q1.stop()
    val vAfterInserts = table.currentVersion
    // direct replay of batch 0 must not commit again
    CdcApply.applyBatch(events.filter(col("__op") === "c"), 0, table)
    assert(table.currentVersion === vAfterInserts)
    // restart with more data: only the new drop is processed
    events.filter(col("__op") === "d")
      .coalesce(1).write.mode("append").parquet(inDir)
    val q2 = CdcApply.start(spark, inDir, table, s"$base/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    assert(table.read().count() ===
      nUsers - (0L until nUsers).count(_ % 11 == 0))
    val ops = table.history().select("operation").collect().map(_.getString(0))
    assert(ops.toSeq === Seq("cdc-batch-0", "cdc-batch-1"))
  }
}
