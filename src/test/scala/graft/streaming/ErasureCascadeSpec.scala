package graft.streaming

import graft.SparkSpec
import graft.lakehouse.SnapshotTable
import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** ST25 streaming GDPR erasure: two-hop FK cascade with per-table
  * exactly-once markers — replay-idempotent, mid-cascade crash
  * resumable, blast radius zero for served requests, restart drill.
  */
class ErasureCascadeSpec extends SparkSpec {

  private def freshTables(): ErasureCascade.Tables = {
    def t(name: String, df: org.apache.spark.sql.DataFrame) = {
      val st = SnapshotTable.create(spark,
        tempDir(s"graft-erase-$name").toString)
      st.append(df)
      st
    }
    ErasureCascade.Tables(
      customer = t("cust", Tables.load(spark, sfDir, "customer")),
      orders = t("ord", Tables.load(spark, sfDir, "orders")),
      lineitem = t("li", Tables.load(spark, sfDir, "lineitem")),
      events = t("ev", Tables.load(spark, sfDir, "events")
        .select("event_id", "user_id", "event_type", "value")),
      audit = SnapshotTable.create(spark,
        tempDir("graft-erase-audit").toString))
  }

  private def reqDf(keys: Long*) = {
    import spark.implicits._
    keys.toDF("k")
  }

  private def remaining(t: ErasureCascade.Tables, keys: Seq[Long]): Map[String, Long] =
    ErasureCascade.blastRadius(reqDf(keys: _*), t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("cascade erases two FK hops; untouched data survives; audit lands") {
    val t = freshTables()
    val keys = t.customer.read().select("c_custkey")
      .filter(col("c_custkey") % 7 === 3)
      .limit(5).collect().map(_.getLong(0)).toSeq
    assert(keys.nonEmpty)
    val before = remaining(t, keys)
    assert(before.values.sum > 0, "request set must have a blast radius")
    val c0 = t.customer.read().count()
    val o0 = t.orders.read().count()
    val l0 = t.lineitem.read().count()
    val e0 = t.events.read().count()

    ErasureCascade.applyBatch(reqDf(keys: _*), 0L, t)

    val after = remaining(t, keys)
    assert(after.values.forall(_ == 0L),
      s"served requests must read zero blast radius, got $after")
    // exactly the blast radius disappeared, nothing else
    assert(t.customer.read().count() === c0 - before("customer"))
    assert(t.orders.read().count() === o0 - before("orders"))
    assert(t.lineitem.read().count() === l0 - before("lineitem"))
    assert(t.events.read().count() === e0 - before("events"))
    // audit: one row per request, stamped with the batch blast totals
    val audit = t.audit.read()
    assert(audit.count() === keys.size.toLong)
    assert(audit.select("n_lineitems").head.getLong(0) === before("lineitem"))
  }

  test("replay of a served batch is a no-op (per-table markers)") {
    val t = freshTables()
    val keys = Seq(t.customer.read().select("c_custkey")
      .head.getLong(0))
    ErasureCascade.applyBatch(reqDf(keys: _*), 7L, t)
    val versions = Seq(t.customer, t.orders, t.lineitem, t.events, t.audit)
      .map(_.currentVersion)
    val counts = Seq(t.customer, t.orders, t.lineitem, t.events, t.audit)
      .map(_.read().count())
    ErasureCascade.applyBatch(reqDf(keys: _*), 7L, t)
    assert(Seq(t.customer, t.orders, t.lineitem, t.events, t.audit)
      .map(_.currentVersion) === versions, "replay committed new versions")
    assert(Seq(t.customer, t.orders, t.lineitem, t.events, t.audit)
      .map(_.read().count()) === counts)
  }

  test("crash between table commits resumes at the first un-erased table") {
    val t = freshTables()
    val key = t.customer.read()
      .join(t.orders.read(), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey").head.getLong(0)
    val req = reqDf(key)
    val before = remaining(t, Seq(key))
    assert(before("lineitem") > 0, "need a customer with lineitems")

    // simulate the crash: audit + lineitem committed for batch 3, then died
    // (exactly the state applyBatch leaves if the JVM dies before the
    // orders commit — lineitem scope was derived while orders were alive)
    t.audit.append(req.select(col("k"), lit(3L).as("batch_id"),
      lit(before("orders")).as("n_orders"),
      lit(before("lineitem")).as("n_lineitems"),
      lit(before("events")).as("n_events")), op = "erase-batch-3")
    val erasedOrderKeys = t.orders.read()
      .join(req, col("o_custkey") === col("k"), "left_semi")
      .select(col("o_orderkey").as("l_orderkey"))
    t.lineitem.deleteMatching(erasedOrderKeys, Seq("l_orderkey"),
      op = "erase-batch-3")
    val liAfterCrash = t.lineitem.read().count()

    // replay the whole batch: lineitem skips (marker), the rest completes
    ErasureCascade.applyBatch(req, 3L, t)
    assert(t.lineitem.read().count() === liAfterCrash,
      "lineitem step must be skipped on replay, not re-applied")
    val after = remaining(t, Seq(key))
    assert(after.values.forall(_ == 0L),
      s"resumed cascade must finish the erasure, got $after")
    assert(t.audit.read().filter(col("batch_id") === 3L).count() === 1L)
  }

  test("audit stays duplicate-free when snapshot retention forgets the " +
    "replay marker") {
    val t = freshTables()
    val keys = t.customer.read().select("c_custkey")
      .limit(2).collect().map(_.getLong(0)).toSeq
    ErasureCascade.applyBatch(reqDf(keys: _*), 5L, t)
    val batchRows = t.audit.read().filter(col("batch_id") === 5L).collect()
    assert(batchRows.length === keys.size)
    // a later batch, then retention tight enough to forget batch 5's
    // 'erase-batch-5' commit from the audit table's history
    ErasureCascade.applyBatch(reqDf(keys.map(_ + 1000000L): _*), 6L, t)
    t.audit.expireSnapshots(keep = 1)
    assert(t.audit.history()
      .filter(col("operation") === "erase-batch-5").count() === 0L,
      "precondition: the marker must be forgotten for this drill")
    // checkpoint-recovered replay of the forgotten batch: the deletes are
    // marker-skipped per table, and the audit append must dedupe on
    // (k, batch_id) — NOT stamp a second set of rows with recomputed
    // (now zero) blast counts
    ErasureCascade.applyBatch(reqDf(keys: _*), 5L, t)
    val replayed = t.audit.read().filter(col("batch_id") === 5L).collect()
    assert(replayed.length === keys.size, "replay duplicated audit rows")
    assert(replayed.map(_.toSeq).toSet === batchRows.map(_.toSeq).toSet,
      "replay must not alter the original compliance records")
  }

  test("live stream + restart drill: erasure applies exactly once") {
    val t = freshTables()
    val dir = tempDir("graft-erase-stream").toString
    val inDir = s"$dir/in"; val ckpt = s"$dir/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val allKeys = t.customer.read().select("c_custkey")
      .filter(col("c_custkey") % 5 === 1)
      .limit(6).collect().map(_.getLong(0)).toSeq
    val (h1, h2) = allKeys.splitAt(3)
    def drop(ks: Seq[Long]): Unit =
      reqDf(ks: _*).coalesce(1).write.mode("append").parquet(inDir)
    def start() = ErasureCascade.start(spark, inDir, t, ckpt)

    drop(h1)
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    assert(remaining(t, h1).values.forall(_ == 0L))
    val vAfter1 = t.customer.currentVersion

    drop(h2)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()
    assert(remaining(t, allKeys).values.forall(_ == 0L),
      "post-restart batch must erase the second request set")
    // restart did not re-serve batch 0: exactly one new customer commit
    assert(t.customer.currentVersion === vAfter1 + 1)
    assert(t.audit.read().count() === allKeys.size.toLong)
  }
}
