package graft.streaming

import graft.SparkSpec
import graft.lakehouse.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ST32 audited sink: good batches publish exactly once, bad batches
  * quarantine without moving main, replays of either outcome are
  * no-ops, a crash mid-stage re-stages cleanly, and the live drive with
  * a checkpoint restart converges to the same tables.
  */
class AuditedSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tables(prefix: String): (SnapshotTable, SnapshotTable) = {
    val base = tempDir(prefix).toString
    (SnapshotTable.create(spark, s"$base/t"),
      SnapshotTable.create(spark, s"$base/q"))
  }

  // audit: staged state must contain no negative keys
  private val noNegatives: DataFrame => Boolean =
    staged => staged.filter(col("k") < 0).isEmpty

  private def batchOf(ks: Long*): DataFrame = ks.toSeq.toDF("k")

  test("good publishes exactly once; bad quarantines and main never moves") {
    val (t, q) = tables("graft-st32")
    assert(AuditedSink.processBatch(batchOf(1, 2, 3), 0L, t, q, noNegatives))
    val v1 = t.currentVersion
    assert(t.read().count() === 3)

    assert(!AuditedSink.processBatch(batchOf(4, -5), 1L, t, q, noNegatives))
    assert(t.currentVersion === v1, "failed batch moved main")
    assert(t.read().count() === 3)
    val quarantined = q.read().collect()
    assert(quarantined.length === 2)
    assert(quarantined.forall(_.getAs[Long]("quarantined_batch") === 1L))

    // replays of both outcomes are no-ops
    assert(AuditedSink.processBatch(batchOf(1, 2, 3), 0L, t, q, noNegatives))
    assert(!AuditedSink.processBatch(batchOf(4, -5), 1L, t, q, noNegatives))
    assert(t.currentVersion === v1 && t.read().count() === 3)
    assert(q.read().count() === 2, "replayed failure duplicated quarantine")
  }

  test("the audit sees the STAGED state: a batch valid alone can be " +
    "rejected against what main already holds") {
    val (t, q) = tables("graft-st32-staged")
    val unique: DataFrame => Boolean =
      staged => staged.groupBy("k").count().filter(col("count") > 1).isEmpty
    assert(AuditedSink.processBatch(batchOf(1, 2), 0L, t, q, unique))
    // batch {2,3} is internally unique but collides with published k=2
    assert(!AuditedSink.processBatch(batchOf(2, 3), 1L, t, q, unique))
    assert(t.read().count() === 2)
    assert(q.read().count() === 2)
  }

  test("crash mid-stage: a leftover branch from a dead writer re-stages " +
    "cleanly and publishes exactly once") {
    val (t, q) = tables("graft-st32-crash")
    assert(AuditedSink.processBatch(batchOf(1), 0L, t, q, noNegatives))
    // simulate the crash: batch 1 staged (marker manifest written,
    // branch ref left behind) but never published
    t.branch("wap-1")
    t.appendToBranch("wap-1", batchOf(7, 8), op = "wap-batch-1")
    assert(t.read().count() === 1, "staging leaked into main")
    // the replay must not see the unreachable marker as committed
    assert(AuditedSink.processBatch(batchOf(7, 8), 1L, t, q, noNegatives))
    assert(t.read().count() === 3)
    assert(t.read().filter(col("k").isin(7, 8)).count() === 2)
    // and only once: a second replay is a no-op
    assert(AuditedSink.processBatch(batchOf(7, 8), 1L, t, q, noNegatives))
    assert(t.read().count() === 3)
  }

  test("live drive: mixed batches across a checkpoint restart converge " +
    "to good rows published, bad batches quarantined, exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (t, q) = tables("graft-st32-live")
    val ckpt = tempDir("graft-st32-ckpt").toString
    val mem = MemoryStream[Long]
    def start() = AuditedSink.run(mem.toDS().toDF("k"), t, q,
      noNegatives, ckpt)

    val q1 = start()
    try { mem.addData(1L, 2L, 3L); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try {
      mem.addData(-4L, 5L); q2.processAllAvailable() // fails the audit
      mem.addData(6L, 7L); q2.processAllAvailable()  // passes
    } finally q2.stop()

    val main = t.read().select("k").as[Long].collect().sorted
    assert(main.toSeq === Seq(1L, 2L, 3L, 6L, 7L))
    val bad = q.read().select("k").as[Long].collect().sorted
    assert(bad.toSeq === Seq(-4L, 5L))
    // lineage: one published marker per good batch, none for the bad one
    val ops = t.history().select("operation").as[String].collect()
    assert(ops.count(_.startsWith("wap-batch-")) === 2)
  }
}
