package graft.streaming

import graft.SparkSpec
import graft.sources.Tables
import graft.text.TextQueries
import org.apache.spark.sql.functions._

/** ST19 streaming hybrid retrieval: the live server must agree EXACTLY
  * with the batch x57 for the same queries, build its corpus index at
  * most once per TTL, and serve every batch from one frozen snapshot.
  */
class StreamingRetrievalSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  private type Hit = (Long, Long, Long, Long, Long)

  private def batchX57: Set[Hit] =
    TextQueries.x57HybridRrf.run(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def corpusQueries: Seq[(Long, String)] =
    Tables.load(spark, sf01, "documents").filter(col("doc_id") < 4)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("served batches equal the batch x57 bit for bit, on any batch split") {
    import spark.implicits._
    val srv = new StreamingRetrieval(sf01, ttlMs = Long.MaxValue, clock = () => 0L)
    val expected = batchX57
    Seq(Seq(corpusQueries), corpusQueries.map(Seq(_))).foreach { split =>
      val got = split.flatMap { qs =>
        srv.serveBatch(qs.toDF("q_id", "text")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
      }.toSet
      assert(got === expected, s"split of size ${split.size} diverged from batch")
    }
    assert(srv.buildCount === 1L, "index must build once across all batches")
  }

  test("live stream serves exactly the batch result; replay-idempotent dirs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft-st19").toString
    val srv = new StreamingRetrieval(sf01, ttlMs = Long.MaxValue, clock = () => 0L)
    val mem = MemoryStream[(Long, String)]
    val q = srv.start(mem.toDF().toDF("q_id", "text"), s"$tmp/out", s"$tmp/ckpt")
    try {
      val (h1, h2) = corpusQueries.splitAt(2)
      mem.addData(h1)
      q.processAllAvailable()
      mem.addData(h2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$tmp/out")
      .select("q_id", "rk", "hit_doc", "rrf_fp", "n_legs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === batchX57)
  }

  test("the corpus snapshot is frozen between TTL refreshes") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    @volatile var now = 0L
    // the server points at a COPY of the corpus; the mid-TTL update is
    // an EXTERNAL-writer simulation — a filesystem-level file swap, not
    // a same-session Spark write (which would fire recacheByPath and
    // re-execute this session's cached frames, something a different
    // process's writer cannot do)
    val dir = tempDir("graft-st19c").toString
    val shrunkDir = tempDir("graft-st19s").toString
    val docs = Tables.load(spark, sf01, "documents")
    docs.write.parquet(s"$dir/documents.parquet")
    docs.filter(col("doc_id") < 50).write.parquet(s"$shrunkDir/documents.parquet")
    def swapIn(from: String): Unit = {
      val tgt = Paths.get(s"$dir/documents.parquet")
      Files.list(tgt).iterator().asScala.foreach(Files.delete)
      Files.list(Paths.get(s"$from/documents.parquet")).iterator().asScala
        .foreach(p => Files.copy(p, tgt.resolve(p.getFileName)))
    }
    val srv = new StreamingRetrieval(dir, ttlMs = 1000L, clock = () => now)
    val q0 = corpusQueries.take(1).toDF("q_id", "text")
    val before = srv.serveBatch(q0).collect().map(_.toString).toSet
    swapIn(shrunkDir) // external writer shrinks the corpus mid-TTL
    assert(srv.serveBatch(q0).collect().map(_.toString).toSet === before,
      "a mid-TTL corpus change must not leak into serving")
    assert(srv.buildCount === 1L)
    // TTL expiry: the shrunk corpus is picked up (results change)
    now = 5000L
    val after = srv.serveBatch(q0).collect().map(_.toString).toSet
    assert(srv.buildCount === 2L)
    assert(after !== before, "post-TTL serving must see the new corpus")
  }
}
