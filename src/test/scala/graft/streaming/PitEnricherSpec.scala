package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST33: the streamed point-in-time enrichment must equal batch cdc4
  * row-for-row on the same probes, stay invariant under batch splits,
  * and survive a checkpoint restart without duplicating or re-serving.
  */
final case class Probe(id: Long, probe_lsn: Long)

class PitEnricherSpec extends SparkSpec {
  import spark.implicits._

  private def versions = graft.cdc.CdcQueries.scd2Versions(spark, sfDir)

  /** cdc4's probe set: the four interesting temporal positions per key. */
  private def probes: Seq[Probe] = graft.sources.Tables
    .load(spark, sfDir, "orders")
    .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
    .flatMap(k => Seq(-5L, 0L, 1L, 2L).map(off => Probe(k, k * 10 + off)))

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
      Option(r.get(3)).map(_.toString), Option(r.get(4)).map(_.toString)))
    .toSet

  test("stream equals batch cdc4 and is split-invariant") {
    val idx = PitEnricher.fit(versions)
    try {
      val ps = probes
      val batch = rows(graft.cdc.CdcQueries.cdc4PitLookup.run(spark, sfDir))
      val whole = rows(PitEnricher.enrich(ps.toDF(), idx))
      assert(whole === batch, "enrich diverges from batch cdc4")
      val chunked = ps.grouped(ps.size / 3 + 1).map(c =>
        rows(PitEnricher.enrich(c.toDF(), idx))).reduce(_ ++ _)
      assert(chunked === whole, "batch-split variance")
    } finally PitEnricher.release(idx)
  }

  test("live drive with a mid-stream restart serves every probe exactly once") {
    val idx = PitEnricher.fit(versions)
    try {
      val ps = probes
      val dir = tempDir("graft-pit").toString
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Probe]
      val (h1, h2) = ps.splitAt(ps.size / 2)
      val q1 = PitEnricher.start(mem.toDF(), idx, s"$dir/out", s"$dir/ckpt")
      try { mem.addData(h1); q1.processAllAvailable() } finally q1.stop()
      // restart on the same checkpoint; feed the remainder
      val q2 = PitEnricher.start(mem.toDF(), idx, s"$dir/out", s"$dir/ckpt")
      try { mem.addData(h2); q2.processAllAvailable() } finally q2.stop()
      val live = rows(spark.read.parquet(s"$dir/out")
        .select("id", "probe_lsn", "status", "price", "version_no"))
      assert(live === rows(PitEnricher.enrich(ps.toDF(), idx)))
      // exactly one row per probe (no replay duplication)
      assert(spark.read.parquet(s"$dir/out").count() === ps.size.toLong)
    } finally PitEnricher.release(idx)
  }
}
