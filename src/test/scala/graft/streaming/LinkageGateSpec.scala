package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST22 live record linkage: planted perturbations must resolve to
  * their originals, novel records must mint `new`, and the stateless
  * verdicts must be invariant under batch splits and a live replay.
  */
final case class LinkageIn(in_id: Long, name: String, nat: Long,
  bal_c: Long, seg: String)

class LinkageGateSpec extends SparkSpec {
  import spark.implicits._

  private def reference = graft.sources.Tables
    .load(spark, sfDir, "customer")
    .selectExpr("CAST(c_custkey AS LONG) AS rid", "c_name AS name",
      "CAST(c_nationkey AS LONG) AS nat",
      "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS LONG) AS bal_c",
      "c_mktsegment AS seg")

  private def arrivals: Seq[LinkageIn] = {
    val base = reference.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getString(4)))
    // x63's plant: trailing typo + 37 cents, same nation/segment
    val dups = base.filter(_._1 % 7 == 3).map { case (rid, n, nat, bal, seg) =>
      LinkageIn(rid + 100000L, n.dropRight(1) + "x", nat, bal + 37, seg)
    }
    // novel entities: names no reference block contains
    val novel = (0 until 10).map(i =>
      LinkageIn(900000L + i, f"Person#$i%09d", i.toLong, 123456L + i, "NOVEL"))
    (dups ++ novel).toSeq
  }

  test("planted duplicates match their originals; novel records mint new") {
    val idx = LinkageGate.fit(reference)
    try {
      val got = LinkageGate.resolve(arrivals.toDF(), idx).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
      arrivals.foreach { a =>
        if (a.in_id >= 900000L)
          assert(got(a.in_id)._2 === "new", s"novel ${a.in_id}: $got")
        else {
          assert(got(a.in_id)._2 === "match", s"planted ${a.in_id}")
          assert(got(a.in_id)._1 === a.in_id - 100000L,
            s"planted ${a.in_id} resolved to the wrong entity")
        }
      }
    } finally LinkageGate.release(idx)
  }

  test("verdicts are batch-split invariant and replay-identical (live drive)") {
    val idx = LinkageGate.fit(reference)
    try {
      val all = arrivals
      val whole = LinkageGate.resolve(all.toDF(), idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      // stateless split invariance
      val chunked = all.grouped(7).flatMap(c =>
        LinkageGate.resolve(c.toDF(), idx).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3)))).toSet
      assert(chunked === whole)
      // live MemoryStream drive through the per-batch-dir sink
      val dir = tempDir("graft-linkage-gate").toString
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[LinkageIn]
      val q = LinkageGate.start(mem.toDF(), idx, s"$dir/out", s"$dir/ckpt")
      try {
        val (h1, h2) = all.splitAt(all.size / 2)
        mem.addData(h1); q.processAllAvailable()
        mem.addData(h2); q.processAllAvailable()
      } finally q.stop()
      val live = spark.read.parquet(s"$dir/out")
        .select("in_id", "best_ref", "best_score", "verdict").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(live === whole, "streamed verdicts diverge from batch resolve")
    } finally LinkageGate.release(idx)
  }
}
