package graft.streaming

import graft.SparkSpec
import graft.quality.ContractRule
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST34: row routing must conserve rows, name every broken rule, keep the
  * ingest schema on the clean side, stay split-invariant, and survive a
  * checkpoint restart without re-routing.
  */
final case class ContractIn(id: Long, qty: Double, status: String)

class ContractGateSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    ContractRule("qty_min", "min", "qty", "1"),
    ContractRule("qty_max", "max", "qty", "49"),
    ContractRule("status_domain", "in_set", "status", "O|F|P"))

  private val arrivals: Seq[ContractIn] =
    (1 to 40).map { i =>
      val qty = if (i % 10 == 0) 0.0 else if (i % 7 == 0) 99.0 else i % 40 + 1.0
      val st = if (i % 11 == 0) "Z" else Seq("O", "F", "P")(i % 3)
      ContractIn(i.toLong, qty, st)
    }

  test("routing conserves rows, names broken rules, keeps ingest schema") {
    val (clean, quarantine) = ContractGate.route(arrivals.toDF(), rules)
    assert(clean.columns.toSeq === Seq("id", "qty", "status"))
    assert(clean.count() + quarantine.count() === 40L)
    val q = quarantine.collect().map(r =>
      r.getAs[Long]("id") -> r.getAs[Seq[String]]("violated").toSet).toMap
    arrivals.foreach { a =>
      val expected = Set(
        if (a.qty < 1) Some("qty_min") else None,
        if (a.qty > 49) Some("qty_max") else None,
        if (!Set("O", "F", "P").contains(a.status)) Some("status_domain")
        else None).flatten
      if (expected.isEmpty) assert(!q.contains(a.id), s"clean row ${a.id} quarantined")
      else assert(q(a.id) === expected, s"row ${a.id}")
    }
  }

  test("live drive with mid-stream restart routes every row exactly once") {
    val dir = tempDir("graft-st34").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ContractIn]
    val (h1, h2) = arrivals.splitAt(17)
    val q1 = ContractGate.start(mem.toDF(), rules, s"$dir/out", s"$dir/ckpt")
    try { mem.addData(h1); q1.processAllAvailable() } finally q1.stop()
    val q2 = ContractGate.start(mem.toDF(), rules, s"$dir/out", s"$dir/ckpt")
    try { mem.addData(h2); q2.processAllAvailable() } finally q2.stop()
    val clean = spark.read.parquet(s"$dir/out/clean")
    val quar = spark.read.parquet(s"$dir/out/quarantine")
    assert(clean.count() + quar.count() === 40L)
    assert(clean.select("id").collect().map(_.getLong(0)).toSet ++
      quar.select("id").collect().map(_.getLong(0)).toSet ===
      (1L to 40L).toSet)
    // streamed verdicts equal the batch route
    val (bc, bq) = ContractGate.route(arrivals.toDF(), rules)
    assert(clean.select("id").collect().map(_.getLong(0)).toSet ===
      bc.select("id").collect().map(_.getLong(0)).toSet)
    assert(quar.select("id").collect().map(_.getLong(0)).toSet ===
      bq.select("id").collect().map(_.getLong(0)).toSet)
  }
}
