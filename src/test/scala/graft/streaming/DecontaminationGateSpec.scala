package graft.streaming

import graft.SparkSpec
import graft.text.CurationQueries
import org.apache.spark.sql.DataFrame

/** ST18 streaming decontamination: verdicts must equal the batch x51
  * rule on any batch split (stateless per doc), the benchmark snapshot
  * must stay frozen between TTL refreshes, and the live stream must
  * agree with the batch screen end to end.
  */
class DecontaminationGateSpec extends SparkSpec {
  import spark.implicits._

  private val quote13 = (1 to 13).map(i => s"q$i").mkString(" ")

  private def docsDf(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "source", "text")

  private val benchRows = Seq((100L, s"benchmark stem $quote13 tail"))
  private val corpus = Seq(
    (1L, "srcA", s"prefix $quote13 suffix here"), // contaminated
    (2L, "srcA", "twelve shared " + (1 to 12).map(i => s"q$i").mkString(" ") +
      " then diverges"), // only 12-gram overlap: clean
    (3L, "srcB", "entirely unrelated text with plenty of tokens to chunk " +
      "into thirteen gram windows for the screen"))

  private def gate(bench: Seq[(Long, String)] = benchRows,
      ttlMs: Long = Long.MaxValue, clock: () => Long = () => 0L) =
    new DecontaminationGate(
      s => { import s.implicits._; bench.toDF("doc_id", "text") },
      ttlMs, clock)

  test("route agrees with the batch x51 rule on every batch split") {
    val expected = CurationQueries.contaminatedDocs(
        docsDf(corpus), benchRows.toDF("doc_id", "text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expected === Set(1L))
    Seq(Seq(corpus), corpus.map(Seq(_)), Seq(corpus.take(2), corpus.drop(2)))
      .foreach { split =>
        val g = gate()
        val got = split.flatMap { b =>
          val (_, dirty) = g.route(docsDf(b))
          dirty.select("doc_id").collect().map(_.getLong(0))
        }.toSet
        assert(got === expected, s"split ${split.map(_.map(_._1))} diverged")
      }
  }

  test("clean + quarantined partition the batch exactly") {
    val (clean, dirty) = gate().route(docsDf(corpus))
    val c = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    val d = dirty.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(c.intersect(d).isEmpty && (c ++ d) === corpus.map(_._1).toSet)
  }

  test("the benchmark snapshot is frozen between TTL refreshes") {
    @volatile var now = 0L
    @volatile var bench = Seq.empty[(Long, String)] // initially empty: all clean
    val g = new DecontaminationGate(
      s => { import s.implicits._; bench.toDF("doc_id", "text") },
      ttlMs = 1000L, clock = () => now)
    assert(g.route(docsDf(corpus))._2.count() === 0L)
    assert(g.refreshCount === 1L)
    // the benchmark gains the quote mid-TTL: invisible to verdicts
    bench = benchRows
    assert(g.route(docsDf(corpus))._2.count() === 0L,
      "a mid-TTL benchmark change must not leak into verdicts")
    assert(g.refreshCount === 1L)
    // TTL expiry: the new benchmark is picked up, doc 1 now quarantined
    now = 5000L
    assert(g.route(docsDf(corpus))._2.select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L))
    assert(g.refreshCount === 2L)
  }

  test("live stream routes exactly like the batch screen; dirs partition by batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft-st18").toString
    val g = gate()
    val mem = MemoryStream[(Long, String, String)]
    val q = g.start(mem.toDF().toDF("doc_id", "source", "text"),
      s"$tmp/clean", s"$tmp/quarantine", s"$tmp/ckpt")
    try {
      mem.addData(corpus.take(2))
      q.processAllAvailable()
      mem.addData(corpus.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val dirty = spark.read.parquet(s"$tmp/quarantine")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clean = spark.read.parquet(s"$tmp/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dirty === Set(1L) && clean === Set(2L, 3L))
    // batch_id discovered as a partition column on read
    assert(spark.read.parquet(s"$tmp/clean").columns.contains("batch_id"))
  }
}
