package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ST31 streaming sequence packing: fold ≡ sequential prefix rule on
  * any batch split, placements match batch x12's prefix-sum bins
  * exactly on real data, replays emit nothing, and a checkpoint restart
  * neither drops nor duplicates placements.
  */
class SequencePackerSpec extends SparkSpec {
  import spark.implicits._
  import SequencePacker._

  private def doc(src: String, seq: Long, toks: Long) =
    Doc(src, seq, doc_id = 1000 * seq, toks = toks)

  test("contiguous placement: starts are the running sum, bins are " +
    "last-token bins, straddlers spill forward") {
    val docs = Seq(doc("a", 1, 100), doc("a", 2, 30), doc("a", 3, 1),
      doc("a", 4, 130))
    val (st, out) = fold(budget = 128L)(empty, docs)
    assert(out.map(_.start) === Seq(0L, 100L, 130L, 131L))
    // last tokens at 99, 129, 130, 260 -> bins 0, 1, 1, 2
    assert(out.map(_.bin) === Seq(0L, 1L, 1L, 2L))
    assert(st === PackState(4L, 261L, 4L))
  }

  test("fold over any in-order split ≡ one sequential fold") {
    val rng = new scala.util.Random(11)
    val docs = (1L to 300L).map(i => doc("a", i, 1 + rng.nextInt(500)))
    val (stWhole, outWhole) = fold(2048L)(empty, docs)
    for (splits <- Seq(Seq(75, 220), Seq(1, 150, 299), Seq(300))) {
      var st = empty
      val out = Seq.newBuilder[Placement]
      var rest = docs
      (splits :+ 300).distinct.foreach { cut =>
        val (h, t) = rest.splitAt(cut - (300 - rest.size))
        val (st2, o) = fold(2048L)(st, h)
        st = st2; out ++= o; rest = t
      }
      assert(st === stWhole)
      assert(out.result() === outWhole, s"split $splits diverged")
    }
  }

  test("replays at or before the frontier emit nothing and change nothing") {
    val docs = (1L to 5L).map(i => doc("a", i, 10))
    val (st1, _) = fold(64L)(empty, docs)
    val (st2, out2) = fold(64L)(st1, docs.take(4)) // redelivered prefix
    assert(st2 === st1 && out2.isEmpty)
  }

  test("live drive ≡ fold; per-source cursors independent; restart " +
    "neither drops nor duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-st31").toString
    val mem = MemoryStream[Doc]
    def start() = route(100L)(mem.toDS()).writeStream
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()

    val a = (1L to 7L).map(i => doc("a", i, 60)) // straddles every other bin
    val b = (1L to 3L).map(i => doc("b", i, 250)) // multi-bin docs
    val q1 = start()
    try { mem.addData(a.take(4) ++ b.take(1)); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start() // restart from checkpoint
    try { mem.addData(a.drop(4) ++ b.drop(1)); q2.processAllAvailable() }
    finally q2.stop()

    val got = spark.read.parquet(s"$dir/out").as[Placement].collect()
      .sortBy(p => (p.source, p.seq))
    val expected = (fold(100L)(empty, a)._2 ++ fold(100L)(empty, b)._2)
      .sortBy(p => (p.source, p.seq))
    assert(got.toSeq === expected)
    // b's cursor is not perturbed by a's: 3 docs x 250 toks, last ends 750
    assert(got.filter(_.source == "b").map(_.bin).toSeq === Seq(2L, 4L, 7L))
  }

  test("stream ≡ batch x12 on the real corpus: every document lands in " +
    "the bin the corpus-wide prefix sum assigns it") {
    // batch truth: x12's binned intermediate (prefix sum in doc_id order)
    val toks = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val batch = toks
      .withColumn("cum", sum(col("toks")).over(w))
      .withColumn("bin", expr("(cum - 1) div 2048L"))
      .withColumn("start", col("cum") - col("toks"))
      .select(col("source"), col("doc_id"), col("start"), col("bin"))
      .as[(String, Long, Long, Long)].collect().toSeq
      .sortBy(r => (r._1, r._2))

    // live truth: the fold over per-source arrival (doc_id) order
    val arrivals = toks
      .select(col("source"), col("doc_id").as("seq"), col("doc_id"),
        col("toks"))
      .as[Doc].collect().toSeq.groupBy(_.source)
    val streamed = arrivals.toSeq.flatMap { case (_, ds) =>
      fold(2048L)(empty, ds)._2
    }.map(p => (p.source, p.doc_id, p.start, p.bin))
      .sortBy(r => (r._1, r._2))

    assert(streamed.size === batch.size)
    assert(streamed === batch)
  }
}
