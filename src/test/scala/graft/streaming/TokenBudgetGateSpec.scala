package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ST30 token-budget admission: fold ≡ sequential prefix rule on any
  * batch split, the crossing document is admitted (budget is a floor),
  * replays emit nothing, live drive matches the fold, and a checkpoint
  * restart neither drops nor duplicates verdicts.
  */
class TokenBudgetGateSpec extends SparkSpec {
  import spark.implicits._
  import TokenBudgetGate._

  private def doc(src: String, seq: Long, toks: Long, budget: Long) =
    Doc(src, seq, doc_id = 1000 * seq, toks = toks, budget = budget)

  test("prefix rule: admit while accepted mass is under budget; the " +
    "crossing doc is admitted; everything after is rejected") {
    val docs = (1L to 10L).map(i => doc("a", i, toks = 30, budget = 100))
    val (st, out) = fold(empty, docs)
    // 30,60,90 under 100 at entry -> docs 1..4 admitted (90 < 100 admits
    // the 4th, crossing to 120), 5..10 rejected
    assert(out.count(_.admitted) === 4)
    assert(out.takeWhile(_.admitted).map(_.seq) === Seq(1L, 2L, 3L, 4L))
    assert(st.accepted_toks === 120L && st.accepted_docs === 4L)
    // an oversized doc cannot starve the stream: it is the crossing doc
    val (_, big) = fold(empty, Seq(doc("a", 1, toks = 10000, budget = 5)))
    assert(big.head.admitted, "first doc under an unspent budget must admit")
  }

  test("fold over any in-order split ≡ one sequential fold") {
    val rng = new scala.util.Random(7)
    val docs = (1L to 200L).map(i =>
      doc("a", i, toks = 1 + rng.nextInt(50), budget = 2000))
    val (stWhole, outWhole) = fold(empty, docs)
    for (splits <- Seq(Seq(50, 150), Seq(1, 100, 199), Seq(200))) {
      var st = empty
      val out = Seq.newBuilder[Verdict]
      var rest = docs
      (splits :+ 200).distinct.foreach { cut =>
        val (h, t) = rest.splitAt(cut - (200 - rest.size))
        val (st2, o) = fold(st, h)
        st = st2; out ++= o; rest = t
      }
      assert(st === stWhole)
      assert(out.result() === outWhole, s"split $splits diverged")
    }
  }

  test("replays at or before the frontier emit nothing and change nothing") {
    val docs = (1L to 5L).map(i => doc("a", i, 10, 25))
    val (st1, out1) = fold(empty, docs)
    val (st2, out2) = fold(st1, docs.take(3)) // redelivered prefix
    assert(st2 === st1 && out2.isEmpty)
  }

  test("live drive ≡ fold; per-source budgets independent; restart " +
    "neither drops nor duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-st30").toString
    val mem = MemoryStream[Doc]
    def start() = route(mem.toDS()).writeStream
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()

    val a = (1L to 6L).map(i => doc("a", i, 40, 100))  // admits 3 (40,80,120)
    val b = (1L to 4L).map(i => doc("b", i, 10, 1000)) // admits all
    val q1 = start()
    try { mem.addData(a.take(3) ++ b.take(2)); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start() // restart from checkpoint
    try { mem.addData(a.drop(3) ++ b.drop(2)); q2.processAllAvailable() }
    finally q2.stop()

    val got = spark.read.parquet(s"$dir/out").as[Verdict].collect()
      .sortBy(v => (v.source, v.seq))
    val expected = (fold(empty, a)._2 ++ fold(empty, b)._2)
      .sortBy(v => (v.source, v.seq))
    assert(got.toSeq === expected)
    assert(got.count(v => v.source == "a" && v.admitted) === 3)
    assert(got.count(v => v.source == "b" && v.admitted) === 4)
  }

  test("the gate reproduces x62-family budgets end to end on real data: " +
    "every source stops at or just past its planning-table budget") {
    // planning table: x62's budgets (25% of source tokens); arrival order
    // = doc_id (the generator's natural log order)
    val scored = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val budgets = scored.groupBy("source")
      .agg(greatest(expr("sum(toks) DIV 4"), lit(1L)).as("budget"))
    val docs = scored.join(broadcast(budgets), Seq("source"))
      .select(col("source"), col("doc_id").as("seq"), col("doc_id"),
        col("toks"), col("budget"))
      .as[Doc].collect().toSeq.groupBy(_.source)
    docs.foreach { case (src, ds) =>
      val (st, out) = fold(empty, ds)
      val budget = ds.head.budget
      assert(st.accepted_toks >= budget,
        s"$src under-admitted: ${st.accepted_toks} < $budget")
      // floor semantics: before the crossing doc, mass was under budget
      val lastAdmitted = out.filter(_.admitted).last
      assert(lastAdmitted.accepted_toks - lastAdmitted.toks < budget,
        s"$src admitted past the floor")
      assert(out.forall(v => v.admitted || v.accepted_toks >= budget),
        s"$src rejected while under budget")
    }
  }
}
