package graft.text

import graft.SparkSpec

/** x51 eval-set decontamination: plant a verbatim benchmark quote in a
  * training document and pin that the 13-gram screen detects exactly it —
  * a 12-token overlap (one short of the GPT-3/PaLM rule) must NOT flag.
  */
class DecontaminationSpec extends SparkSpec {
  import spark.implicits._

  private val quote13 = (1 to 13).map(i => s"q$i").mkString(" ")
  private val quote12 = (1 to 12).map(i => s"q$i").mkString(" ")

  private def screen(corpus: Seq[(Long, String, String)],
      bench: Seq[(Long, String)]) =
    CurationQueries.contaminatedDocs(
        corpus.toDF("doc_id", "source", "text"),
        bench.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("a planted 13-gram quote is detected; a 12-gram overlap is not") {
    val hits = screen(
      corpus = Seq(
        // benchmark quote embedded mid-document -> contaminated
        (1L, "srcA", s"prefix words here $quote13 and a suffix"),
        // only 12 consecutive tokens shared -> clean under the 13-gram rule
        (2L, "srcA", s"prefix words here $quote12 then diverges entirely"),
        // no overlap at all
        (3L, "srcB", "completely unrelated text with plenty of tokens " +
          "to spare for gram extraction in this document")),
      bench = Seq((100L, s"benchmark question stem $quote13 benchmark answer")))
    assert(hits == Set((1L, "srcA")))
  }

  test("documents shorter than 13 tokens can never be flagged") {
    val hits = screen(
      corpus = Seq((1L, "srcA", quote12)), // 12 tokens total
      bench = Seq((100L, s"$quote13 tail")))
    assert(hits.isEmpty)
  }

  test("x61 catches a re-cased, re-punctuated quote that evades x51") {
    // find doc ids landing in the train (<80) and bench (>=90) hash
    // buckets — the split is a pure function of the id
    def bkt(id: Long): Long = graft.functions.Md5U60.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(id.toString)) % 100L
    val trainId = (0L to 500L).find(bkt(_) < 80).get
    val benchId = (0L to 500L).find(bkt(_) >= 90).get
    val mangled = (1 to 13).map(i => if (i % 2 == 0) s"Q$i," else s"q$i.")
      .mkString(" ")
    val dir = tempDir("graft-x61").toString
    import spark.implicits._
    Seq(
      (trainId, s"some Prefix; $mangled and a TAIL", "en", "srcA", 99L),
      (benchId, s"benchmark stem $quote13 benchmark tail", "en", "srcB", 99L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def contam(q: String): Long =
      graft.SparkEntry.queries(q)(spark, dir).collect()
        .map(r => r.getLong(2)).sum
    assert(contam("x51_eval_decontamination") === 0L,
      "the verbatim screen must MISS the re-formatted quote (the gap x61 closes)")
    assert(contam("x61_normalized_decontamination") === 1L,
      "the normalized screen must catch it")
  }

  test("removal verdict: flagged docs leave the kept census") {
    // run the inventory query end-to-end on the real corpus and check the
    // invariant the release depends on: kept + contaminated = train docs,
    // and any contaminated source carries the strip verdict
    val out = graft.SparkEntry.queries("x51_eval_decontamination")(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (train, contam, kept, verdict) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(train == contam + kept, r.toString)
      assert(verdict == (if (contam == 0) "clean" else "strip"), r.toString)
    }
  }
}
