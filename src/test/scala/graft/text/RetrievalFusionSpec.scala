package graft.text

import graft.SparkSpec

/** X56 BM25 + x57 RRF fusion semantics.
  *
  * BM25 pins isolate the two ranking forces on controlled corpora where
  * exactly one force differs between two candidates: idf (a rare-term
  * match must outrank a common-term match at equal tf and length) and
  * length normalization (the shorter of two docs with the same tf must
  * rank higher). The fusion is pinned by a full differential: the x57
  * output must equal a single-threaded RRF recomputed from the two legs'
  * own score frames.
  */
class RetrievalFusionSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  /** Synthetic corpus: doc 0's query contains a rare and a common term
    * matched by equal-shape candidates; doc 1's query matches two docs
    * differing only in length.
    */
  private lazy val dir: String = {
    val d = tempDir("graft-x56").toString
    import spark.implicits._
    val rows =
      Seq(
        (0L, "rare0 common qpad0 qpad1"),
        (1L, "rare1 qpad3 qpad4 qpad5"),
        (2L, "qq2a qq2b qq2c qq2d"),
        (3L, "qq3a qq3b qq3c qq3d"),
        // q0 candidates: identical tf (1) and length (4); only the
        // matched term's document frequency differs
        (10L, "rare0 pad1 pad2 pad3"),
        (11L, "common pad4 pad5 pad6"),
        // q1 candidates: identical tf (1); only document length differs
        (20L, "rare1 spad1 spad2 spad3"),
        (21L, "rare1 lpad1 lpad2 lpad3 lpad4 lpad5 lpad6 lpad7 lpad8 " +
          "lpad9 lpad10 lpad11")) ++
        // inflate df(common) so its idf sits well below rare0's; longer
        // than doc 11 so length normalization keeps them BELOW it
        (30L to 39L).map(i => (i,
          s"common cpad${i}a cpad${i}b cpad${i}c cpad${i}d cpad${i}e " +
            s"cpad${i}f cpad${i}g cpad${i}h cpad${i}i cpad${i}j"))
    rows.map { case (id, text) =>
      (id, text, "en", "srcS", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def x56(at: String): Seq[(Long, Long, Long)] =
    TextQueries.x56Bm25Retrieval.run(spark, at).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("a rare-term match outranks a common-term match at equal tf and length") {
    val q0 = x56(dir).filter(_._1 == 0L).sortBy(_._2).map(_._3)
    assert(q0.indexOf(10L) >= 0 && q0.indexOf(11L) >= 0,
      s"both planted candidates must surface: $q0")
    assert(q0.indexOf(10L) < q0.indexOf(11L),
      s"idf must rank the rare-term match first: $q0")
  }

  test("the shorter of two equal-tf docs ranks higher (length normalization)") {
    val q1 = x56(dir).filter(_._1 == 1L).sortBy(_._2).map(_._3)
    assert(q1.indexOf(20L) >= 0 && q1.indexOf(21L) >= 0,
      s"both planted candidates must surface: $q1")
    assert(q1.indexOf(20L) < q1.indexOf(21L),
      s"length normalization must rank the short doc first: $q1")
  }

  test("a query document never retrieves itself (either engine leg)") {
    assert(x56(sf01).forall(r => r._1 != r._3))
    val x57 = TextQueries.x57HybridRrf.run(spark, sf01).collect()
    assert(x57.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("x57 equals a single-threaded RRF over the two legs' score frames") {
    def ranked[A](rows: Seq[(Long, Long, A)])(implicit ord: Ordering[A])
        : Seq[(Long, Long, Long)] =
      rows.groupBy(_._1).toSeq.flatMap { case (q, hs) =>
        hs.sortBy(h => (h._3, h._2))(Ordering.Tuple2(ord.reverse, Ordering.Long))
          .take(20).zipWithIndex
          .map { case (h, i) => (q, h._2, 1000000L / (60L + i + 1)) }
      }
    val lex = TextQueries.bm25Scores(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val den = TextQueries.denseCosineScores(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val contribs = ranked(lex) ++ ranked(den)
    val expected = contribs.groupBy(c => (c._1, c._2)).toSeq
      .map { case ((q, h), cs) => (q, h, cs.map(_._3).sum, cs.size.toLong) }
      .groupBy(_._1).toSeq.flatMap { case (_, hs) =>
        hs.sortBy(h => (-h._3, h._2)).take(5).zipWithIndex
          .map { case ((q, h, fp, legs), i) => (q, i + 1L, h, fp, legs) }
      }.sorted
    val got = TextQueries.x57HybridRrf.run(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    assert(got === expected, "fused ranking diverged from the reference")
    assert(got.exists(_._5 == 2L), "sf0.01 must produce at least one 2-leg hit")
  }
}
