package graft.text

import graft.SparkSpec

/** X49 chunk retrieval: result shape on the real corpus (cross-document
  * only, contiguous ranks, cosine bounds) and a planted-passage probe —
  * a document sharing its opening passage with the query doc is
  * retrieved at rank 1 with cosine ≈ 1.
  */
class ChunkRetrievalSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  test("x49 shape: 4 queries, cross-doc hits, contiguous ranks, cos in (0,1]") {
    val rows = TextQueries.x49ChunkRetrieval.run(spark, sf01).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L))
    byQ.foreach { case (q, hits) =>
      assert(hits.length === 5, s"query $q returned ${hits.length} hits")
      assert(hits.map(_.getLong(1)).sorted.toSeq === (1L to 5L).toSeq)
      hits.foreach { h =>
        assert(h.getLong(2) !== q, "hits must come from other documents")
        val cos = h.getDouble(4)
        assert(cos > 0.0 && cos <= 1.0 + 1e-12, s"cosine $cos out of range")
      }
    }
  }

  test("x49 retrieves a planted shared passage at rank 1") {
    val dir = tempDir("graft-x49").toString
    import spark.implicits._
    val passage = (1 to 32).map(i => s"tok$i").mkString(" ")
    val filler = (1 to 32).map(i => s"pad$i").mkString(" ")
    val other = (1 to 32).map(i => s"alt$i").mkString(" ")
    Seq(
      (0L, passage, "en", "s", passage.length.toLong), // query doc
      (1L, s"$passage $filler", "en", "s", 1L), // shares the opening passage
      (2L, other, "en", "s", other.length.toLong),
      (3L, filler, "en", "s", filler.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val hits = TextQueries.x49ChunkRetrieval.run(spark, dir).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getLong(1))
    assert(hits.nonEmpty)
    val top = hits.head
    assert(top.getLong(2) === 1L && top.getLong(3) === 0L,
      s"doc 1's opening chunk must be the top hit: $top")
    assert(top.getDouble(4) > 0.9999, s"shared passage must score cos ~ 1: $top")
  }
}
