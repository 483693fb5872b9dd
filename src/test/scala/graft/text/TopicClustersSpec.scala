package graft.text

import graft.SparkSpec

/** X46 topic clustering: census partitions the corpus exactly, runs
  * deterministically, and actually separates content — on a corpus with
  * two disjoint vocabularies every resulting topic is source-pure.
  */
class TopicClustersSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  test("x46 census partitions the corpus; deterministic") {
    val rows = TextQueries.x46TopicClusters.run(spark, sf01).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    assert(rows.map(_.getLong(1)).sum === 500L,
      "every document lands in exactly one topic")
    rows.foreach { r =>
      val (topic, nDocs, nSources, topDocs) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))
      assert(topic >= 0 && topic < 8)
      assert(nSources >= 1 && topDocs >= 1 && topDocs <= nDocs)
    }
    val again = TextQueries.x46TopicClusters.run(spark, sf01).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("x46 separates disjoint vocabularies into source-pure topics") {
    val dir = tempDir("graft-x46").toString
    import spark.implicits._
    // even ids: vocabulary A; odd ids: vocabulary B — the doc_id % 8 seeds
    // are already pure, one Lloyd round must keep them pure
    val rows = (0L until 32L).map { i =>
      val text =
        if (i % 2 == 0) "apple apricot avocado almond anise apple apricot"
        else "bramble bilberry boysenberry bergamot basil bramble bilberry"
      val src = if (i % 2 == 0) "srcA" else "srcB"
      (i, text, "en", src, text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val census = TextQueries.x46TopicClusters.run(spark, dir).collect()
    assert(census.map(_.getLong(1)).sum === 32L)
    census.foreach { r =>
      assert(r.getLong(2) === 1L && r.getLong(4) === r.getLong(1),
        s"topic ${r.getLong(0)} mixes vocabularies: $r")
    }
  }
}
