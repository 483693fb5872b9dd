package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** x75 pins: planted overlaps of exactly 13 / 26 / 52 / 104 shared tokens
  * must land on their severity rung — and ONLY that rung (a 13-token
  * mention must not clear 26; wholesale must not be double-counted at
  * lower rungs).
  */
class ContaminationExtentSpec extends SparkSpec {
  import spark.implicits._

  test("planted extents map one-to-one onto the ladder") {
    graft.GraftExtensions.ensure(spark)
    // buckets derive from md5(doc_id): pick ids landing in each split
    val buckets = (0L until 400L).toDF("doc_id")
      .select(col("doc_id"), pmod(call_function("graft_md5u60",
        col("doc_id").cast("string")), lit(100)).as("bkt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = (0L until 400L).filter(buckets(_) < 80).take(5)
    val benchId = (0L until 400L).find(buckets(_) >= 90).get

    val benchToks = (1 to 120).map(i => s"b$i")
    def doc(id: Long, src: String, shared: Int): (Long, String, String, String, Long) = {
      val pre = (1 to 20).map(i => s"pre${id}x$i")
      val post = (1 to 20).map(i => s"post${id}y$i")
      val text = (pre ++ benchToks.take(shared) ++ post).mkString(" ")
      (id, text, "en", src, text.length.toLong)
    }
    val rows = Seq(
      doc(trainIds(0), "src_mention", 13),
      doc(trainIds(1), "src_passage", 26),
      doc(trainIds(2), "src_section", 52),
      doc(trainIds(3), "src_wholesale", 104),
      doc(trainIds(4), "src_clean", 0),
      (benchId, benchToks.mkString(" "), "en", "bench", 120L))
    val dir = tempDir("graft-x75").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = CurationQueries.x75ContaminationExtent.run(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("extent_grams"), r.getAs[String]("severity"),
          r.getAs[Long]("n_docs")))).toMap
    assert(out === Map(
      "src_mention" -> ((13L, "mention", 1L)),
      "src_passage" -> ((26L, "passage", 1L)),
      "src_section" -> ((52L, "section", 1L)),
      "src_wholesale" -> ((104L, "wholesale", 1L))))
  }

  test("sf0.001 ladder is monotone: every rung's docs cleared the rungs below") {
    val ext = CurationQueries.x75ContaminationExtent.run(spark, sfDir)
      .collect()
    assert(ext.nonEmpty)
    // per-source extent rows are distinct and the doc counts positive
    assert(ext.forall(_.getAs[Long]("n_docs") > 0))
    val rungs = Set(13L, 26L, 52L, 104L)
    assert(ext.forall(r => rungs.contains(r.getAs[Long]("extent_grams"))))
  }
}
