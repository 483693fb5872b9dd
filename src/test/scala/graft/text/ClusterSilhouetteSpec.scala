package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** x74 pins: on a corpus of 8 vocabulary-disjoint groups aligned with the
  * x46 seeding (group = doc_id % 8, one hash-bucket-distinct word each),
  * every document's own-centroid distance is exactly 0 and every foreign
  * distance exactly 1 — silhouette must read exactly 10000 bp with zero
  * misassignments. Plus determinism + internal consistency on testdata.
  */
class ClusterSilhouetteSpec extends SparkSpec {
  import spark.implicits._

  test("pure vocab-disjoint clusters: every topic reads exactly 10000 bp") {
    graft.GraftExtensions.ensure(spark)
    // greedily pick 8 candidate words whose 64-way hash buckets differ —
    // a cross-group bucket collision would leak foreign dot mass
    val cand = (0 until 64).map(i => s"topicword$i")
    val bucketOf = cand.toDF("tok")
      .select(col("tok"),
        pmod(call_function("graft_md5u60", col("tok")), lit(64L)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val words = cand.foldLeft(Vector.empty[String]) { (acc, w) =>
      if (acc.size < 8 && !acc.exists(a => bucketOf(a) == bucketOf(w)))
        acc :+ w
      else acc
    }
    assert(words.size === 8)
    val rows = (0 until 64).map { i =>
      val g = i % 8
      val reps = i % 5 + 1
      (i.toLong, Seq.fill(reps)(words(g)).mkString(" "), "en",
        s"src${i % 3}", (words(g).length * reps).toLong)
    }
    val dir = tempDir("graft-x74").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.x74ClusterSilhouette.run(spark, dir).collect()
    assert(out.length === 8)
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") === 8L)
      assert(r.getAs[Long]("mean_sil_bp") === 10000L, r.toString)
      assert(r.getAs[Long]("n_negative") === 0L, r.toString)
    }
  }

  test("sf0.001: deterministic, bounded, and doc-count-conserving") {
    val a = TextQueries.x74ClusterSilhouette.run(spark, sfDir).collect()
    val b = TextQueries.x74ClusterSilhouette.run(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.map(_.getAs[Long]("n_docs")).sum === 500L)
    a.foreach { r =>
      val bp = r.getAs[Long]("mean_sil_bp")
      assert(bp >= -10000L && bp <= 10000L)
      assert(r.getAs[Long]("n_negative") <= r.getAs[Long]("n_docs"))
    }
  }
}
