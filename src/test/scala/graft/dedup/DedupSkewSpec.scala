package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The df-cap's two contracted properties:
  *  1. ADVERSARIAL BOUND — a corpus that collapses into one blocking
  *     bucket (near-identical docs) must not produce a quadratic
  *     candidate join: the >cap bucket is dropped entirely.
  *  2. RECALL — on the normal corpus every bucket sits far below the cap,
  *     so capped and uncapped runs return identical pairs.
  */
class DedupSkewSpec extends SparkSpec {

  /** 400 byte-identical docs (a boilerplate/template cluster): every
    * simhash band and every shingle lands in one 400-doc bucket — the
    * degenerate case that makes candidate generation quadratic. (Exact
    * dedup X1 is the right operator for this cluster; near-dup candidate
    * joins must refuse to explode on it.)
    */
  private lazy val adversarialDir: String = {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val dir = tempDir("graft-skew").toString
    (0 until 400).map(i => (i.toLong, base, "en", "adv", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("adversarial corpus: capped simhash join drops the hot bucket") {
    val capped = DedupQueries.simHashPairs(spark, adversarialDir,
      DedupQueries.BAND_DF_CAP).count()
    // 400 docs sharing every band would be 400*399/2 = 79,800 pairs —
    // the df-cap must kill the bucket before the join
    assert(capped === 0L, s"hot band bucket leaked $capped pairs")
    val uncapped = DedupQueries.simHashPairs(spark, adversarialDir,
      Int.MaxValue).count()
    assert(uncapped === 79800L, "uncapped control did not blow up as designed")
  }

  test("adversarial corpus: capped shingle join bounds candidates") {
    val capped = DedupQueries.ngramJaccardPairs(spark, adversarialDir,
      DedupQueries.SHINGLE_DF_CAP).count()
    // shared-vocabulary shingles (df=400) are dropped; only the unique
    // trailing-token shingles (df=1) survive, which never pair
    assert(capped === 0L, s"hot shingles leaked $capped pairs")
  }

  test("normal corpus: cap leaves every dedup result untouched (recall)") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    assert(rows(DedupQueries.simHashPairs(spark, sfDir, DedupQueries.BAND_DF_CAP))
      === rows(DedupQueries.simHashPairs(spark, sfDir, Int.MaxValue)))
    assert(rows(DedupQueries.minHashLshPairs(spark, sfDir, DedupQueries.BAND_DF_CAP))
      === rows(DedupQueries.minHashLshPairs(spark, sfDir, Int.MaxValue)))
    assert(rows(DedupQueries.ngramJaccardPairs(spark, sfDir, DedupQueries.SHINGLE_DF_CAP))
      === rows(DedupQueries.ngramJaccardPairs(spark, sfDir, Int.MaxValue)))
  }
}
