package graft.dedup

import graft.SparkSpec

/** X47 blocked edit-distance near-dup: every emitted pair's distance is
  * re-verified against an in-spec Wagner–Fischer reference, planted
  * near-copies inside a block are found, cross-block pairs are (by
  * design) not generated, and a super-cap block is dropped entirely.
  */
class EditDedupSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  /** Classic unit-cost Wagner–Fischer, the semantics both engines implement. */
  private def lev(a: String, b: String): Int = {
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
      }
      Array.copy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }

  test("x47 pair distances match Wagner-Fischer on the real corpus") {
    val heads = spark.read.parquet(s"$sf01/documents.parquet")
      .selectExpr("doc_id", "substr(text, 1, 80) AS head").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = DedupQueries.x47DedupEdit.run(spark, sf01).collect()
    assert(pairs.nonEmpty, "the sf0.01 corpus has close heads in-block")
    pairs.foreach { r =>
      val (a, b, d, bp) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(a < b && d >= 0 && d <= 20)
      val expect = lev(heads(a), heads(b))
      assert(d === expect.toLong, s"pair ($a,$b) distance $d != $expect")
      val denom = math.max(math.max(heads(a).length, heads(b).length), 1)
      assert(bp === 10000L - d * 10000L / denom)
    }
  }

  test("x47 finds a planted in-block near-copy; never crosses blocks") {
    val dir = tempDir("graft-x47").toString
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val near = "alpha beta gamma delte epsilon zeta eta theta" // 1 edit
    val far = "omega beta gamma delta epsilon zeta eta theta" // other block
    Seq(
      (0L, base, "en", "s", base.length.toLong),
      (1L, near, "en", "s", near.length.toLong),
      (2L, far, "en", "s", far.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupQueries.x47DedupEdit.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((0L, 1L, 1L)),
      s"expected exactly the planted (0,1) pair at distance 1, got ${pairs.toSeq}")
  }

  test("x47 drops a block past the df-cap instead of going quadratic") {
    val dir = tempDir("graft-x47cap").toString
    import spark.implicits._
    // 300 docs > BAND_DF_CAP(256), all in one (first-token, length) block
    val rows = (0L until 300L).map { i =>
      val text = s"tmpl filler$i body body body body body body"
      (i, text, "en", "s", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupQueries.x47DedupEdit.run(spark, dir).collect()
    assert(pairs.isEmpty,
      "a super-cap block is a templated cluster — exact dedup's job, not x47's")
  }
}
