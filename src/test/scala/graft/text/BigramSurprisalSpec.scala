package graft.text

import graft.SparkSpec

/** X45 bigram conditional surprisal: differential against a
  * single-threaded Scala reference on the real corpus, plus the
  * word-ORDER sensitivity pin that separates it from x28 (unigram):
  * two docs with identical token multisets but different orderings get
  * identical unigram scores and different bigram scores.
  */
class BigramSurprisalSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  /** floor-log2 via bit length, the engine's no-libm surprisal. */
  private def flog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)

  test("x45 matches a single-threaded reference on sf0.01") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ").toSeq))
    // model: bigram counts + context totals over the whole corpus
    val bg = scala.collection.mutable.Map.empty[(String, String), Long]
    val ctx = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, _, toks) =>
      toks.sliding(2).filter(_.size == 2).foreach { p =>
        bg((p(0), p(1))) = bg.getOrElse((p(0), p(1)), 0L) + 1
        ctx(p(0)) = ctx.getOrElse(p(0), 0L) + 1
      }
    }
    // per-doc mean6 -> per-source sums, mirroring the query's integer math
    val perSource = docs
      .filter(_._3.size >= 2)
      .map { case (_, src, toks) =>
        val events = toks.sliding(2).filter(_.size == 2).toSeq
        val ssum = events.map(p => flog2(ctx(p(0)) / bg((p(0), p(1))))).sum
        (src, ssum * 1000000L / events.size)
      }
      .groupBy(_._1)
      .map { case (src, m6) =>
        src -> (m6.length.toLong, m6.map(_._2).sum, m6.map(_._2).min, m6.map(_._2).max)
      }
    val got = TextQueries.x45BigramSurprisal.run(spark, sf01).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet === perSource.keySet)
    perSource.foreach { case (src, exp) =>
      assert(got(src) === exp, s"source $src diverged from the reference")
    }
  }

  test("x45 sees word order where x28 cannot") {
    val dir = tempDir("graft-x45").toString
    // identical token multisets (4x 'x', 4x 'y', 4x 'z'); only order differs
    val coherent = "x y z x y z x y z x y z"
    val shuffled = "x x y z z y x y z x z y"
    import spark.implicits._
    Seq(
      (0L, coherent, "en", "coherent", coherent.length.toLong),
      (1L, shuffled, "en", "shuffled", shuffled.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val uni = TextQueries.x28UnigramSurprisal.run(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(uni("coherent") === uni("shuffled"),
      "unigram scoring must be order-blind on identical multisets")
    val bi = TextQueries.x45BigramSurprisal.run(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(bi("shuffled") > bi("coherent"),
      s"scrambled order must raise conditional surprisal: $bi")
  }

  test("x45 excludes docs without bigram events from n_docs") {
    val dir = tempDir("graft-x45b").toString
    import spark.implicits._
    Seq(
      (0L, "alpha beta alpha beta", "en", "s", 21L),
      (1L, "solo", "en", "s", 4L)) // single token: no bigram
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextQueries.x45BigramSurprisal.run(spark, dir).collect()
    assert(rows.length === 1 && rows(0).getLong(1) === 1L,
      "one-token docs have no bigram events and must not count")
  }
}
