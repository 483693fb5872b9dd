package graft.text

import graft.SparkSpec

/** X60 DoReMi mixture: differential against a single-threaded
  * multiplicative-weights reference fed by the engine's own per-doc
  * surprisal, plus the two structural properties the operator is FOR —
  * zero excess everywhere degenerates to the uniform mixture, and the
  * final weights are monotone in excess loss.
  */
class DoremiSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  test("x60 matches a single-threaded multiplicative-weights reference") {
    val perDoc = TextQueries.bigramDocSurprisal(spark, sf01).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    val src = perDoc.groupBy(_._1).map { case (s, ds) =>
      s -> ds.map(_._2).sum / ds.size
    }
    val glob = perDoc.map(_._2).sum / perDoc.size
    val excess = src.map { case (s, m) => s -> math.max(m - glob, 0L) }
    val mx = math.max(excess.values.max, 1L)
    val exn = excess.map { case (s, e) => s -> e * 1000000L / mx }
    var alpha = src.keys.map(_ -> 1000000L / src.size).toMap
    for (_ <- 1 to 5) {
      val up = alpha.map { case (s, a) =>
        s -> a * (1000000L + 100000L * exn(s) / 1000000L) / 1000000L
      }
      val tot = up.values.sum
      alpha = up.map { case (s, a) => s -> a * 1000000L / tot }
    }
    val got = TextQueries.x60DoremiMixture.run(spark, sf01).collect()
      .map(r => r.getString(0) -> (r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet === alpha.keySet)
    alpha.foreach { case (s, a) =>
      assert(got(s)._2 === a, s"alpha diverged for $s")
      assert(got(s)._1 === excess(s), s"excess diverged for $s")
    }
    // the mixture is a (truncation-rounded) distribution
    val total = got.values.map(_._2).sum
    assert(total <= 1000000L && total > 1000000L - got.size,
      s"mixture must sum to ~1e6 ppm, got $total")
    // monotone: more excess never gets less weight
    val sorted = got.values.toSeq.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((e1, a1), (e2, a2)) =>
        assert(e1 > e2 || a1 <= a2, "alpha must be monotone in excess")
      case _ =>
    }
  }

  test("a uniform corpus degenerates to the uniform mixture") {
    val dir = tempDir("graft-x60").toString
    import spark.implicits._
    // every source carries the same text -> identical surprisal, zero
    // excess everywhere -> alpha stays exactly uniform through 5 rounds
    (0 until 4).map(i =>
      (i.toLong, "alpha beta gamma alpha beta gamma alpha beta", "en",
        s"u$i", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextQueries.x60DoremiMixture.run(spark, dir).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getLong(4) === 0L, "uniform corpus must have zero excess")
      assert(r.getLong(5) === 250000L, s"alpha must stay uniform: $r")
    }
  }
}
