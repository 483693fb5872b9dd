package graft.text

import graft.SparkSpec
import org.apache.spark.unsafe.types.UTF8String

/** X55 DSIR selection: differential against a single-threaded Scala
  * reference on the real corpus, plus planted-corpus pins for the three
  * behaviors the operator exists for — target-like raw docs are selected,
  * off-target docs are rejected, and the bigram features make the weight
  * ORDER-sensitive (same unigrams, scrambled order → lower importance).
  */
class DsirSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  private def bucket(f: String): Long =
    graft.functions.Md5U60.hash(UTF8String.fromString(f)) % 256L

  private def flog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)

  /** Per raw-pool doc importance weights, single-threaded — the query's
    * math behind both x55 and x58.
    */
  private def docWeights(docs: Seq[(Long, String, String)])
      : Seq[(Long, String, Long)] = {
    val cur = TextQueries.CURATED_SOURCES.toSet
    val feats = docs.flatMap { case (id, src, text) =>
      val t = text.split(" ").toSeq
      val bi = t.sliding(2).filter(_.size == 2).map(p => p(0) + " " + p(1)).toSeq
      (t ++ bi).map(f => (id, src, if (cur(src)) 1 else 0, bucket(f)))
    }
    val counts = feats.groupBy(x => (x._4, x._3)).map { case (k, v) => k -> v.size.toLong }
    val tot = Map(
      0 -> (feats.count(_._3 == 0).toLong + 256L),
      1 -> (feats.count(_._3 == 1).toLong + 256L))
    def ppm(b: Long, cls: Int): Long =
      math.max((counts.getOrElse((b, cls), 0L) + 1) * 1000000L / tot(cls), 1L)
    val wt = (0L until 256L).map(b => b -> (flog2(ppm(b, 1)) - flog2(ppm(b, 0)))).toMap
    feats.filter(_._3 == 0).groupBy(x => (x._1, x._2)).toSeq
      .map { case ((id, src), fs) =>
        (id, src, fs.groupBy(_._4).map { case (b, g) => g.size.toLong * wt(b) }.sum)
      }
  }

  /** The x55 census, single-threaded: per-source
    * (n_docs, n_selected, selected_bp, sum_w_selected, min_w, max_w).
    */
  private def reference(docs: Seq[(Long, String, String)])
      : Map[String, (Long, Long, Long, Long, Long, Long)] = {
    docWeights(docs).groupBy(_._2).map { case (src, ds) =>
      val ws = ds.map(_._3)
      val sel = ws.filter(_ > 0)
      src -> (ws.size.toLong, sel.size.toLong, sel.size.toLong * 10000 / ws.size,
        sel.sum, ws.min, ws.max)
    }
  }

  private def run(dir: String): Map[String, (Long, Long, Long, Long, Long, Long)] =
    CurationQueries.x55DsirSelection.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap

  test("x55 matches a single-threaded reference on sf0.01") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val exp = reference(docs)
    val got = run(sf01)
    assert(got.keySet === exp.keySet)
    exp.foreach { case (src, e) =>
      assert(got(src) === e, s"source $src diverged from the reference")
    }
  }

  test("x58 quota: radix-select threshold equals the sort-derived K-th largest") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val ws = docWeights(docs)
    val k = (ws.size + 3) / 4
    val wStar = ws.map(_._3).sorted(Ordering.Long.reverse)(k - 1)
    val exp = ws.groupBy(_._2).map { case (src, ds) =>
      val sel = ds.count(_._3 >= wStar).toLong
      src -> (ds.size.toLong, sel, sel * 10000 / ds.size)
    }
    val got = CurationQueries.x58DsirQuota.run(spark, sf01).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet === exp.keySet)
    exp.foreach { case (src, (n, sel, bp)) =>
      assert(got(src)._1 === n && got(src)._2 === sel && got(src)._3 === bp,
        s"source $src census diverged: got ${got(src)}, want ($n, $sel, $bp)")
      assert(got(src)._4 === wStar, s"threshold diverged for $src")
      assert(got(src)._5 === k.toLong, s"quota diverged for $src")
    }
    // ties-inclusive: the selection covers the quota, never undershoots
    assert(got.values.map(_._2).sum >= k.toLong)
  }

  test("target-like raw docs are selected; off-target docs are rejected; " +
    "scrambled order lowers importance") {
    val dir = tempDir("graft-x55").toString
    val target = "alpha beta gamma delta epsilon zeta"
    import spark.implicits._
    Seq(
      // curated seed (src0 is in CURATED_SOURCES): defines the target LM
      (0L, s"$target $target $target", "en", "src0", 100L),
      (1L, s"$target $target $target", "en", "src1", 100L),
      // raw pool: verbatim target phrasing -> importance ratio > 1
      (10L, s"$target $target", "en", "verbatim", 70L),
      // raw pool: vocabulary disjoint from the target -> rejected
      (11L, "one two three four five six one two three four five six",
        "en", "junk", 60L),
      // raw pool: the SAME unigrams as doc 10, reversed order — the
      // bigram half of the feature space sees none of the target's
      // transitions, so the weight must drop below doc 10's
      (12L, "zeta epsilon delta gamma beta alpha " +
        "zeta epsilon delta gamma beta alpha", "en", "scrambled", 70L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run(dir)
    assert(got("verbatim")._2 === 1L, s"verbatim target copy must be selected: $got")
    assert(got("junk")._2 === 0L, s"off-target doc must be rejected: $got")
    assert(got("verbatim")._6 > got("scrambled")._6,
      s"scrambling word order must lower the importance weight: $got")
    // census arithmetic holds on every row
    got.values.foreach { case (n, sel, bp, _, minW, maxW) =>
      assert(sel <= n && bp == sel * 10000 / n && minW <= maxW)
    }
  }
}
