package graft.text

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Distributed BPE learn ≡ a single-threaded reference, merge for merge,
  * over both a hand-checked corpus and real documents.
  */
class BpeLearnSpec extends SparkSpec {

  /** The naive reference: full pair scan, max count with UTF-8 BYTE-order
    * tie-break (Spark's string collation — Java's UTF-16 compareTo
    * diverges for supplementary characters), greedy left-to-right rewrite.
    */
  private val u8: Ordering[String] = (x: String, y: String) =>
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def referenceLearn(corpus: Seq[Seq[String]], k: Int): Seq[(String, String, Long)] = {
    var seqs = corpus.map(_.toIndexedSeq)
    val out = Seq.newBuilder[(String, String, Long)]
    var round = 0
    var done = false
    while (round < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.foreach { s =>
        var i = 0
        while (i + 1 < s.length) {
          counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + 1
          i += 1
        }
      }
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) done = true
      else {
        val ((a, b), n) = eligible.minBy { case ((a, b), n) => (-n, a, b) }(
          Ordering.Tuple3(Ordering.Long, u8, u8))
        out += ((a, b, n))
        seqs = seqs.map(s => BpeLearn.mergeOnce(s, a, b))
      }
      round += 1
    }
    out.result()
  }

  test("mergeOnce is greedy left-to-right: 'a a a' -> [aa, a]") {
    assert(BpeLearn.mergeOnce(Vector("a", "a", "a"), "a", "a") === Vector("aa", "a"))
    assert(BpeLearn.mergeOnce(Vector("a", "a", "a", "a"), "a", "a")
      === Vector("aa", "aa"))
    assert(BpeLearn.mergeOnce(Vector("x", "a", "a", "y"), "a", "a")
      === Vector("x", "aa", "y"))
  }

  test("distributed learn equals the reference on a hand corpus") {
    import spark.implicits._
    val corpus: Seq[Seq[String]] = Seq(
      "l o w", "l o w e r", "l o w e s t", "n e w", "n e w e s t",
      "w i d e", "w i d e s t").map(_.split(" ").toSeq)
    val df = corpus.toDF("toks")
    val learned = BpeLearn.learn(df, 6).map(m => (m.a, m.b, m.count))
    val expected = referenceLearn(corpus, 6)
    assert(learned === expected, s"learned=$learned expected=$expected")
    assert(learned.nonEmpty && learned.head._3 >= learned.last._3)
  }

  test("distributed learn equals the reference on real documents") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 40)
      .select(split(lower(col("text")), " ").as("toks"))
    val corpus = docs.as[Seq[String]].collect().toSeq
    val learned = BpeLearn.learn(docs, 5).map(m => (m.a, m.b, m.count))
    val expected = referenceLearn(corpus, 5)
    assert(learned === expected, s"learned=$learned expected=$expected")
  }

  test("scale round-trip: merges learned on a 3x corpus apply exactly to the originals") {
    import spark.implicits._
    // learn on a ScaleCorpus-replicated corpus (replica permutations
    // change adjacency, so this is a genuinely different — larger —
    // training distribution), then run inference on the ORIGINAL docs
    val scaled = tempDir("graft-bpe-scale").toString
    graft.tools.ScaleCorpus.generate(spark, sfDir, scaled, replicas = 3, spread = 2)
    val scaledToks = Tables.load(spark, scaled, "documents")
      .select(split(lower(col("text")), " ").as("toks"))

    // learning at scale stays exact: merge-for-merge vs the reference
    val learned = BpeLearn.learn(scaledToks, 8)
    val expected = referenceLearn(
      scaledToks.as[Seq[String]].collect().toSeq, 8)
    assert(learned.map(m => (m.a, m.b, m.count)) === expected)
    assert(learned.nonEmpty)

    // inference round-trip on the 1x originals: every output token must
    // be the concatenation of a run of consecutive whitespace tokens
    // (t22's tokenizer definition), so character mass is conserved and
    // the token-count drop equals exactly the number of glue operations
    val orig = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
    val applied = BpeLearn.applyMerges(orig, learned)
      .as[(Long, Seq[String])].collect().toMap
    val before = orig.as[(Long, Seq[String])].collect().toMap
    assert(applied.keySet === before.keySet)
    var totalGlue = 0L
    before.foreach { case (id, ws) =>
      val merged = applied(id)
      // re-derive the merged sequence as runs of the whitespace tokens
      var i = 0
      var glue = 0L
      merged.foreach { tok =>
        val acc = new StringBuilder
        val start = i
        while (acc.length < tok.length && i < ws.length) {
          acc ++= ws(i); i += 1
        }
        assert(acc.toString === tok,
          s"doc $id: token '$tok' is not a run of whitespace tokens at $start")
        glue += (i - start) - 1
      }
      assert(i === ws.length, s"doc $id: merged tokens must cover the doc")
      assert(ws.map(_.length).sum === merged.map(_.length).sum,
        s"doc $id: character mass must be conserved")
      assert(ws.length - merged.length === glue,
        s"doc $id: token-count drop must equal the glue operations")
      totalGlue += glue
    }
    // the learned table must actually fire on the shared distribution
    assert(totalGlue > 0, "scale-learned merges must apply to the originals")
  }

  test("empty and single-token sequences are pair-free, not a crash") {
    import spark.implicits._
    val corpus: Seq[Seq[String]] = Seq(
      Seq.empty, Seq("solo"), "a b a b".split(" ").toSeq)
    val learned = BpeLearn.learn(corpus.toDF("toks"), 2)
      .map(m => (m.a, m.b, m.count))
    assert(learned === referenceLearn(corpus, 2))
    assert(learned.head === (("a", "b", 2L)))
  }

  test("count ties break on UTF-8 bytes (supplementary chars after U+FFFF BMP)") {
    import spark.implicits._
    // U+1F600 (emoji, surrogate pair D83D DE00) vs U+FFFD (BMP): UTF-16
    // compareTo sorts the emoji FIRST (D83D < FFFD), UTF-8 bytes sort it
    // AFTER (F0… > EF…) — the tie must resolve the UTF-8 way on both
    // sides of the differential
    val emoji = new String(Character.toChars(0x1F600))
    val bmp = "�"
    val corpus: Seq[Seq[String]] = Seq(
      Seq("x", emoji), Seq("x", emoji),
      Seq("x", bmp), Seq("x", bmp))
    val learned = BpeLearn.learn(corpus.toDF("toks"), 1)
      .map(m => (m.a, m.b, m.count))
    assert(learned === referenceLearn(corpus, 1))
    assert(learned.head._2 === bmp,
      "UTF-8 byte order must pick the BMP token over the emoji")
  }

  test("batch rollback: a tied overlapping pair demotes tied batch members") {
    import spark.implicits._
    // (a,z):5 (b,b):5 (z,q):5 — the batch accepts (a,z) then (b,b), but
    // (z,q) overlaps z at the SAME count: merging (a,z) creates (az,q)
    // at count 5, which beats (b,b) on the UTF-8 tie-break. Exactness
    // demands (b,b) be rolled back and learned AFTER (az,q).
    val corpus: Seq[Seq[String]] =
      Seq.fill(5)(Seq("a", "z", "q")) ++ Seq.fill(5)(Seq("b", "b"))
    val learned = BpeLearn.learn(corpus.toDF("toks"), 3)
      .map(m => (m.a, m.b, m.count))
    assert(learned === referenceLearn(corpus, 3))
    assert(learned === Seq(("a", "z", 5L), ("az", "q", 5L), ("b", "b", 5L)))
  }

  test("batch collision stop: an output equal to a pre-existing token halts the batch") {
    import spark.implicits._
    // merging (a,b) manufactures "ab" tokens that feed the PRE-EXISTING
    // (ab,s) pair: its count jumps 3 -> 8, overtaking the disjoint
    // (w,x):7 that naive batching would have accepted alongside (a,b)
    val corpus: Seq[Seq[String]] =
      Seq.fill(5)(Seq("q", "a", "b", "s")) ++
        Seq.fill(5)(Seq("r", "a", "b", "t")) ++
        Seq.fill(3)(Seq("ab", "s")) ++
        Seq.fill(7)(Seq("w", "x"))
    val learned = BpeLearn.learn(corpus.toDF("toks"), 8)
      .map(m => (m.a, m.b, m.count))
    assert(learned === referenceLearn(corpus, 8))
    assert(learned.take(3) ===
      Seq(("a", "b", 10L), ("ab", "s", 8L), ("w", "x", 7L)))
  }

  test("randomized differential: batched learn ≡ reference on adversarial corpora") {
    import spark.implicits._
    // small alphabets maximize pair interaction; including "ab" next to
    // "a"/"b" makes merge outputs collide with live tokens constantly
    val alphabets = Seq(
      Seq("a", "b", "c"), Seq("a", "b", "ab"), Seq("x", "y"),
      Seq("a", "b", "c", "d", "ab", "cd"))
    for (seed <- 0 until 8; alpha <- alphabets) {
      val rnd = new scala.util.Random(seed * 31 + alpha.length)
      val base = Seq.fill(12 + rnd.nextInt(18))(
        Seq.fill(rnd.nextInt(9))(alpha(rnd.nextInt(alpha.length))))
      // duplicate some sequences so the weighted collapse is exercised
      val corpus = base ++ Seq.fill(rnd.nextInt(10))(
        base(rnd.nextInt(base.length)))
      val learned = BpeLearn.learn(corpus.toDF("toks"), 15)
        .map(m => (m.a, m.b, m.count))
      val expected = referenceLearn(corpus, 15)
      assert(learned === expected,
        s"seed=$seed alpha=$alpha corpus=$corpus")
    }
  }

  test("the corpus is read exactly once regardless of the merge budget") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("bpe-docs-rows-read")
    val corpus = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 200)
      .select(split(lower(col("text")), " ").as("toks"))
      .as[Seq[String]].collect().toSeq
    val instrumented = corpus.toDF("toks").as[Seq[String]]
      .mapPartitions(it => it.map { s => acc.add(1); s })
      .toDF("toks")
    val k = 32
    val (merges, stats) = BpeLearn.learnWithStats(instrumented, k)
    assert(merges.map(m => (m.a, m.b, m.count)) === referenceLearn(corpus, k))
    assert(merges.size === k, "corpus must support the full merge budget")
    // the scale gate: learning k merges must NOT cost k corpus passes.
    // The weighted collapse reads the corpus ONCE — every learn round
    // after that touches only the collapsed frame.
    val passes = acc.value.toDouble / corpus.size
    assert(passes <= 1.0, s"corpus rows read ${acc.value} of ${corpus.size}")
    assert(passes <= k / 8.0)
    assert(stats.rounds <= k && stats.batchSizes.sum === k)
    info(s"k=$k rounds=${stats.rounds} batches=${stats.batchSizes} " +
      s"collapsed=${stats.collapsedRows}/${corpus.size} corpusPasses=$passes")
  }

  test("batching compresses rounds on a disjoint-pair corpus") {
    import spark.implicits._
    // 40 pairwise-disjoint pairs with strictly descending counts: the
    // exact-safe rule accepts a long prefix every round
    val corpus: Seq[Seq[String]] = (0 until 40).flatMap { i =>
      Seq.fill(50 - i)(Seq(s"l$i", s"r$i"))
    }
    val (merges, stats) = BpeLearn.learnWithStats(corpus.toDF("toks"), 40)
    assert(merges.map(m => (m.a, m.b, m.count)) === referenceLearn(corpus, 40))
    assert(stats.rounds <= 40 / 8,
      s"disjoint pairs must batch: rounds=${stats.rounds}")
  }

  test("applyMerges replays the table in order; re-learning finds nothing new") {
    import spark.implicits._
    val corpus: Seq[Seq[String]] = Seq(
      "a b a b", "a b c", "a b a b a b").map(_.split(" ").toSeq)
    val df = corpus.toDF("toks")
    val merges = BpeLearn.learn(df, 2)
    val rewritten = BpeLearn.applyMerges(df, merges)
    // the merged pair never survives in the rewritten corpus
    val flat = rewritten.select(explode(col("toks"))).as[String].collect()
    assert(merges.nonEmpty)
    merges.foreach { m =>
      val seqs = rewritten.as[Seq[String]].collect()
      seqs.foreach { s =>
        s.sliding(2).foreach(w =>
          if (w.length == 2) assert(!(w(0) == m.a && w(1) == m.b),
            s"unmerged occurrence of (${m.a}, ${m.b}) in $s"))
      }
    }
    assert(flat.contains("ab") || flat.contains("abab"))
  }

  test("census matches a single-threaded apply on the real corpus") {
    import spark.implicits._
    val dd = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
    val merges = BpeLearn.learn(dd.select(col("toks")), 16)
    assert(merges.nonEmpty)
    val census = BpeLearn.census(dd, merges).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // single-threaded reference: fold the merge table over each doc
    val table = merges.map(m => (m.a, m.b))
    val ref = dd.select(col("doc_id"), col("source"), col("toks"))
      .as[(Long, String, Seq[String])].collect()
      .map { case (_, src, toks) =>
        val after = table.foldLeft(toks.toIndexedSeq) { case (t, (a, b)) =>
          BpeLearn.mergeOnce(t, a, b)
        }
        (src, toks.size.toLong, after.size.toLong)
      }
      .groupBy(_._1)
      .map { case (src, xs) =>
        val nb = xs.map(_._2).sum
        val na = xs.map(_._3).sum
        src -> (xs.length.toLong, nb, na, (nb - na) * 10000 / nb)
      }
    assert(census === ref, "census must equal the single-threaded apply")
    // the merges actually compress: some source saves a nonzero share,
    // and no source ever grows
    assert(census.values.exists(_._4 > 0))
    census.values.foreach { case (_, nb, na, bp) =>
      assert(na <= nb && bp >= 0 && bp < 10000)
    }
  }
}
