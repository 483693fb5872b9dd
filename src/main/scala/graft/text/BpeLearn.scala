package graft.text

import graft.PlanCache.{release, truncate}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed BPE merge-table learning — the tokenizer-training step of
  * a corpus pipeline.
  *
  * Two structural properties make this scale to a 100 TB corpus without
  * changing the learned table by one merge:
  *
  *  1. WEIGHTED COLLAPSE (one corpus pass, total). Pair counts are a sum
  *     over sequences, so identical sequences contribute identically:
  *     `groupBy(toks).count()` collapses the corpus to (unique sequence,
  *     weight) ONCE, and every subsequent round counts pairs weighted by
  *     `w` over the collapsed frame — bit-identical totals, argmaxes and
  *     rewrites to the expanded corpus. This is the standard
  *     word-frequency trick every production tokenizer trainer uses: the
  *     corpus is scanned exactly once regardless of the merge budget;
  *     the K learn rounds touch only the collapsed frame (vocabulary-
  *     sized, cache-resident), not the corpus.
  *  2. EXACT-SAFE MERGE BATCHING (fewer rounds). Several merges are
  *     learned from one count when doing so provably cannot diverge
  *     from the one-merge-at-a-time reference:
  *       - candidates are taken as the longest prefix of the
  *         (count desc, a asc, b asc)-sorted list whose members are
  *         pairwise symbol-disjoint. A merge only DECREASES counts of
  *         existing pairs sharing its symbols and only CREATES pairs
  *         whose count is bounded by the old count of some pair
  *         overlapping it — so a disjoint later candidate's count is
  *         untouched and still the argmax.
  *       - on the first overlapping candidate, accepted members TIED at
  *         its count are rolled back: a created pair can reach that
  *         count exactly and win the (UTF-8 byte) tie-break, so ties at
  *         the hazard count are not provably argmax. Strictly greater
  *         counts are safe (created pairs stay strictly below them).
  *       - a merge whose output string ALREADY EXISTS as a token
  *         adjacent to something (it appears in the pair-count frame)
  *         can INCREASE existing pair counts — the one case where the
  *         "counts only decrease" invariant fails — so the batch stops
  *         immediately after accepting such a merge.
  *       - when the top-M collect truncates a tie group, the truncated
  *         group is dropped (its unseen members could trigger the
  *         rollback rule); if nothing survives, the head alone — the
  *         true argmax by sort order — is learned.
  *     Batch members are replayed in selection order inside ONE rewrite
  *     pass (`foldLeft(mergeOnce)`), which equals applying them as
  *     separate sequential rounds because they are symbol-disjoint.
  *
  * Rounds therefore cost three cache-resident jobs (count, collision
  * probe, rewrite) over the collapsed frame, and the corpus itself is
  * read once. Correctness is differential: [[BpeLearnSpec]] pins the
  * batched learn to a single-threaded reference merge for merge,
  * including hand corpora that force the rollback and collision paths,
  * and asserts the single-corpus-pass property with a row-read
  * accumulator.
  */
object BpeLearn {

  /** Greedy left-to-right single-pair merge (the standard BPE rewrite). */
  def mergeOnce(toks: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += (a + b)
        i += 2
      } else {
        out += toks(i)
        i += 1
      }
    }
    out.result()
  }

  final case class Merge(a: String, b: String, count: Long)

  /** Per-learn instrumentation: `rounds` is the number of count+rewrite
    * cycles over the COLLAPSED frame (the corpus itself is read exactly
    * once, by the collapse), `batchSizes` the merges learned per round.
    */
  final case class LearnStats(merges: Int, rounds: Int,
      collapsedRows: Long, batchSizes: Seq[Int])

  /** Learn the top-`k` merges over `docs`' `toks` array column. Returns
    * the merge table in learned order. Stops early when no pair repeats.
    *
    * Tie-break collation: ties on count resolve by Spark's string
    * ordering, which compares UTF-8 BYTES — for tokens beyond the BMP
    * (emoji and other supplementary characters) this differs from Java's
    * UTF-16 `String.compareTo`. Any single-process reference comparing
    * against this learn must tie-break with a UTF-8 byte comparator (as
    * `BpeLearnSpec.referenceLearn` does), or emoji-tied corpora diverge.
    */
  def learn(docs: DataFrame, k: Int): Seq[Merge] = learnWithStats(docs, k)._1

  def learnWithStats(docs: DataFrame, k: Int, maxBatch: Int = 64): (Seq[Merge], LearnStats) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the single corpus pass: collapse to weighted unique sequences.
    // truncate rather than persist: a 100s-of-rounds learn keeps a
    // constant-depth plan instead of one that grows per round (deep
    // chains overflow the planner's stack and re-plan ever slower)
    var seqs: Dataset[(Seq[String], Long)] = truncate(docs.select(col("toks"))
      .groupBy(col("toks")).agg(count(lit(1)).as("w"))
      .as[(Seq[String], Long)])
    val collapsedRows = seqs.count()
    val topM = math.max(4 * maxBatch, 256)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    val batchSizes = Seq.newBuilder[Int]
    var rounds = 0
    var done = false
    while (merges.size < k && !done) {
      // greatest(…, 0): a 0/1-token sequence has no pairs — a raw -1
      // slice length is a runtime error, not an empty array
      val pairLen = greatest(size(col("toks")) - 1, lit(0))
      val counts = seqs.toDF("toks", "w")
        .select(col("w"), explode(zip_with(
          slice(col("toks"), lit(1), pairLen),
          slice(col("toks"), lit(2), pairLen),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("w")).as("n"))
        .persist()
      val top = counts.filter(col("n") >= 2)
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(topM)
        .collect()
        .map(r => Merge(r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
      if (top.isEmpty) { done = true; counts.unpersist() }
      else {
        // a tie group cut off by the limit hides potential rollback
        // triggers — drop it (the head alone is still always safe)
        val cands =
          if (top.length < topM) top
          else top.reverse.dropWhile(_.count == top.last.count).reverse
        val probe = if (cands.nonEmpty) cands else top.take(1)
        val outs = probe.map(m => m.a + m.b).distinct
        // outputs that pre-exist ADJACENT to something (appear in some
        // pair) can make existing counts increase; isolated singleton
        // tokens never pair and are harmless
        val colliding: Set[String] = counts
          .filter(col("a").isin(outs: _*) || col("b").isin(outs: _*))
          .select(col("a"), col("b")).as[(String, String)].collect()
          .iterator.flatMap { case (x, y) => Iterator(x, y) }
          .toSet.intersect(outs.toSet)
        counts.unpersist()
        val batch = selectBatch(probe, colliding,
          math.min(maxBatch, k - merges.size))
        merges ++= batch
        batchSizes += batch.size
        val table = batch.map(m => (m.a, m.b))
        val next = truncate(seqs.map { case (s, w) =>
          (table.foldLeft(s.toIndexedSeq) { case (t, (a, b)) =>
            mergeOnce(t, a, b)
          }: Seq[String], w)
        })
        release(seqs)
        seqs = next
      }
      rounds += 1
    }
    release(seqs)
    (merges.toSeq,
      LearnStats(merges.size, rounds, collapsedRows, batchSizes.result()))
  }

  /** The exact-safe batch rule (see object Scaladoc for the proof
    * sketch). `cands` must arrive (count desc, a asc, b asc)-sorted with
    * no truncated trailing tie group; `colliding` holds candidate output
    * strings that pre-exist as adjacent tokens.
    */
  private[text] def selectBatch(cands: Seq[Merge], colliding: Set[String],
      maxBatch: Int): Seq[Merge] = {
    val used = scala.collection.mutable.Set.empty[String]
    val batch = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var stop = false
    var i = 0
    while (!stop && i < cands.length && batch.size < maxBatch) {
      val m = cands(i)
      val out = m.a + m.b
      if (used(m.a) || used(m.b) || used(out)) {
        // hazard: pairs this merge would create can reach `m.count`
        // exactly — accepted members tied there are no longer provably
        // the argmax of their step
        while (batch.nonEmpty && batch.last.count == m.count)
          batch.remove(batch.size - 1)
        stop = true
      } else {
        batch += m
        used += m.a; used += m.b; used += out
        // output collides with a pre-existing adjacent token: counts of
        // pairs involving it INCREASE after this merge — nothing later
        // this round is provably argmax
        if (colliding(out)) stop = true
      }
      i += 1
    }
    // size-cap exit: unprocessed candidates tied at the last accepted
    // count can still be hazards — scan the rest of that tie group and
    // roll the ties back if any overlaps
    if (!stop && batch.nonEmpty) {
      var j = i
      var hazard = false
      while (!hazard && j < cands.length &&
          cands(j).count == batch.last.count) {
        val c = cands(j)
        if (used(c.a) || used(c.b) || used(c.a + c.b)) hazard = true
        j += 1
      }
      if (hazard) {
        val n = batch.last.count
        while (batch.nonEmpty && batch.last.count == n)
          batch.remove(batch.size - 1)
      }
    }
    // rollback/truncation can empty the batch; the head is the true
    // argmax by sort order, so learning it alone is always exact
    if (batch.isEmpty && cands.nonEmpty) Seq(cands.head) else batch.toSeq
  }

  /** Per-source tokenization census under a learned merge table: how
    * much the trained tokenizer compresses each source relative to the
    * whitespace baseline (`saved_bp`, exact integer basis points). The
    * tokenizer-budget planning number — a source the vocabulary barely
    * compresses is underserved by the merges (the per-source view of
    * what x36 measures for coverage). Not an oracle query: merge
    * application is inherently iterative and not SQL-expressible; the
    * census is differentially spec-gated against a single-threaded
    * apply instead ([[graft.text.BpeLearnSpec]]).
    */
  def census(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    import org.apache.spark.sql.functions._
    val before = docs.select(col("doc_id"), col("source"),
      size(col("toks")).cast("long").as("n_before"))
    val after = applyMerges(docs.select(col("doc_id"), col("toks")), merges)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_after"))
    before.join(after, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_before")).as("tokens_before"),
        sum(col("n_after")).as("tokens_after"))
      .withColumn("saved_bp",
        expr("(tokens_before - tokens_after) * 10000 DIV tokens_before"))
      .orderBy("source")
  }

  /** Apply a learned merge table to a token-sequence frame (inference
    * side): merges replay IN ORDER, each greedy left-to-right — one
    * partition-parallel pass per merge over arrays that only shrink.
    */
  def applyMerges(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val table = merges.map(m => (m.a, m.b))
    val others = docs.columns.filter(_ != "toks")
    require(others.isEmpty || others.sameElements(Array("doc_id")),
      "applyMerges expects (doc_id?, toks)")
    if (others.isEmpty)
      docs.select(col("toks")).as[Seq[String]]
        .map(s => table.foldLeft(s.toIndexedSeq) { case (t, (a, b)) =>
          mergeOnce(t, a, b)
        }: Seq[String])
        .toDF("toks")
    else
      docs.select(col("doc_id"), col("toks")).as[(Long, Seq[String])]
        .map { case (id, s) =>
          (id, table.foldLeft(s.toIndexedSeq) { case (t, (a, b)) =>
            mergeOnce(t, a, b)
          }: Seq[String])
        }
        .toDF("doc_id", "toks")
  }
}
