package graft.similarity

import graft.PlanCache.{release, truncate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** ST29 — streaming IVF index maintenance: the missing middle of the ANN
  * lifecycle. [[Ivf.buildIndex]]/[[Ivf.save]] is the offline training
  * path and [[StreamingAnn]] the frozen-snapshot serving path; this
  * operator keeps the index CURRENT between retrains: micro-batches of
  * arriving vectors are routed to the EXISTING centroids (one
  * broadcast-argmin pass per batch — the stored lists are never read)
  * and appended into the index layout, while a drift trigger watches the
  * appended mass and marks a re-train due when the frozen centroids no
  * longer represent the corpus.
  *
  * Exactly-once across restarts without sink transactions: each batch
  * lands as its own `appends/batch_id=<id>` directory written with
  * OVERWRITE (the [[StreamingAnn.writeBatch]] idiom) — a foreachBatch
  * re-delivery after a crash replaces the batch's directory instead of
  * duplicating its vectors. The base `lists/` layout is untouched by
  * appends, so a concurrent [[StreamingAnn]] serving snapshot is never
  * half-updated.
  *
  * Drift policy (the "new-list mass threshold" trigger): appended mass is
  * compared per centroid against the baseline list sizes captured when
  * the maintainer attached. Re-train is due when EITHER the global
  * appended fraction crosses `globalPpm` (the corpus has outgrown the
  * centroids) or some single centroid's appended fraction crosses
  * `perListPpm` (arrivals concentrate where the quantizer has no
  * resolution — the classic IVF hot-list failure). [[retrain]] then
  * re-Lloyds over base ∪ appends, rewrites the index in place, and
  * clears the appends — the standard serving-vs-training split: appends
  * keep recall NOW, retrain restores list balance on a schedule.
  *
  * Scale posture: per batch, cost is O(batch × k) for the argmin plus a
  * partitioned write of the batch — independent of index size; the drift
  * check reads only parquet COUNTS (file metadata, no row scan); only
  * [[retrain]] touches the full corpus, and that is the point of having
  * a trigger instead of a timer.
  */
final class IvfMaintainer(
    val indexDir: String,
    globalPpm: Long = 200000L, // 20% appended overall
    perListPpm: Long = 1000000L) { // 100% appended on one list

  private def spark(df: DataFrame): SparkSession = df.sparkSession

  private def appendsDir = s"$indexDir/appends"
  private def statsDir = java.nio.file.Paths.get(indexDir, "stats")
  private def baselinePath = statsDir.resolve("baseline.json")
  private def ledgerPath = statsDir.resolve("compacted.json")

  private def writeAtomic(p: java.nio.file.Path, content: String): Unit = {
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, content)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Baseline per-cid list sizes — the denominator of the drift ratios.
    * PERSISTED (`stats/baseline.json`): [[compactAppends]] folds appends
    * into the base layout, so an in-memory or recomputed-from-lists
    * baseline would silently forget the drift a compaction did NOT fix
    * (compaction rewrites files, not centroids). Captured from the base
    * lists at first use, rewritten only by [[retrain]].
    */
  private def baseline(s: SparkSession): Map[Long, Long] = synchronized {
    if (java.nio.file.Files.exists(baselinePath))
      java.nio.file.Files.readString(baselinePath).split("\n")
        .filter(_.nonEmpty)
        .map { l => val Array(c, n) = l.split(","); c.toLong -> n.toLong }
        .toMap
    else {
      val b = s.read.parquet(s"$indexDir/lists")
        .groupBy(col("cid").cast("long").as("cid")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      writeBaseline(b)
      b
    }
  }

  private def writeBaseline(b: Map[Long, Long]): Unit =
    writeAtomic(baselinePath,
      b.toSeq.sorted.map { case (c, n) => s"$c,$n" }.mkString("\n"))

  /** Batch ids already folded into the base layout by [[compactAppends]]
    * — their `appends/batch_id=` directories are ignored on read and
    * their replays are no-ops, so a compaction inside the streaming
    * checkpoint's replay horizon cannot double-count. Compressed as a
    * [[graft.CommittedFrontier]] (compaction folds every live id, and
    * streaming ids are monotone, so the folded set is a prefix): the
    * ledger holds O(gaps) lines for the index's lifetime, never every id
    * ever folded. Legacy id-list ledgers parse transparently and upgrade
    * at the next write.
    */
  private def compactedIds: graft.CommittedFrontier =
    if (!java.nio.file.Files.exists(ledgerPath)) new graft.CommittedFrontier
    else graft.CommittedFrontier.parse(
      java.nio.file.Files.readString(ledgerPath))

  private def appendBatchIds: Seq[Long] = {
    val p = java.nio.file.Paths.get(appendsDir)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else {
      val l = java.nio.file.Files.list(p)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(l.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch_id=")).map(_.drop(9).toLong).toVector
      finally l.close()
    }
  }

  private def appendsFrame(s: SparkSession): Option[DataFrame] = {
    val live = appendBatchIds.filterNot(compactedIds.contains)
    if (live.isEmpty) None
    else Some(s.read.option("basePath", appendsDir)
      .parquet(live.map(id => s"$appendsDir/batch_id=$id"): _*)
      .withColumn("cid", col("cid").cast("long")))
  }

  /** Route one micro-batch `(vec_id, embedding)` to the existing
    * centroids and land it as `appends/batch_id=<id>` (overwrite ⇒
    * replay-idempotent; a batch the compactor already folded is a
    * no-op). Returns the number of vectors appended.
    */
  def appendBatch(batch: DataFrame, batchId: Long): Long = {
    if (compactedIds.contains(batchId)) return 0L
    // an empty micro-batch (idle trigger) must not land a file-less
    // batch_id= directory — a later multi-dir appends read would fail
    // schema inference on it
    if (batch.isEmpty) return 0L
    val s = spark(batch)
    val cents = s.read.parquet(s"$indexDir/centroids")
    val assigned = Ivf.assign(batch, cents)
    assigned.write.mode("overwrite").partitionBy("cid")
      .parquet(s"$appendsDir/batch_id=$batchId")
    s.read.parquet(s"$appendsDir/batch_id=$batchId").count()
  }

  /** Fold the accumulated appends into the base `lists/` layout WITHOUT
    * touching the centroids — the maintenance middle between per-batch
    * appends (small files accumulate) and [[retrain]] (full Lloyd):
    * run on a schedule to bound file counts per list directory. Drift
    * is PRESERVED (the persisted baseline is not rewritten — folding
    * files does not re-fit centroids).
    *
    * Crash/replay posture (a maintenance op, like [[retrain]] — run it
    * with serving snapshots tolerant of a reload, since the overwrite
    * replaces the files a pinned listing references):
    *  - fold is CONTENT-idempotent: `vec_id` is the index identity, and
    *    the fold dedups on it, so a rerun after a crash anywhere —
    *    including after a partially-completed fold — converges to the
    *    same lists;
    *  - the compacted-ids ledger is written AFTER the fold commits and
    *    BEFORE the appends are deleted: from then on a streaming
    *    checkpoint replay of a folded batch is a no-op ([[appendBatch]]
    *    checks the ledger), and folded-but-undeleted dirs are ignored
    *    on read.
    */
  def compactAppends(s: SparkSession): Unit = synchronized {
    val ids = appendBatchIds.filterNot(compactedIds.contains)
    if (ids.isEmpty) return
    baseline(s) // pin the pre-compaction baseline to disk first
    val (lists, _) = load(s)
    // materialize before overwriting the directories the plan reads;
    // dedup on the identity column makes a crash-rerun fold exact
    val combined = truncate(lists.dropDuplicates("vec_id"))
    combined.write.mode("overwrite").partitionBy("cid")
      .parquet(s"$indexDir/lists")
    writeAtomic(ledgerPath, {
      val cf = compactedIds; ids.foreach(cf.add); cf.serialize
    })
    release(combined)
    ids.foreach { id =>
      val p = java.nio.file.Paths.get(s"$appendsDir/batch_id=$id")
      if (java.nio.file.Files.exists(p)) {
        val st = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          st.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        } finally st.close()
      }
    }
  }

  /** The maintained index: base lists ∪ appends, plus the (frozen)
    * centroids — drop-in for [[Ivf.load]]'s pair, so [[Ivf.topK]] probes
    * see appended vectors exactly where a from-scratch assignment against
    * the same centroids would place them.
    */
  def load(s: SparkSession): (DataFrame, DataFrame) = {
    val (base, cents) = Ivf.load(s, indexDir)
    val lists = appendsFrame(s) match {
      case Some(a) => base.unionByName(
        a.select(base.columns.map(col).toIndexedSeq: _*))
      case None => base
    }
    (lists, cents)
  }

  /** Per-centroid drift report: `(cid, base_n, appended_n, drift_ppm)`
    * where `appended_n` = current list size − the baseline captured at
    * the last [[retrain]] (NOT the appends directories — compaction
    * folds those into base without fixing drift, so the report measures
    * growth against the fitted state, whatever the file layout).
    * Fractions are exact integer ppm; a cid that gained vectors but had
    * an EMPTY baseline list reads as perListPpm-saturating (greatest(
    * base_n, 1) denominator).
    */
  def driftReport(s: SparkSession): DataFrame = {
    import s.implicits._
    val base = baseline(s).toSeq.toDF("cid", "base_n")
    val current = load(s)._1
      .groupBy(col("cid")).agg(count(lit(1)).as("cur_n"))
    base.join(current, Seq("cid"), "full_outer")
      .na.fill(0L, Seq("base_n", "cur_n"))
      .withColumn("appended_n", greatest(col("cur_n") - col("base_n"), lit(0L)))
      .withColumn("drift_ppm",
        expr("appended_n * 1000000 DIV greatest(base_n, 1)"))
      .select("cid", "base_n", "appended_n", "drift_ppm")
      .orderBy("cid")
  }

  /** True when the drift policy says the centroids no longer represent
    * the corpus — the maintainer keeps appending either way; this flag is
    * the scheduler's signal to run [[retrain]].
    */
  def retrainDue(s: SparkSession): Boolean = {
    val rep = driftReport(s)
      .agg(sum("appended_n").as("a"), sum("base_n").as("b"),
        max("drift_ppm").as("worst"))
      .head()
    val appended = rep.getLong(0)
    val base = math.max(rep.getLong(1), 1L)
    appended * 1000000L / base >= globalPpm ||
      rep.getLong(2) >= perListPpm
  }

  /** Full re-Lloyd over base ∪ appends, seeded from the CURRENT
    * assignment (warm start — appended vectors enter at their routed
    * cid), rewritten in place; appends are cleared and the drift
    * baseline resets. A crash mid-retrain leaves a rebuilt base plus
    * stale appends — re-appending is idempotent per batch directory and
    * re-running retrain converges, so the operation is safe to retry.
    */
  def retrain(s: SparkSession, iterations: Int = 2): Unit = {
    val (lists, _) = load(s)
    // warm start: seed the Lloyd rounds from the current (routed)
    // assignment, carried as seed_cid so buildIndex's own cid column
    // doesn't collide; sever lineage from the dirs being rewritten
    val vectors = truncate(lists.select(col("vec_id"), col("embedding"),
      col("cid").as("seed_cid")))
    val (index0, cents) = Ivf.buildIndex(
      vectors, seedAssign = col("seed_cid"), iterations)
    val index = index0.drop("seed_cid")
    Ivf.save(index, cents, indexDir)
    // the rebuilt lists ARE the new fitted state: reset the drift
    // baseline to them before releasing the checkpoints
    val b = spark(index).read.parquet(s"$indexDir/lists")
      .groupBy(col("cid").cast("long").as("cid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    writeBaseline(b)
    Seq(index0, cents, vectors).foreach(release(_))
    // clear served appends AFTER the rebuilt index is committed. Their
    // batch ids enter the compacted-ids ledger first: the retrain folded
    // them into the rebuilt lists, so a checkpoint replay of those
    // batches must be a no-op forever (the frontier compression keeps
    // that guarantee at O(gaps) ledger bytes, not O(batches ever folded))
    writeAtomic(ledgerPath, {
      val cf = compactedIds; appendBatchIds.foreach(cf.add); cf.serialize
    })
    val p = java.nio.file.Paths.get(appendsDir)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      } finally st.close()
    }
  }

  /** Wire a streaming vector frame `(vec_id, embedding)` into per-batch
    * maintenance. Kafka is a `format` swap on the caller's readStream.
    */
  def start(vectors: DataFrame, checkpointDir: String,
      triggerMs: Long = 500): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatch(batch, id); ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
      .start()
}
