package graft.streaming

import graft.lakehouse.SnapshotTable
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, LongType, StringType, StructField, StructType}

/** ST41 — streaming cross-modal PAIR gate: the live form of the x85
  * audit. Caption–image pairs arrive as a stream; a pair is admitted
  * only when BOTH sides are novel against everything accepted so far —
  * exact text fingerprint (md5, the [[StreamingDedup]]/ST37 convention)
  * AND perceptual image hash (DCT pHash within Hamming ≤ `maxHamming`,
  * the [[Multimodal.nearDupImagePairsDct]] convention). The accepted
  * rows themselves ARE the index: one `(pair_id, fp, img_hash)` row per
  * admitted pair in a [[SnapshotTable]], so "what the gate admitted" and
  * "what future batches dedup against" are definitionally one table.
  *
  * Verdict rules (deterministic, replay-stable):
  *  - text drop: fp already in the index, or an EARLIER batch-mate
  *    (smaller pair_id) carries the same fp;
  *  - image drop: pHash within `maxHamming` of an index row or of an
  *    earlier batch-mate. Within-batch image matching uses
  *    earlier-arrival shadowing — a pair near-dups against ALL earlier
  *    batch-mates, kept or not. This over-drops only on the rare chain
  *    (a dropped-by-index mate shadows a pair that is itself clean
  *    against the index), and in exchange the verdict is a pure plan —
  *    no sequential dependency — so a replayed batch re-derives
  *    byte-identical output;
  *  - an undecodable image — or a NULL caption (md5(null) is null, so
  *    no fp join could ever dedup it) — routes the PAIR to quarantine
  *    (counted, never silently admitted — the multimodal corrupt-row
  *    discipline).
  *
  * Exactly-once: accepted/dropped/quarantine sinks are per-batch-dir
  * overwrites; the index append carries a `pairgate-batch-N` marker and
  * the replay check is a per-id committed set (the ST37 rule), so a
  * re-delivered batch is a no-op BEFORE any sink write.
  *
  * Scale posture: per batch, one narrow decode pass (pHash via
  * mapPartitions — payload bytes never shuffle), one fp equi-join and
  * one 4-band blocked hash join against the index (candidates are
  * band-bounded, never |batch|·|index|), and the index read is the
  * banded projection of accepted rows. At production scale the banded
  * projection would be maintained as its own bucketed table; the join
  * shape is already that one.
  */
/** @param alignIdf when set (a FROZEN idf table — the [[TopicDrift]]
  *                  discipline: a live batch must not re-derive document
  *                  frequencies from itself) and the batch carries an
  *                  `embedding` column, every pair is also scored for
  *                  caption–image AGREEMENT (the x89 fixed-point cosine
  *                  between the hashed tf-idf caption vector and the
  *                  image embedding); pairs scoring below `minAgree` —
  *                  or whose caption has no frozen-vocabulary tokens at
  *                  all (unscorable) — route to the misaligned
  *                  quarantine BEFORE the dedup verdicts, so a
  *                  mismatched pair never enters the index.
  */
final class CrossModalGate(
    index: SnapshotTable,
    outDir: String,
    maxHamming: Int = 6,
    alignIdf: Option[DataFrame] = None,
    minAgree: Double = 0.25) {

  private def acceptedDir = s"$outDir/accepted"
  private def droppedDir = s"$outDir/dropped"
  private def quarantineDir = s"$outDir/quarantine_undecodable"
  private def misalignedDir = s"$outDir/quarantine_misaligned"
  private def auditDir = s"$outDir/audit"

  /** Compressed committed set: a frontier watermark + out-of-order
    * exceptions ([[graft.CommittedFrontier]]) — O(gaps) memory, not
    * O(batches ever committed). Each commit marker also RECORDS the
    * pre-commit watermark (`pairgate-batch-N@F`), so the replay check
    * survives snapshot expiry: even after [[SnapshotTable
    * .expireSnapshots]] GCs old manifests, the newest surviving gate
    * marker re-establishes the whole committed prefix (monotone
    * streaming ids — an out-of-order backfill drive's own marker must
    * survive for ITS id, so don't combine backfills with aggressive
    * expiry).
    */
  private var committedIds: graft.CommittedFrontier = _

  /** Has `batchId` already committed? (marker in index history). */
  def committed(batchId: Long): Boolean = synchronized {
    if (committedIds == null) {
      committedIds = new graft.CommittedFrontier
      index.operations().foreach {
        case CrossModalGate.Marker(b, f) =>
          committedIds.add(b.toLong)
          if (f != null) committedIds.addFrontier(f.toLong)
        case _ => ()
      }
    }
    committedIds.contains(batchId)
  }

  private def bandsOf(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol), col("img_hash"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bits", expr("shiftright(img_hash, band * 16) & 65535"))

  /** Run one micro-batch of `(pair_id, text, image)` through the gate.
    * Idempotent on replay.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (committed(batchId)) return
    val spark = batch.sparkSession
    import spark.implicits._
    val nIn = batch.count()

    // decode stage: pHash per pair (narrow; bytes never shuffle), fp
    // in-plan. Left = hashed pairs, right = undecodable quarantine.
    // A null caption quarantines like an undecodable image: md5(null)
    // is null, so the cross-batch fp anti-join could never match it —
    // duplicate null-text pairs would be re-admitted every batch while
    // the within-batch window dropped them (inconsistent verdicts).
    val hashed = batch.select("pair_id", "text", "image")
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, text, img) =>
        if (text == null) (id, text, 0L, "null_text")
        else Multimodal.pHash(img) match {
          case Right(h) => (id, text, h, null: String)
          case Left(err) => (id, text, 0L, err)
        }
      })
      .toDF("pair_id", "text", "img_hash", "decode_error")
      .withColumn("fp", md5(col("text")))
      .persist() // read by quarantine count + both verdict joins
    try {
      val bad = hashed.filter(col("decode_error").isNotNull)
      bad.select("pair_id", "text", "decode_error")
        .write.mode("overwrite").parquet(s"$quarantineDir/b$batchId")
      val nQuarantined =
        spark.read.parquet(s"$quarantineDir/b$batchId").count()
      val ok0 = hashed.filter(col("decode_error").isNull)
        .select("pair_id", "text", "fp", "img_hash")

      // optional x89 alignment gate: agreement scored against the FROZEN
      // idf; sub-threshold and unscorable pairs quarantined before any
      // dedup verdict (a mismatched caption must never enter the index,
      // even as the "canonical" of its image cluster)
      val (ok, nMisaligned) = alignIdf match {
        case Some(idf) if batch.columns.contains("embedding") =>
          graft.GraftExtensions.ensure(spark)
          val w = graft.text.TextQueries.hashedWeightsOf(
            batch.select(col("pair_id").as("doc_id"), col("text"))
              .filter(col("text").isNotNull), idf)
          val embq = batch
            .select(col("pair_id").as("vec_id"), posexplode(col("embedding")))
            .select(col("vec_id"), col("pos").as("bucket"),
              floor(col("col").cast("double") * lit(1e8)).cast("long")
                .as("qv"))
          val verdicted = ok0.join(
            graft.multimodal.CrossModalQueries.alignmentScores(w, embq),
            Seq("pair_id"), "left")
          verdicted.filter(col("agree").isNull || col("agree") < minAgree)
            .select(col("pair_id"), col("text"),
              coalesce(col("agree"), lit(-2.0)).as("agree")) // -2 = unscorable
            .write.mode("overwrite").parquet(s"$misalignedDir/b$batchId")
          val n = spark.read.parquet(s"$misalignedDir/b$batchId").count()
          (verdicted.filter(col("agree") >= minAgree)
            .select("pair_id", "text", "fp", "img_hash"), n)
        case _ => (ok0, 0L)
      }

      val idx =
        if (index.currentVersion == 0)
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(Seq(StructField("pair_id", LongType),
              StructField("fp", StringType),
              StructField("img_hash", LongType))))
        else index.read()

      // text verdict: index fp hit, or an earlier batch-mate's fp
      val textIdxHit = ok.join(idx.select(col("fp")).distinct(),
        Seq("fp"), "left_semi").select(col("pair_id"))
      val wFp = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("pair_id")
      val textBatchHit = ok.withColumn("__rn", row_number().over(wFp))
        .filter(col("__rn") > 1).select(col("pair_id"))

      // image verdict: banded candidates vs index and vs earlier
      // batch-mates, exact Hamming verify — never all-pairs
      val bandsB = bandsOf(ok, "pair_id")
      val imgIdxHit = bandsB
        .join(bandsOf(idx, "pair_id")
          .select(col("band"), col("bits"), col("img_hash").as("__ih")),
          Seq("band", "bits"))
        .filter(expr(s"bit_count(img_hash ^ __ih) <= $maxHamming"))
        .select(col("pair_id")).distinct()
      val imgBatchHit = bandsB
        .join(bandsB.select(col("band"), col("bits"),
          col("pair_id").as("__ea"), col("img_hash").as("__ih")),
          Seq("band", "bits"))
        .filter(col("__ea") < col("pair_id") &&
          expr(s"bit_count(img_hash ^ __ih) <= $maxHamming"))
        .select(col("pair_id")).distinct()

      val textDrop = textIdxHit.unionAll(textBatchHit).distinct()
        .withColumn("__t", lit(true))
      val imgDrop = imgIdxHit.unionAll(imgBatchHit).distinct()
        .withColumn("__i", lit(true))
      val verdicts = ok
        .join(broadcast(textDrop), Seq("pair_id"), "left")
        .join(broadcast(imgDrop), Seq("pair_id"), "left")
        .withColumn("drop_text", coalesce(col("__t"), lit(false)))
        .withColumn("drop_image", coalesce(col("__i"), lit(false)))

      verdicts.filter(col("drop_text") || col("drop_image"))
        .select(col("pair_id"), col("drop_text"), col("drop_image"))
        .write.mode("overwrite").parquet(s"$droppedDir/b$batchId")
      verdicts.filter(!col("drop_text") && !col("drop_image"))
        .select("pair_id", "text", "fp", "img_hash")
        .write.mode("overwrite").parquet(s"$acceptedDir/b$batchId")

      val accBack = spark.read.parquet(s"$acceptedDir/b$batchId")
      val nAccepted = accBack.count()
      val dropBack = spark.read.parquet(s"$droppedDir/b$batchId")
      val nDropText = dropBack.filter(col("drop_text")).count()
      val nDropImage = dropBack.filter(col("drop_image")).count()
      val nDropped = dropBack.count()

      Seq((batchId, nIn, nQuarantined, nMisaligned, nDropText, nDropImage,
        nDropped, nAccepted))
        .toDF("batch_id", "n_in", "n_quarantined", "n_misaligned",
          "n_drop_text", "n_drop_image", "n_dropped", "n_accepted")
        .coalesce(1).write.mode("overwrite").parquet(s"$auditDir/b$batchId")

      // the commit marker LAST — index rows re-read from the sink, so
      // "what the index holds" ≡ "what the accepted dir holds". The
      // marker carries the PRE-commit watermark: replay protection for
      // every earlier batch survives manifest GC via this one marker.
      val wm = synchronized {
        if (committedIds == null) { committed(-1L); () } // prime
        committedIds.watermark
      }
      index.append(accBack.select("pair_id", "fp", "img_hash"),
        s"pairgate-batch-$batchId@$wm")
      synchronized { committedIds.add(batchId) }
    } finally hashed.unpersist()
  }

  /** Wire a file-source pair stream through the gate (the schema grows
    * the embedding column when the alignment gate is configured).
    */
  def start(spark: SparkSession, inDir: String,
      checkpoint: String): StreamingQuery = {
    val schema =
      if (alignIdf.isDefined) CrossModalGate.pairSchemaWithEmbedding
      else CrossModalGate.pairSchema
    spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Accumulated per-stage audit (one row per batch). */
  def audit(spark: SparkSession): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(auditDir)

  /** All admitted pairs across batches. */
  def accepted(spark: SparkSession): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(acceptedDir)
}

object CrossModalGate {
  /** A commit marker: batch id, then the pre-commit watermark if stamped. */
  private val Marker = """pairgate-batch-(\d+)(?:@(-?\d+))?""".r

  /** Wire schema of one incoming caption–image pair. */
  val pairSchema: StructType = StructType(Seq(
    StructField("pair_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("image", BinaryType)))

  /** [[pairSchema]] + the precomputed image embedding (the production
    * shape when the x89 alignment gate is on: an embedding service
    * annotates pairs upstream of the gate).
    */
  val pairSchemaWithEmbedding: StructType = StructType(
    pairSchema.fields :+ StructField("embedding",
      ArrayType(FloatType, containsNull = false)))
}
