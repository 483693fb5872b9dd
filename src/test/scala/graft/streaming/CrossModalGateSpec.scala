package graft.streaming

import graft.SparkSpec
import graft.lakehouse.SnapshotTable
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import org.apache.spark.sql.functions._

/** ST41 — streaming cross-modal pair gate: within-batch and cross-batch
  * drops on both modalities, undecodable quarantine, replay idempotence,
  * and the index ≡ accepted-sink identity.
  */
class CrossModalGateSpec extends SparkSpec {

  private def png(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def textured(seed: Int, w: Int = 64, h: Int = 64): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val s = seed * 0.05
      val v0 = 128.0 +
        30 * StrictMath.sin(x * 0.35 + s) * StrictMath.cos(y * 0.22) +
        25 * StrictMath.sin(x * 0.11 + y * 0.40 + s) +
        20 * StrictMath.cos(x * 0.60) * StrictMath.sin(y * 0.13 + s) +
        15 * StrictMath.sin((x - y) * 0.27)
      val v = math.max(0, math.min(255, v0.round.toInt))
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  private def texturedPerturbed(seed: Int): BufferedImage = {
    val img = textured(seed)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xffffff)
    img
  }

  // distinct-texture seeds below come from the set measured pairwise
  // ≥ 12 pHash bits apart (CrossModalSpec — the fixture phase wraps
  // at ~126, so naive spacing collides): {0, 31, 40, 63, 77, 94}

  test("ST41: within-batch + cross-batch drops on both modalities, " +
    "quarantine, replay no-op, index ≡ accepted") {
    import spark.implicits._
    val root = tempDir("graft-pairgate").toString
    val gate = new CrossModalGate(
      SnapshotTable.create(spark, s"$root/index"), s"$root/out")

    // batch 0: 1 clean; 2 = same TEXT as 1 (drop_text, within-batch);
    // 3 = near-dup IMAGE of 1 (drop_image, within-batch); 4 clean;
    // 5 = undecodable image (quarantine)
    val b0 = Seq(
      (1L, "alpha caption", png(textured(0))),
      (2L, "alpha caption", png(textured(31))),
      (3L, "gamma caption", png(texturedPerturbed(0))),
      (4L, "delta caption", png(textured(40))),
      (5L, "epsilon caption", Array[Byte](9, 9, 9)))
      .toDF("pair_id", "text", "image")
    gate.processBatch(b0, 0L)

    val acc0 = gate.accepted(spark).select("pair_id").as[Long].collect().sorted
    assert(acc0.toSeq === Seq(1L, 4L), s"batch-0 admits: ${acc0.toSeq}")
    val a0 = gate.audit(spark).filter(col("batch_id") === 0).head()
    assert(a0.getLong(a0.fieldIndex("n_in")) === 5L)
    assert(a0.getLong(a0.fieldIndex("n_quarantined")) === 1L)
    assert(a0.getLong(a0.fieldIndex("n_drop_text")) === 1L)
    assert(a0.getLong(a0.fieldIndex("n_drop_image")) === 1L)
    assert(a0.getLong(a0.fieldIndex("n_accepted")) === 2L)

    // batch 1: 6 = near-dup image of ACCEPTED 1 (cross-batch drop);
    // 7 = text of ACCEPTED 4 (cross-batch drop); 8, 9 clean
    val b1 = Seq(
      (6L, "zeta caption", png(texturedPerturbed(0))),
      (7L, "delta caption", png(textured(63))),
      (8L, "eta caption", png(textured(77))),
      (9L, "theta caption", png(textured(94))))
      .toDF("pair_id", "text", "image")
    gate.processBatch(b1, 1L)
    val acc1 = gate.accepted(spark).select("pair_id").as[Long].collect().sorted
    assert(acc1.toSeq === Seq(1L, 4L, 8L, 9L), s"after batch 1: ${acc1.toSeq}")
    val dropped1 = spark.read.parquet(s"$root/out/dropped/b1")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("drop_text")),
          r.getBoolean(r.fieldIndex("drop_image")))).toMap
    assert(dropped1(6L) === ((false, true)))
    assert(dropped1(7L) === ((true, false)))

    // index ≡ accepted sink, and fps/hashes actually novel
    val idx = SnapshotTable.create(spark, s"$root/index").read()
    assert(idx.count() === 4L)
    assert(idx.select("pair_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 4L, 8L, 9L))
    assert(idx.select("fp").distinct().count() === 4L)

    // replay batch 0 with DIFFERENT content: committed marker no-ops it
    val v = SnapshotTable.create(spark, s"$root/index").currentVersion
    gate.processBatch(
      Seq((99L, "other", png(textured(63)))).toDF("pair_id", "text", "image"),
      0L)
    assert(SnapshotTable.create(spark, s"$root/index").currentVersion === v,
      "replayed batch committed again")
    assert(gate.accepted(spark).count() === 4L)

    // a FRESH gate instance over the same index (restart) primes the
    // committed set from history: batch 1 replay is still a no-op
    val gate2 = new CrossModalGate(
      SnapshotTable.create(spark, s"$root/index"), s"$root/out")
    gate2.processBatch(b1, 1L)
    assert(gate2.accepted(spark).count() === 4L)
    // and a genuinely new batch still flows: 10 = dup text of 8 → drop
    gate2.processBatch(
      Seq((10L, "eta caption", png(textured(63)))).toDF("pair_id", "text", "image"),
      2L)
    assert(gate2.accepted(spark).select("pair_id").as[Long].collect().sorted
      .toSeq === Seq(1L, 4L, 8L, 9L))
  }

  test("ST41: exactly-once SURVIVES snapshot expiry — the newest " +
    "surviving marker's @frontier re-establishes the whole committed " +
    "prefix after manifest GC (the expire-then-replay drill)") {
    import spark.implicits._
    val root = tempDir("graft-pg-exp").toString
    val gate = new CrossModalGate(
      SnapshotTable.create(spark, s"$root/index"), s"$root/out")
    val seeds = Seq(0, 31, 40, 63, 77)
    val batches = seeds.zipWithIndex.map { case (seed, i) =>
      Seq((10L + i, s"caption $i", png(textured(seed))))
        .toDF("pair_id", "text", "image")
    }
    batches.zipWithIndex.foreach { case (b, i) => gate.processBatch(b, i.toLong) }
    assert(gate.accepted(spark).count() === 5L)

    // GC: keep only the last 2 snapshots — markers for batches 0-2 are
    // EXPIRED out of history
    val t = SnapshotTable.create(spark, s"$root/index")
    t.expireSnapshots(keep = 2)
    val ops = t.history().select("operation").as[String].collect()
    assert(ops.length === 2, s"expiry kept ${ops.toSeq}")
    assert(ops.forall(_.matches("^pairgate-batch-\\d+@\\d+$")))

    // a FRESH instance (restart after GC) must still no-op replays of
    // the expired batches: the surviving markers carry the frontier
    val gate2 = new CrossModalGate(
      SnapshotTable.create(spark, s"$root/index"), s"$root/out")
    val v = SnapshotTable.create(spark, s"$root/index").currentVersion
    gate2.processBatch(batches(0), 0L)
    gate2.processBatch(batches(2), 2L)
    assert(SnapshotTable.create(spark, s"$root/index").currentVersion === v,
      "a GC-expired batch was re-committed — exactly-once broke")
    assert(gate2.accepted(spark).count() === 5L)
    // and a genuinely new batch still flows
    gate2.processBatch(
      Seq((99L, "fresh caption", png(textured(94))))
        .toDF("pair_id", "text", "image"), 5L)
    assert(gate2.accepted(spark).count() === 6L)
  }

  test("ST41: a NULL caption quarantines like an undecodable image — " +
    "never admitted, and duplicate null-text pairs cannot leak through " +
    "the fp join in later batches") {
    import spark.implicits._
    val root = tempDir("graft-pg-null").toString
    val gate = new CrossModalGate(
      SnapshotTable.create(spark, s"$root/index"), s"$root/out")
    val b0 = Seq(
      (1L, null: String, png(textured(0))),
      (2L, null: String, png(textured(31))),
      (3L, "real caption", png(textured(40))))
      .toDF("pair_id", "text", "image")
    gate.processBatch(b0, 0L)
    val a0 = gate.audit(spark).filter(col("batch_id") === 0).head()
    assert(a0.getLong(a0.fieldIndex("n_quarantined")) === 2L)
    assert(a0.getLong(a0.fieldIndex("n_accepted")) === 1L)
    assert(gate.accepted(spark).select("pair_id").as[Long].collect().toSeq
      === Seq(3L))
    // a later null-text pair is quarantined too (the md5(null) = null
    // hole would have ADMITTED it: null never matches the fp semi-join)
    gate.processBatch(
      Seq((4L, null: String, png(textured(63))))
        .toDF("pair_id", "text", "image"), 1L)
    val a1 = gate.audit(spark).filter(col("batch_id") === 1).head()
    assert(a1.getLong(a1.fieldIndex("n_quarantined")) === 1L)
    assert(a1.getLong(a1.fieldIndex("n_accepted")) === 0L)
    val quar = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/out/quarantine_undecodable")
    assert(quar.filter(col("decode_error") === "null_text").count() === 3L)
  }

  test("ST41 + x89: the alignment gate quarantines a planted mismatched " +
    "pair (and an unscorable caption) before dedup, admits the aligned " +
    "one, and the misaligned pair never reaches the index") {
    import spark.implicits._
    val root = tempDir("graft-pg-align").toString
    // frozen idf from a trusted corpus (the TopicDrift discipline)
    val trusted = Seq((100L, "red apple fruit"), (200L, "blue car vehicle"))
      .toDF("doc_id", "text")
    val idf = graft.text.TextQueries.idfOf(trusted)
    // plant embeddings FROM each caption's own hashed vector: parallel
    // (agree = 1.0 exactly — integer wsum scales cancel) vs negated
    // (agree = -1.0, the mismatch)
    val w = graft.text.TextQueries.hashedWeightsOf(trusted, idf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def embFor(docId: Long, sign: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      w.filter(_._1 == docId).foreach { case (_, b, ws) =>
        a(b.toInt) = sign * ws.toFloat
      }
      a
    }
    val gate = new CrossModalGate(
      SnapshotTable.create(spark, s"$root/index"), s"$root/out",
      alignIdf = Some(idf), minAgree = 0.25)
    val b0 = Seq(
      (1L, "red apple fruit", png(textured(0)), embFor(100L, 1.0f)),
      (2L, "blue car vehicle", png(textured(31)), embFor(200L, -1.0f)),
      (3L, "zz unknown words", png(textured(40)), embFor(100L, 1.0f)))
      .toDF("pair_id", "text", "image", "embedding")
    gate.processBatch(b0, 0L)
    val a0 = gate.audit(spark).filter(col("batch_id") === 0).head()
    assert(a0.getLong(a0.fieldIndex("n_misaligned")) === 2L,
      "mismatch + unscorable must quarantine")
    assert(a0.getLong(a0.fieldIndex("n_accepted")) === 1L)
    assert(gate.accepted(spark).select("pair_id").as[Long].collect().toSeq
      === Seq(1L))
    val mis = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/out/quarantine_misaligned")
      .collect().map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("agree")))
      .toMap
    assert(mis(2L) === -1.0, s"planted mismatch score: $mis")
    assert(mis(3L) === -2.0, "unscorable caption must read -2 (no frozen-vocab tokens)")
    // the index holds ONLY the aligned pair — a mismatched caption can
    // never become its image cluster's canonical
    assert(SnapshotTable.create(spark, s"$root/index").read().count() === 1L)
    // replay idempotence survives the extra gate
    gate.processBatch(b0, 0L)
    assert(gate.accepted(spark).count() === 1L)
  }
}
