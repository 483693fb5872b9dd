package graft.streaming

import graft.SparkSpec
import graft.similarity.SpectralQueries
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** ST39 — streaming anisotropy drift: stream ≡ batch integer equality on
  * any batch split, replay idempotence, a planted spectral-drift alarm,
  * and the clean-corpus no-alarm guard.
  */
class EmbeddingDriftSpec extends SparkSpec {

  private def emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  test("ST39: merged log over any batch split equals the batch x76 fold") {
    val base = EmbeddingDrift.fit(emb)
    val (vWhole, anisoWhole, meanWhole) =
      SpectralQueries.powerIteration(SpectralQueries.quantize(spark, emb))
    for (nSplits <- Seq(1, 3, 7)) {
      val root = tempDir(s"graft-edrift-$nSplits").toString
      val m = new EmbeddingDrift.Monitor(base, s"$root/log")
      (0 until nSplits).foreach { b =>
        m.processBatch(emb.filter(pmod(col("vec_id"), lit(nSplits)) === b),
          b.toLong)
      }
      val g = m.merged(spark)
      val (v, aniso, mean) = SpectralQueries.powerIterationOf(g)
      assert(v.toSeq === vWhole.toSeq, s"split $nSplits: direction differs")
      assert(aniso === anisoWhole && mean === meanWhole)
      val st = m.status(spark).collect().head
      // identical corpus → identical direction → perfect alignment,
      // zero anisotropy rise, no alarm
      assert(st.getLong(st.fieldIndex("align_bp")) === 10000L)
      assert(st.getLong(st.fieldIndex("aniso_rise_bp")) === 0L)
      assert(!st.getBoolean(st.fieldIndex("drifted")))
    }
  }

  test("ST39: a replayed batch is a no-op (per-batch-dir overwrite)") {
    val base = EmbeddingDrift.fit(emb)
    val root = tempDir("graft-edrift-r").toString
    val m = new EmbeddingDrift.Monitor(base, s"$root/log")
    m.processBatch(emb.filter(col("vec_id") % 2 === 0), 0L)
    m.processBatch(emb.filter(col("vec_id") % 2 === 1), 1L)
    val before = m.merged(spark)
    m.processBatch(emb.filter(col("vec_id") % 2 === 0), 0L) // replay
    val after = m.merged(spark)
    assert(after.n === before.n)
    assert(after.s.toSeq === before.s.toSeq)
    assert(after.cUpper.toSeq === before.cUpper.toSeq)
  }

  test("ST39: planted common-direction drift raises the alarm; the x83 " +
    "plant is the drift shape") {
    val base = EmbeddingDrift.fit(emb)
    // live traffic = the x83 corruption: a common bias direction with
    // per-doc amplitude — the encoder-regression shape this monitor
    // exists to catch (planted top-direction share ~51% vs the clean
    // corpus's ~2%, measured in SpectralSpec)
    val live = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS FLOAT) + " +
        "CAST(0.0625 * (vec_id % 7 + 1) AS FLOAT))").as("embedding"))
    val root = tempDir("graft-edrift-d").toString
    val m = new EmbeddingDrift.Monitor(base, s"$root/log")
    (0 until 3).foreach { b =>
      m.processBatch(live.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong)
    }
    val st = m.status(spark).collect().head
    val rise = st.getLong(st.fieldIndex("aniso_rise_bp"))
    assert(rise > 1500L, s"planted drift did not raise anisotropy: $rise bp")
    assert(st.getBoolean(st.fieldIndex("drifted")))
  }

  test("ST39: compacted log ≡ uncompacted bit-for-bit; folded replays " +
    "no-op; a second compaction swaps generations cleanly") {
    val base = EmbeddingDrift.fit(emb)
    val root = tempDir("graft-edrift-c").toString
    val m = new EmbeddingDrift.Monitor(base, s"$root/log")
    (0 until 5).foreach { b =>
      m.processBatch(emb.filter(pmod(col("vec_id"), lit(5)) === b), b.toLong)
    }
    val gBefore = m.merged(spark)
    val stBefore = m.status(spark).collect().head
    m.compactLog(spark, upTo = 2L)
    val gAfter = m.merged(spark)
    assert(gAfter.n === gBefore.n)
    assert(gAfter.s.toSeq === gBefore.s.toSeq)
    assert(gAfter.cUpper.toSeq === gBefore.cUpper.toSeq)
    assert(m.status(spark).collect().head.toSeq === stBefore.toSeq)
    // folded batch dirs are gone; un-folded ones remain
    def dirExists(b: Int) = java.nio.file.Files
      .exists(java.nio.file.Paths.get(s"$root/log/b$b"))
    assert(!dirExists(0) && !dirExists(1) && !dirExists(2))
    assert(dirExists(3) && dirExists(4))
    // a replay of a FOLDED batch is a no-op — even with different data
    // (the ledger, not the dir overwrite, is what makes this safe)
    m.processBatch(emb.limit(7), 1L)
    assert(!dirExists(1), "folded replay re-created its batch dir")
    val gReplay = m.merged(spark)
    assert(gReplay.s.toSeq === gBefore.s.toSeq)
    assert(gReplay.cUpper.toSeq === gBefore.cUpper.toSeq)
    // second compaction folds the rest into generation 2
    m.compactLog(spark, upTo = 4L)
    assert(!dirExists(3) && !dirExists(4))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/log/_compact_v2")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/log/_compact_v1")))
    val gFinal = m.merged(spark)
    assert(gFinal.n === gBefore.n)
    assert(gFinal.s.toSeq === gBefore.s.toSeq)
    assert(gFinal.cUpper.toSeq === gBefore.cUpper.toSeq)
    // un-folded NEW batches still land and merge after compaction
    m.processBatch(emb.filter(col("vec_id") === 0), 9L)
    assert(m.merged(spark).n === gBefore.n + 1)
  }

  test("ST39: autoCompactEvery bounds the log while the merged state " +
    "stays exact — the forever-running form") {
    val base = EmbeddingDrift.fit(emb)
    val root = tempDir("graft-edrift-a").toString
    val m = new EmbeddingDrift.Monitor(base, s"$root/log",
      autoCompactEvery = 4L)
    (0 until 10).foreach { b =>
      m.processBatch(emb.filter(pmod(col("vec_id"), lit(10)) === b), b.toLong)
    }
    // batches 0-3 folded at b3, 4-7 at b7: only b8/b9 dirs remain live
    val liveDirs = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/log"))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(l.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("b") && n.drop(1).forall(_.isDigit)).toSet
      finally l.close()
    }
    assert(liveDirs === Set("b8", "b9"), s"log not bounded: $liveDirs")
    val g = m.merged(spark)
    val whole = SpectralQueries.gramStats(SpectralQueries.quantize(spark, emb))
    assert(g.n === whole.n)
    assert(g.s.toSeq === whole.s.toSeq)
    assert(g.cUpper.toSeq === whole.cUpper.toSeq)
    val st = m.status(spark).collect().head
    assert(st.getLong(st.fieldIndex("align_bp")) === 10000L)
    assert(!st.getBoolean(st.fieldIndex("drifted")))
  }

  test("ST39 fuzz: random batch splits with interleaved compactions " +
    "always merge to the whole-corpus Gram; a crash-orphaned compact " +
    "generation is ignored and safely overwritten") {
    val base = EmbeddingDrift.fit(emb)
    val whole = SpectralQueries.gramStats(SpectralQueries.quantize(spark, emb))
    val rng = new scala.util.Random(4217)
    for (trial <- 1 to 4) {
      val root = tempDir(s"graft-edrift-z$trial").toString
      val m = new EmbeddingDrift.Monitor(base, s"$root/log")
      val nB = 2 + rng.nextInt(6)
      var delivered = -1L
      (0 until nB).foreach { b =>
        m.processBatch(emb.filter(pmod(col("vec_id"), lit(nB)) === b), b.toLong)
        delivered = b.toLong
        // interleaved compaction at a random frontier ~40% of the time
        if (rng.nextInt(10) < 4)
          m.compactLog(spark, upTo = rng.nextInt((delivered + 1).toInt).toLong)
      }
      if (trial == 2) {
        // simulate a crash between compact-write and ledger-commit: an
        // orphan generation dir that the ledger does not name — reads
        // must ignore it, and the NEXT compaction overwrites it cleanly
        val (gen, _) = {
          val p = java.nio.file.Paths.get(s"$root/log", "_ledger")
          if (!java.nio.file.Files.exists(p)) (0L, Set.empty[Long])
          else {
            val l = java.nio.file.Files.readString(p).split("\n")
              .filter(_.nonEmpty)
            (l.head.toLong, l.tail.map(_.toLong).toSet)
          }
        }
        spark.range(1).selectExpr("99999L AS batch_id", "-7L AS lab",
          "array('123','456') AS acc", "0L AS n_oversized")
          .write.mode("overwrite")
          .parquet(s"$root/log/_compact_v${gen + 1}")
        val g1 = m.merged(spark)
        assert(g1.n === whole.n, s"trial $trial: orphan generation was read")
      }
      m.compactLog(spark, upTo = delivered)
      val g = m.merged(spark)
      assert(g.n === whole.n, s"trial $trial (nB=$nB): n differs")
      assert(g.s.toSeq === whole.s.toSeq, s"trial $trial: S differs")
      assert(g.cUpper.toSeq === whole.cUpper.toSeq, s"trial $trial: C differs")
      val st = m.status(spark).collect().head
      assert(st.getLong(st.fieldIndex("align_bp")) === 10000L)
      assert(!st.getBoolean(st.fieldIndex("drifted")))
    }
  }

  test("ST39: an oversized vector is excluded from the Gram, counted, " +
    "and trips the alarm instead of silently overflowing") {
    val base = EmbeddingDrift.fit(emb)
    val root = tempDir("graft-edrift-o").toString
    val m = new EmbeddingDrift.Monitor(base, s"$root/log")
    // vec 0 breaks its normalization: component 1e6 ⇒ |q| = 1e10, far
    // past the MaxAbsQ envelope — the exact silent-overflow pathology
    val poisoned = emb.select(col("vec_id"),
      when(col("vec_id") === 0,
        expr("transform(embedding, x -> CAST(1000000.0 AS FLOAT))"))
        .otherwise(col("embedding")).as("embedding"))
    m.processBatch(poisoned, 0L)
    val st = m.status(spark).collect().head
    assert(st.getLong(st.fieldIndex("n_oversized")) === 1L)
    assert(st.getBoolean(st.fieldIndex("drifted")))
    // the logged Gram is exactly the clean-rows Gram — no corruption
    val clean = SpectralQueries.gramStats(SpectralQueries.quantize(
      spark, emb.filter(col("vec_id") =!= 0)))
    val g = m.merged(spark)
    assert(g.n === clean.n)
    assert(g.s.toSeq === clean.s.toSeq)
    assert(g.cUpper.toSeq === clean.cUpper.toSeq)
  }

  private def embLab = Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))

  test("ST40: per-family merged Grams equal the batch gramStatsBy fold " +
    "(stream ≡ batch, integer equality) and sum to the global") {
    val fams = EmbeddingDrift.fitByFamily(embLab, "label")
    val root = tempDir("graft-edrift-f").toString
    val m = new EmbeddingDrift.Monitor(fams(-1L), s"$root/log",
      labelCol = Some("label"), familyBaselines = fams)
    (0 until 3).foreach { b =>
      m.processBatch(embLab.filter(pmod(col("vec_id"), lit(3)) === b),
        b.toLong)
    }
    val whole = SpectralQueries.gramStatsBy(embLab.select(
      col("label").as("lab"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))").as("q")))
    val byFam = m.mergedByFamily(spark)
    assert(byFam.keySet === whole.keySet)
    whole.foreach { case (lab, g) =>
      assert(byFam(lab).n === g.n, s"family $lab: n differs")
      assert(byFam(lab).s.toSeq === g.s.toSeq, s"family $lab: S differs")
      assert(byFam(lab).cUpper.toSeq === g.cUpper.toSeq, s"family $lab: C differs")
    }
    val g = m.merged(spark)
    assert(g.n === whole.values.map(_.n).sum)
    // clean live corpus == trusted corpus: no family (and not the
    // global) may alarm
    val fs = m.familyStatus(spark).collect()
    assert(fs.nonEmpty)
    fs.foreach { r =>
      assert(!r.getBoolean(r.fieldIndex("drifted")),
        s"clean corpus alarmed for family ${r.getLong(0)}")
      assert(r.getLong(r.fieldIndex("align_bp")) === 10000L)
    }
    assert(!m.status(spark).collect().head.getBoolean(6))
  }

  test("ST40: a private-direction pathology inside ONE family alarms " +
    "that family while the global spectrum stays quiet") {
    // Alignment is only a meaningful alarm when the baseline has a
    // DISTINGUISHED top direction (a near-isotropic baseline rotates
    // under any perturbation — measured here: the raw synthetic corpus
    // alarmed globally at align 2856 bp from a 1/10-family plant). Real
    // sentence-embedding spaces have exactly that dominant common
    // direction (Ethayarajh 2019), so the trusted corpus carries the x83
    // global plant along the all-ones direction g — in BOTH the fitted
    // baselines and the live stream.
    val globalPlant = "CAST(0.0625 * (vec_id % 7 + 1) AS FLOAT)"
    val trusted = embLab.select(col("vec_id"),
      expr(s"transform(embedding, x -> CAST(x AS FLOAT) + $globalPlant)")
        .as("embedding"),
      col("label"))
    val fams = EmbeddingDrift.fitByFamily(trusted, "label")
    val victim = 3L
    // the victim family additionally gains a PRIVATE direction h =
    // alternating ±1 (orthogonal to g), strong enough to dominate the
    // family's own spectrum (var along h ≈ 2× var along g within the
    // family) but diluted ~10× across the corpus, where g stays on top
    val live = trusted.select(col("vec_id"),
      when(col("label") === victim,
        expr("transform(embedding, (x, i) -> CAST(x AS FLOAT) + " +
          "CAST((CASE WHEN i % 2 = 0 THEN 0.125 ELSE -0.125 END) * " +
          "(vec_id % 5 + 1) AS FLOAT))"))
        .otherwise(col("embedding")).as("embedding"),
      col("label"))
    val root = tempDir("graft-edrift-p").toString
    val m = new EmbeddingDrift.Monitor(fams(-1L), s"$root/log",
      labelCol = Some("label"), familyBaselines = fams)
    (0 until 3).foreach { b =>
      m.processBatch(live.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong)
    }
    val st = m.status(spark).collect().head
    assert(!st.getBoolean(st.fieldIndex("drifted")),
      s"global alarmed: rise ${st.getLong(st.fieldIndex("aniso_rise_bp"))} bp, " +
        s"align ${st.getLong(st.fieldIndex("align_bp"))} bp")
    val fs = m.familyStatus(spark).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(fs(victim).getBoolean(fs(victim).fieldIndex("drifted")),
      s"victim family did not alarm: " +
        s"rise ${fs(victim).getLong(fs(victim).fieldIndex("aniso_rise_bp"))} bp, " +
        s"align ${fs(victim).getLong(fs(victim).fieldIndex("align_bp"))} bp")
    fs.filterNot(_._1 == victim).foreach { case (lab, r) =>
      assert(!r.getBoolean(r.fieldIndex("drifted")),
        s"innocent family $lab alarmed")
    }
  }

  test("ST40: a family with no fitted baseline reads as drifted " +
    "(unknown source entered the stream)") {
    val fams = EmbeddingDrift.fitByFamily(embLab.filter(col("label") =!= 0), "label")
    val root = tempDir("graft-edrift-u").toString
    val m = new EmbeddingDrift.Monitor(fams(-1L), s"$root/log",
      labelCol = Some("label"), familyBaselines = fams)
    m.processBatch(embLab, 0L)
    val fs = m.familyStatus(spark).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(fs(0L).getBoolean(fs(0L).fieldIndex("drifted")))
    assert(fs(0L).getLong(fs(0L).fieldIndex("align_bp")) === 0L)
  }

  test("ST40: labeled streaming drive (readStream → familyStatus) " +
    "equals the manual per-family fold") {
    val fams = EmbeddingDrift.fitByFamily(embLab, "label")
    val root = tempDir("graft-edrift-sl").toString
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val m = new EmbeddingDrift.Monitor(fams(-1L), s"$root/log",
      labelCol = Some("label"), familyBaselines = fams,
      autoCompactEvery = 2L)
    embLab.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(in)
    val q = m.start(spark, in, s"$root/ckpt")
    try {
      q.processAllAvailable()
      embLab.filter(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    val whole = SpectralQueries.gramStatsBy(embLab.select(
      col("label").as("lab"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))").as("q")))
    val byFam = m.mergedByFamily(spark)
    assert(byFam.keySet === whole.keySet)
    whole.foreach { case (lab, g) =>
      assert(byFam(lab).s.toSeq === g.s.toSeq, s"family $lab: S differs")
      assert(byFam(lab).cUpper.toSeq === g.cUpper.toSeq, s"family $lab: C differs")
    }
    m.familyStatus(spark).collect().foreach { r =>
      assert(!r.getBoolean(r.fieldIndex("drifted")),
        s"clean stream alarmed family ${r.getLong(0)}")
    }
  }

  test("ST39: the ledger stays O(1) lines across many compactions (a " +
    "frontier watermark, not a growing folded-id list), folded replays " +
    "still no-op, and a LEGACY id-list ledger migrates transparently") {
    val base = EmbeddingDrift.fit(emb)
    val root = tempDir("graft-edrift-l").toString
    val m = new EmbeddingDrift.Monitor(base, s"$root/log",
      autoCompactEvery = 2L)
    (0 until 12).foreach { b =>
      m.processBatch(emb.filter(pmod(col("vec_id"), lit(12)) === b), b.toLong)
    }
    // 6 compactions have run; the r17 format would hold 12 folded ids
    // by now and keep growing forever — the frontier format holds 3
    // lines (generation, "v2", watermark) no matter how many batches
    val ledger = java.nio.file.Paths.get(s"$root/log/_ledger")
    val lines = java.nio.file.Files.readString(ledger)
      .split("\n").filter(_.nonEmpty)
    assert(lines.length === 3, s"ledger not bounded: ${lines.toSeq}")
    assert(lines(1) === "v2" && lines(2) === "11")
    val before = m.merged(spark)
    m.processBatch(emb, 3L) // replay of a folded batch: must no-op
    val after = m.merged(spark)
    assert(after.n === before.n && after.s.toSeq === before.s.toSeq)

    // legacy migration: hand-write the r17 id-list format; the monitor
    // must read it (replays no-op) and the next compaction upgrades it
    val root2 = tempDir("graft-edrift-m").toString
    val m2 = new EmbeddingDrift.Monitor(base, s"$root2/log")
    (0 until 4).foreach { b =>
      m2.processBatch(emb.filter(pmod(col("vec_id"), lit(4)) === b), b.toLong)
    }
    m2.compactLog(spark, upTo = 1L)
    val p2 = java.nio.file.Paths.get(s"$root2/log/_ledger")
    val gen = java.nio.file.Files.readString(p2).split("\n").head
    java.nio.file.Files.writeString(p2, s"$gen\n0\n1\n") // r17 format
    val b4 = m2.merged(spark)
    m2.processBatch(emb, 0L) // folded per the legacy ledger: no-op
    assert(m2.merged(spark).n === b4.n)
    m2.compactLog(spark, upTo = 3L) // upgrades the format
    val lines2 = java.nio.file.Files.readString(p2)
      .split("\n").filter(_.nonEmpty)
    assert(lines2(1) === "v2" && lines2(2) === "3")
    val whole = SpectralQueries.gramStats(SpectralQueries.quantize(spark, emb))
    assert(m2.merged(spark).n === whole.n)
    assert(m2.merged(spark).cUpper.toSeq === whole.cUpper.toSeq)
  }

  test("ST39: a log written WITHOUT the ST40 columns (pre-family format) " +
    "reads as the unlabeled family instead of NPE-ing") {
    val base = EmbeddingDrift.fit(emb)
    val root = tempDir("graft-edrift-o").toString
    val m = new EmbeddingDrift.Monitor(base, s"$root/log")
    m.processBatch(emb, 0L)
    // rewrite b0 dropping the lab/n_oversized columns — the old row shape
    val old = spark.read.parquet(s"$root/log/b0")
      .select("batch_id", "acc")
    val tmp = s"$root/old_b0"
    old.write.parquet(tmp)
    val dst = java.nio.file.Paths.get(s"$root/log/b0")
    val st = java.nio.file.Files.walk(dst)
    try {
      import scala.jdk.CollectionConverters._
      st.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(java.nio.file.Files.deleteIfExists(_))
    } finally st.close()
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), dst)
    val g = m.merged(spark)
    val whole = SpectralQueries.gramStats(SpectralQueries.quantize(spark, emb))
    assert(g.n === whole.n && g.cUpper.toSeq === whole.cUpper.toSeq)
    val row = m.status(spark).collect().head
    assert(row.getLong(row.fieldIndex("n_oversized")) === 0L)
    assert(!row.getBoolean(row.fieldIndex("drifted")))
  }

  test("ST39/ST40: family label -1 is rejected (reserved for the " +
    "global/unlabeled sentinel) in both fit and processBatch") {
    val labeled = emb.withColumn("family",
      when(col("vec_id") % 2 === 0, lit(-1L)).otherwise(lit(3L)))
    intercept[IllegalArgumentException] {
      EmbeddingDrift.fitByFamily(labeled, "family")
    }
    val base = EmbeddingDrift.fit(emb)
    val good = EmbeddingDrift.fitByFamily(
      emb.withColumn("family", pmod(col("vec_id"), lit(2))), "family")
    val root = tempDir("graft-edrift-n").toString
    val m = new EmbeddingDrift.Monitor(base, s"$root/log",
      labelCol = Some("family"), familyBaselines = good)
    intercept[IllegalArgumentException] {
      m.processBatch(labeled, 0L)
    }
  }

  test("ST39: streaming drive over two file drops equals the direct fold") {
    val base = EmbeddingDrift.fit(emb)
    val root = tempDir("graft-edrift-s").toString
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val m = new EmbeddingDrift.Monitor(base, s"$root/log")
    emb.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(in)
    val q = m.start(spark, in, s"$root/ckpt")
    try {
      q.processAllAvailable()
      emb.filter(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    val g = m.merged(spark)
    val whole = SpectralQueries.gramStats(
      SpectralQueries.quantize(spark, emb))
    assert(g.n === whole.n)
    assert(g.s.toSeq === whole.s.toSeq)
    assert(g.cUpper.toSeq === whole.cUpper.toSeq)
  }
}
