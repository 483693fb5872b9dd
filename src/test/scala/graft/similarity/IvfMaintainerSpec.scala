package graft.similarity

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** ST29 streaming IVF maintenance: appended vectors land exactly where a
  * from-scratch assignment against the frozen centroids would put them,
  * recall on an appended corpus beats the frozen index, replays and
  * restarts append nothing twice, and the drift trigger fires on mass —
  * then clears after a retrain.
  */
class IvfMaintainerSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** Base index over vec_id < 400; ids ≥ 400 are the "arrivals". */
  private def freshIndex(): (String, IvfMaintainer) = {
    val dir = tempDir("graft-st29").toString
    val (index, cents) = Ivf.buildIndex(
      vecs.filter(col("vec_id") < 400), pmod(col("vec_id"), lit(8L)),
      iterations = 1)
    Ivf.save(index, cents, dir)
    Seq(index, cents).foreach(graft.PlanCache.release(_))
    (dir, new IvfMaintainer(dir))
  }

  test("appends route to existing centroids: maintained lists equal " +
    "base UNION assign(batch, frozen centroids)") {
    val (dir, m) = freshIndex()
    val batch = vecs.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    m.appendBatch(batch, 0L)
    val (lists, cents) = m.load(spark)
    val expected = Ivf.load(spark, dir)._1
      .unionByName(Ivf.assign(batch, cents)
        .select(col("vec_id"), col("embedding"), col("cid")))
    val got = lists.select("vec_id", "cid").as[(Long, Long)].collect().toSet
    assert(got === expected.select("vec_id", "cid")
      .as[(Long, Long)].collect().toSet)
  }

  test("recall on an appended corpus: the maintained index returns " +
    "arrivals the frozen snapshot cannot") {
    val (dir, m) = freshIndex()
    val arrivals = vecs.filter(col("vec_id") >= 400)
    m.appendBatch(arrivals, 0L)
    // query WITH the arrival vectors themselves: the nearest neighbor of
    // an arrival is (cos 1.0) itself — a frozen index cannot return it
    val queries = vecs.filter(col("vec_id") >= 400 && col("vec_id") < 410)
    val (frozenLists, cents) = Ivf.load(spark, dir)
    val frozen = Ivf.topK(frozenLists, cents, queries, nprobe = 2, k = 3)
      .filter(col("vec_id") >= 400).count()
    assert(frozen === 0L, "frozen index returned vectors it never indexed")
    val (lists, c2) = m.load(spark)
    val served = Ivf.topK(lists, c2, queries, nprobe = 2, k = 3)
    // every query's top hit set includes SOME arrival (its own cohort is
    // indexed now); self-hits are excluded by topK's q_id != vec_id
    val withArrival = served.filter(col("vec_id") >= 400)
      .select("q_id").distinct().count()
    assert(withArrival > 0, "appended vectors never surfaced in the top-k")
  }

  test("replayed batch ids are idempotent; distinct ids accumulate") {
    val (_, m) = freshIndex()
    val b0 = vecs.filter(col("vec_id") >= 400 && col("vec_id") < 430)
    val b1 = vecs.filter(col("vec_id") >= 430 && col("vec_id") < 450)
    m.appendBatch(b0, 0L)
    m.appendBatch(b0, 0L) // foreachBatch re-delivery
    m.appendBatch(b1, 1L)
    // an idle trigger's empty batch lands nothing (and breaks nothing)
    assert(m.appendBatch(vecs.filter(col("vec_id") < 0), 2L) === 0L)
    val (lists, _) = m.load(spark)
    val appended = lists.filter(col("vec_id") >= 400)
    assert(appended.count() === 50L, "replay duplicated a batch")
    assert(appended.select("vec_id").distinct().count() === 50L)
  }

  test("live stream restart drill: appends apply exactly once") {
    val (_, m) = freshIndex()
    val root = tempDir("graft-st29-stream")
    val inDir = root.resolve("in"); val ckpt = root.resolve("ckpt").toString
    java.nio.file.Files.createDirectories(inDir)
    def drop(lo: Long, hi: Long): Unit =
      vecs.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("append").parquet(inDir.toString)
    def stream() = m.start(
      spark.readStream.schema(vecs.schema).parquet(inDir.toString), ckpt,
      triggerMs = 100)
    drop(400, 440)
    val q1 = stream(); try q1.processAllAvailable() finally q1.stop()
    drop(440, 470)
    val q2 = stream(); try q2.processAllAvailable() finally q2.stop()
    val (lists, _) = m.load(spark)
    assert(lists.filter(col("vec_id") >= 400).count() === 70L)
    assert(lists.filter(col("vec_id") >= 400)
      .select("vec_id").distinct().count() === 70L)
  }

  test("compaction folds appends into base: content identical, drift " +
    "preserved, folded-batch replays are no-ops") {
    val (dir, m) = freshIndex()
    m.appendBatch(vecs.filter(col("vec_id") >= 400 && col("vec_id") < 450), 0L)
    m.appendBatch(vecs.filter(col("vec_id") >= 450), 1L)
    assert(m.retrainDue(spark), "25% appended must trip the trigger first")
    val before = m.load(spark)._1.select("vec_id", "cid")
      .as[(Long, Long)].collect().toSet
    m.compactAppends(spark)
    val after = m.load(spark)._1.select("vec_id", "cid")
      .as[(Long, Long)].collect().toSet
    assert(after === before, "compaction changed index content")
    // base layout now holds everything; live append dirs are gone
    assert(Ivf.load(spark, dir)._1.count() === 500L)
    // drift measures against the last RETRAIN, so folding files must
    // not clear the retrain signal
    assert(m.retrainDue(spark),
      "compaction must not masquerade as a retrain in the drift report")
    // a checkpoint replay of a folded batch cannot double-count
    val n = m.appendBatch(
      vecs.filter(col("vec_id") >= 400 && col("vec_id") < 450), 0L)
    assert(n === 0L, "replay of a folded batch must be a no-op")
    assert(m.load(spark)._1.count() === 500L)
    assert(m.load(spark)._1.select("vec_id").distinct().count() === 500L)
  }

  test("compaction fold is content-idempotent on the vec_id identity") {
    val (_, m) = freshIndex()
    val b = vecs.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    m.appendBatch(b, 0L)
    m.compactAppends(spark)
    // the same VECTORS arrive again under a NEW batch id (an at-least-
    // once upstream re-send, not a checkpoint replay): the next fold
    // dedups on vec_id instead of double-counting
    m.appendBatch(b, 7L)
    m.compactAppends(spark)
    val lists = m.load(spark)._1
    assert(lists.filter(col("vec_id") >= 400).count() === 50L)
    assert(lists.select("vec_id").distinct().count() === lists.count())
  }

  test("drift trigger fires on appended mass and clears after retrain") {
    val (_, m) = freshIndex()
    assert(!m.retrainDue(spark), "fresh index must not demand a retrain")
    // 100 arrivals on a 400-vector base = 25% > the 20% global line
    m.appendBatch(vecs.filter(col("vec_id") >= 400), 0L)
    assert(m.retrainDue(spark), "25% appended mass must trip the trigger")
    val before = m.driftReport(spark)
      .agg(sum("appended_n")).head.getLong(0)
    assert(before === 100L)
    m.retrain(spark, iterations = 1)
    assert(!m.retrainDue(spark), "retrain must reset the drift baseline")
    // the rebuilt index holds the full corpus, appends dir cleared
    val (lists, cents) = m.load(spark)
    assert(lists.count() === 500L)
    assert(lists.select("vec_id").distinct().count() === 500L)
    // and the retrained index still serves: every vector's own id is
    // findable (self excluded, so probe its exact-duplicate cohort)
    val served = Ivf.topK(lists, cents,
      vecs.filter(col("vec_id") < 5), nprobe = 2, k = 3)
    assert(served.groupBy("q_id").count().count() === 5L)
  }
}
