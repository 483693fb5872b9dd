package graft.similarity

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"
  private lazy val vectors = Tables.load(spark, sf01, "embeddings")

  test("index build is deterministic across repartitionings") {
    val (idx1, c1) = Ivf.buildIndex(vectors, pmod(col("vec_id"), lit(10)), 1)
    val (idx2, c2) = Ivf.buildIndex(vectors.repartition(13),
      pmod(col("vec_id"), lit(10)), 1)
    val a1 = idx1.select("vec_id", "cid").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.get(1))).toSeq
    val a2 = idx2.select("vec_id", "cid").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.get(1))).toSeq
    assert(a1 === a2)
    assert(c1.orderBy("cid").collect().toSeq === c2.orderBy("cid").collect().toSeq)
  }

  test("Lloyd refinement does not degrade assignment quality") {
    val (idx, cents) = Ivf.buildIndex(vectors, pmod(col("vec_id"), lit(10)), 2)
    // every vector sits in exactly one list; lists cover the corpus
    assert(idx.count() === vectors.count())
    assert(idx.select("cid").distinct().count() <= 10)
    assert(cents.count() <= 10)
  }

  test("build leaves only the final round's checkpoints in the block manager") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (idx, cents) = Ivf.buildIndex(vectors, pmod(col("vec_id"), lit(10)), 3)
    // 3 Lloyd rounds checkpoint 8 frames; the 6 superseded ones must be
    // evicted eagerly, not parked until session end
    val during = sc.getPersistentRDDs.keySet -- before
    assert(during.size === 2,
      s"expected only the final pair persisted, found ids $during")
    Seq(idx, cents).foreach(graft.PlanCache.release(_))
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"final-pair eviction left RDDs persisted: $leaked")
  }

  test("saved index loads in list-partitioned layout and probes identically") {
    val dir = tempDir("graft-ivf").toString
    val (idx, cents) = Ivf.buildIndex(vectors, pmod(col("vec_id"), lit(10)), 1)
    Ivf.save(idx, cents, dir)
    val (idx2, cents2) = Ivf.load(spark, dir)
    // storage mirrors the index: one directory per inverted list
    val listDirs = new java.io.File(s"$dir/lists").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
    assert(listDirs.length === idx.select("cid").distinct().count())
    val queries = vectors.filter(col("vec_id") < 5)
    def probe(i: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
      Ivf.topK(i, c, queries, nprobe = 3, k = 5)
        .select("q_id", "vec_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(probe(idx2, cents2) === probe(idx, cents),
      "a loaded index must answer probes identically to the in-memory build")
    Seq(idx, cents).foreach(graft.PlanCache.release(_))
  }

  test("append grows a saved index without rebuild, probing as if assigned fresh") {
    val dir = tempDir("graft-ivf-app").toString
    val base = vectors.filter(col("vec_id") < 400)
    val batch = vectors.filter(col("vec_id") >= 400)
    val (idx, cents) = Ivf.buildIndex(base, pmod(col("vec_id"), lit(10)), 1)
    Ivf.save(idx, cents, dir)
    Ivf.append(spark, dir, batch)
    val (grown, gCents) = Ivf.load(spark, dir)
    // lists == old lists UNION assign(batch, centroids), nothing lost
    assert(grown.count() === vectors.count())
    val expected = idx.select("vec_id", "cid")
      .unionAll(Ivf.assign(batch, cents).select("vec_id", "cid"))
      .collect().map(r => (r.getLong(0), r.get(1).toString.toLong)).toSeq.sorted
    val got = grown.select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === expected)
    // probes on the grown index rank appended vectors identically to a
    // from-scratch assignment against the same centroids
    val queries = vectors.filter(col("vec_id") < 5)
    val fresh = idx.select("vec_id", "embedding", "cid")
      .unionAll(Ivf.assign(batch, cents).select("vec_id", "embedding", "cid"))
    def probe(i: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
      Ivf.topK(i.withColumn("cid", col("cid").cast("long")), cents, queries,
        nprobe = 3, k = 5)
        .select("q_id", "vec_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(probe(grown) === probe(fresh))
    val appendedInTopK = Ivf.topK(grown, gCents, queries, nprobe = 10, k = 5)
      .filter(col("vec_id") >= 400).count()
    assert(appendedInTopK > 0, "appended vectors must be probe-visible")
    Seq(idx, cents).foreach(graft.PlanCache.release(_))
  }

  test("probing more lists improves recall vs brute force") {
    val (idx, cents) = Ivf.buildIndex(vectors, pmod(col("vec_id"), lit(10)), 1)
    val queries = vectors.filter(col("vec_id") < 20)
    def hits(nprobe: Int): Set[(Long, Long)] =
      Ivf.topK(idx, cents, queries, nprobe, 5)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force = probing all lists
    val exact = hits(10)
    val narrow = hits(1)
    val wide = hits(4)
    val recallNarrow = narrow.intersect(exact).size.toDouble / exact.size
    val recallWide = wide.intersect(exact).size.toDouble / exact.size
    assert(recallWide >= recallNarrow)
    assert(recallWide >= 0.5, s"nprobe=4/10 recall too low: $recallWide")
    assert(exact.size === 20 * 5)
  }

  test("topKSweep slices equal topK per nprobe; recall@k is monotone in nprobe") {
    val (idx, cents) = Ivf.buildIndex(vectors, pmod(col("vec_id"), lit(10)), 1)
    val queries = vectors.filter(col("vec_id") < 12)
    val nprobes = Seq(1, 2, 4, 8)
    val sweep = Ivf.topKSweep(idx, cents, queries, nprobes, k = 5)
      .select("nprobe", "q_id", "vec_id", "rk").collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getInt(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    nprobes.foreach { np =>
      val single = Ivf.topK(idx, cents, queries, np, 5)
        .select("q_id", "vec_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
      assert(sweep(np) === single,
        s"sweep slice nprobe=$np diverges from the single probe")
    }
    // the quality-audit invariant x39 reports on: candidate lists only
    // grow with nprobe, and a true top-k member inside the probed lists
    // always survives the approx window — so recall never decreases
    val exact = Ivf.topK(idx, cents, queries, nprobe = 10, k = 5)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = nprobes.map { np =>
      sweep(np).map(t => (t._1, t._2)).toSet.intersect(exact).size
    }
    assert(recalls === recalls.sorted,
      s"recall@5 must be monotone in nprobe: $recalls")
    Seq(idx, cents).foreach(graft.PlanCache.release(_))
  }
}
