package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected-component propagation: pointer-jumping convergence on
  * pathological chains, and incremental merge ≡ full recompute.
  */
class ClusterSpec extends SparkSpec {

  import spark.implicits._

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("node").cast("long"), col("lbl").cast("long"))
      .as[(Long, Long)].collect().toMap

  test("adversarial 500-node chain converges via pointer jumping, in O(log D) rounds") {
    // path graph 0-1-2-...-499: diameter 499. Plain min-label propagation
    // needs ~499 rounds (the old cap of 20 crashed); pointer jumping
    // halves label chains per round after the plain-round prefix.
    val edges = spark.range(0, 499)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val und = edges
      .select(col("doc_a").as("node"), col("doc_b").as("nbr"))
      .union(edges.select(col("doc_b").as("node"), col("doc_a").as("nbr")))
    val seeds = und.select("node").distinct().withColumn("lbl", col("node"))
    val (labels, rounds) = ClusterQueries.propagate(und, seeds)
    val lm = labelMap(labels)
    assert(lm.size == 500)
    assert(lm.values.forall(_ == 0L), "every node must label to the chain minimum")
    // 8 plain rounds + ~log2(499) jumping rounds + slack; far below the
    // 64-round backstop (and provably below the old 20-round crash point)
    assert(rounds <= 30, s"expected O(log D) convergence, took $rounds rounds")
    graft.PlanCache.release(labels)
  }

  test("incremental merge equals full recompute and converges in overlay-diameter rounds") {
    // history: {1,2} and {3,4} and {10,11,12}; new batch bridges 2-3
    // (merging two old components), links 12-13 (grows one), and adds a
    // brand-new component {20,21}
    val oldEdges = Seq((1L, 2L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("doc_a", "doc_b")
    val newEdges = Seq((2L, 3L), (12L, 13L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val oldLabels = ClusterQueries.connectedComponents(oldEdges)
    val (merged, rounds) = ClusterQueries.mergeIncremental(oldLabels, newEdges)
    val lm = labelMap(merged)
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(lm == expected)
    // full recompute over the union must agree (min-label is
    // order-insensitive) — the x18 oracle's exact claim
    val full = labelMap(
      ClusterQueries.connectedComponents(oldEdges.union(newEdges)))
    assert(lm == full)
    // old components re-enter as stars (diameter ≤ 2) so the merge
    // converges in ~diameter(new overlay) + 2 rounds, not corpus diameter
    assert(rounds <= 6, s"incremental merge took $rounds rounds")
    Seq(oldLabels, merged).foreach(graft.PlanCache.release(_))
  }

  test("merge keeps untouched components' labels (status audit semantics)") {
    val oldEdges = Seq((5L, 6L), (7L, 8L)).toDF("doc_a", "doc_b")
    val newEdges = Seq((8L, 9L)).toDF("doc_a", "doc_b")
    val oldLabels = ClusterQueries.connectedComponents(oldEdges)
    val (merged, _) = ClusterQueries.mergeIncremental(oldLabels, newEdges)
    val lm = labelMap(merged)
    assert(lm == Map(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
    Seq(oldLabels, merged).foreach(graft.PlanCache.release(_))
  }

  test("x18 build pins exactly the audit frame — build intermediates evicted") {
    // a fresh (session, dir) key forces a real build; everything the
    // build truncates (pairs, und frames, propagation rounds,
    // oldLabels, merged) must be unpersisted once the audit frame is
    // materialized, leaving a persistent-RDD delta of exactly 1.
    // Warm the shared x3 signature cache first — it is a deliberate
    // cross-query PlanCache entry, not part of x18's build.
    // Evict any memoized x18 frame (another suite may have run the query
    // already — the inventory spec does), so the build below is COLD and
    // the pinned-RDD delta is meaningful in any suite order.
    DedupQueries.simHashPairs(spark, sfDir, DedupQueries.BAND_DF_CAP).count()
    graft.PlanCache.clearMatching(spark, s"x18/$sfDir")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = ClusterQueries.x18ClustersIncremental.run(spark, sfDir)
    assert(out.count() > 0)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size == 1,
      s"x18 build should pin only the audit frame, found ${leaked.size} RDDs")
  }
}
