package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** x53 quality propagation: differential check against an in-memory
  * reference of the exact-integer recurrence, a planted hub, an isolated
  * fixed point, and a convergence pin.
  */
class QualityPropagationSpec extends SparkSpec {
  import spark.implicits._

  /** Single-threaded reference of the propagateQuality recurrence. */
  private def reference(edges: Seq[(Long, Long)], q0: Map[Long, Long],
      rounds: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) } ++
      q0.keys.map(n => n -> n)
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var q = q0
    for (_ <- 1 to rounds) {
      val inc = und.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => q(u) / deg(u) }.sum
      }
      q = q0.map { case (n, s) => n -> (15L * s + 85L * inc.getOrElse(n, 0L)) / 100L }
    }
    q
  }

  private def distributed(edges: Seq[(Long, Long)], q0: Map[Long, Long],
      rounds: Int): Map[Long, Long] = {
    val pairs = edges.toDF("doc_a", "doc_b")
    val seeds = q0.toSeq.toDF("node", "q0")
    val und: DataFrame = pairs
      .select($"doc_a".as("node"), $"doc_b".as("nbr"))
      .union(pairs.select($"doc_b".as("node"), $"doc_a".as("nbr")))
      .union(seeds.select($"node", $"node".as("nbr")))
    ClusterQueries.propagateQuality(und, seeds, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches the in-memory reference on a mixed graph, exactly") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (5L, 6L))
    val q0 = Map(1L -> 910000L, 2L -> 130000L, 3L -> 550000L,
      4L -> 200000L, 5L -> 730000L, 6L -> 90000L, 7L -> 480000L)
    for (r <- Seq(1, 5, 12)) {
      assert(distributed(edges, q0, r) == reference(edges, q0, r),
        s"diverged at rounds=$r")
    }
  }

  test("an isolated node is an exact fixed point at its seed") {
    val q = distributed(Seq((1L, 2L)), Map(1L -> 500000L, 2L -> 500000L,
      9L -> 777777L), rounds = 8)
    assert(q(9L) == 777777L)
  }

  test("a planted high-quality hub lifts its spokes; spam drags the hub") {
    // star: hub 1 (q=900k) with 5 zero-quality spokes
    val edges = (2L to 6L).map(s => (1L, s))
    val q0 = Map(1L -> 900000L) ++ (2L to 6L).map(_ -> 0L)
    val q = distributed(edges, q0, rounds = 5)
    assert((2L to 6L).forall(s => q(s) > 50000L),
      s"spokes not lifted by the hub: $q")    // rescued well above seed 0
    assert(q(1L) < 900000L, s"hub unaffected by zero-quality spokes: $q")
    assert(q(1L) > q(2L), "hub should still outrank its spokes")
    // and the exact values match the recurrence, not just the direction
    assert(q == reference(edges, q0, 5))
  }

  test("rounds = 0 is refused, not answered from a dropped checkpoint") {
    intercept[IllegalArgumentException] {
      distributed(Seq((1L, 2L)), Map(1L -> 500000L, 2L -> 500000L), rounds = 0)
    }
  }

  test("converges: rounds 10 and 14 agree (integer fixed point reached)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L))
    val q0 = Map(1L -> 800000L, 2L -> 100000L, 3L -> 400000L,
      4L -> 950000L, 5L -> 50000L)
    assert(reference(edges, q0, 10) == reference(edges, q0, 14))
    assert(distributed(edges, q0, 10) == reference(edges, q0, 10))
  }
}
