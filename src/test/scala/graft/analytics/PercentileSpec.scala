package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** A13's histogram percentiles vs Spark's buffering builtin, and the
  * approx path's error bound — the correctness half of the "no per-group
  * value buffer at 100 TB" redesign.
  */
class PercentileSpec extends SparkSpec {

  test("histogram percentiles match Spark's builtin exact percentile") {
    val viaHistogram = RelationalQueries.a13Percentiles.run(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val viaBuiltin = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))").as("ps"))
      .select(col("l_returnflag"), col("n"),
        round(col("ps").getItem(0), 4), round(col("ps").getItem(1), 4),
        round(col("ps").getItem(2), 4))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(viaHistogram === viaBuiltin)
  }

  test("random datasets: histogram selection matches builtin percentile exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    (1 to 6).foreach { c =>
      val nGroups = rnd.nextInt(4) + 1
      val n = rnd.nextInt(500) + 1
      // mix of magnitudes, negatives, and deliberate ties
      val data = (0 until n).map { _ =>
        val g = s"g${rnd.nextInt(nGroups)}"
        val v = rnd.nextInt(4) match {
          case 0 => rnd.nextDouble() * 1e6
          case 1 => -rnd.nextDouble() * 100
          case 2 => rnd.nextInt(10).toDouble // ties
          case _ => rnd.nextGaussian() * 1e-3
        }
        (g, v)
      }
      val df = data.toDF("g", "v")
      val ps = Seq(0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90")
      val ours = graft.operators.Percentiles.exact(df, "g", "v", ps)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), ps.indices.map(i => math.round(r.getDouble(2 + i) * 1e6))))
        .toMap
      val builtin = df.groupBy("g")
        .agg(count(lit(1)).as("n"),
          expr("percentile(v, array(0.25, 0.5, 0.9))").as("q"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), ps.indices.map(i =>
            math.round(r.getSeq[Double](2)(i) * 1e6))))
        .toMap
      assert(ours === builtin, s"case $c diverged (nGroups=$nGroups n=$n)")
    }
  }

  test("NULL group keys and NULL values follow SQL semantics") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Some("a"), Some(1.0)), (Some("a"), Some(3.0)), (Some("a"), None),
      (None, Some(10.0)), (None, Some(20.0)),
      (Some("allnull"), None))
      .toDF("g", "v")
    val out = graft.operators.Percentiles
      .exact(df, "g", "v", Seq(0.5 -> "p50"))
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // NULL values ignored: n counts non-null only; NULL group emitted;
    // all-NULL group omitted (documented contract)
    assert(out(Some("a")) === ((2L, 2.0)))
    assert(out(None) === ((2L, 15.0)))
    assert(!out.contains(Some("allnull")))
  }

  test("20k groups: exact selection scales without a full-histogram collect") {
    import spark.implicits._
    // per-user-style grouping: the full groups×bins histogram would be
    // ~1M boxed driver map entries; the distributed cumulation must
    // deliver only located-bin metadata (groups × percentile bounds).
    // Pinned by task-result bytes: everything collected across the whole
    // call must stay ~located+subset-sized.
    val nGroups = 20000
    val rnd = new scala.util.Random(20260813L)
    val data = (0 until nGroups).flatMap { g =>
      (0 until 50).map(_ => (s"u$g", rnd.nextDouble() * 1e9 - 5e8))
    }
    val df = data.toDF("g", "v").repartition(32)
    val ((out, outPlan), totals) =
      graft.metrics.QueryMetrics.of(spark).measure("percentile-20k-groups") {
        val res = graft.operators.Percentiles
          .exact(df, "g", "v", Seq(0.5 -> "p50", 0.95 -> "p95"))
        (res.collect(), res.queryExecution.executedPlan.toString)
      }
    val resultBytes = totals.resultBytes
    assert(out.length === nGroups)
    // the result must be a DISTRIBUTED frame, not a driver-built literal:
    // a parallelize(rows) output (the old assembly) plans as a
    // `Scan ExistingRDD` of driver memory — O(groups) Rows held on the
    // driver before any action runs. The fixture's own LocalTableScan
    // (test data from a local Seq) sits deeper in the cached lineage and
    // is fine; the OUTPUT must come from the persisted distributed
    // assembly (InMemoryTableScan), with no ExistingRDD anywhere.
    assert(outPlan.contains("InMemoryTableScan") &&
      !outPlan.contains("Scan ExistingRDD"),
      s"percentile output is a driver-materialized literal:\n$outPlan")
    // ground truth on a deterministic sample of groups
    val sample = (0 until nGroups by 997).map(g => s"u$g").toSet
    val builtin = df.filter(col("g").isin(sample.toSeq: _*)).groupBy("g")
      .agg(expr("percentile(v, array(0.5, 0.95))").as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    out.filter(r => sample(r.getString(0))).foreach { r =>
      val q = builtin(r.getString(0))
      assert(math.abs(r.getDouble(2) - q(0)) < 1e-6 &&
        math.abs(r.getDouble(3) - q(1)) < 1e-6, s"group ${r.getString(0)}")
    }
    // driver-received bytes across ALL jobs of the call: located rows
    // (20k×4) + refinement subset (~1 row/bin × hot bins) + result —
    // far below the ~1M-entry histogram a driver-side fold would ship
    val mb = resultBytes / 1e6
    assert(mb < 40.0, f"driver result bytes $mb%.1f MB — histogram leak?")
  }

  test("percentile_approx lands within 1% of exact on every group") {
    val verdicts = RelationalQueries.a13bPercentilesApprox.run(spark, sfDir)
      .collect()
    assert(verdicts.length === 3)
    verdicts.foreach { r =>
      assert(Seq(2, 3, 4).forall(i => r.getLong(i) === 1L),
        s"approx percentile out of 1% tolerance for ${r.getString(0)}: $r")
    }
  }
}
