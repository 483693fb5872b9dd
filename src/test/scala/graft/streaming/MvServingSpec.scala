package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MV-served dashboard path: merged MV tables must equal the batch
  * aggregates they cache (so a dashboard served from the MV sees exactly
  * what a fact-table scan would), including after several update-mode
  * snapshot appends where only the NEWEST snapshot per group may win.
  */
class MvServingSpec extends SparkSpec {

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  test("merged MVs equal their batch aggregates after multi-batch appends") {
    val base = tempDir("graft-mv-spec").toString
    val builders = MvServing.mvBuilders(spark, sfDir)
    // batch 0: a stale snapshot with wrong values in every group — the
    // cumulative re-emission an update-mode stream produced mid-flight.
    // Merge-on-read must discard ALL of it in favor of batch 1.
    val staleCol = Map("funnel" -> "n_events", "tier" -> "n_events",
      "product" -> "n_views", "hourly" -> "n_records")
    MvServing.mvKeys.foreach { case (name, _) =>
      val stale = builders(name).withColumn(staleCol(name), lit(-1L))
      StreamingAggs.appendPartials(stale, 0, s"$base/$name")
    }
    // batch 1: the current full snapshot — must win for every group
    val mvs = MvServing.materialize(spark, sfDir, base, batchId = 1)
    try {
      assert(canon(mvs.funnel) === canon(builders("funnel")))
      assert(canon(mvs.tier) === canon(builders("tier")))
      assert(canon(mvs.product) === canon(builders("product")))
      assert(canon(mvs.hourly) === canon(builders("hourly")))
    } finally MvServing.release(mvs)
  }

  test("dashboards served from MVs equal the same rollups over fact scans") {
    val base = tempDir("graft-mv-dash").toString
    val mvs = MvServing.materialize(spark, sfDir, base)
    try {
      // a freshly-built (uncached, un-merged) MV set is the fact-scan truth
      val builders = MvServing.mvBuilders(spark, sfDir)
      val truth = MvServing.Mvs(builders("funnel"), builders("tier"),
        builders("product"), builders("hourly"))
      val served = MvServing.dashboards(mvs).toMap
      val direct = MvServing.dashboards(truth).toMap
      MvServing.dashboards(mvs).foreach { case (name, _) =>
        assert(canon(served(name)()) === canon(direct(name)()),
          s"dashboard $name diverges from the fact-scan rollup")
      }
    } finally MvServing.release(mvs)
  }

  test("serving queries never scan the fact table") {
    val base = tempDir("graft-mv-plan").toString
    val mvs = MvServing.materialize(spark, sfDir, base)
    try {
      MvServing.dashboards(mvs).foreach { case (name, mk) =>
        val plan = mk().queryExecution.executedPlan.toString
        assert(!plan.contains("events.parquet"),
          s"dashboard $name reads the fact table:\n$plan")
      }
    } finally MvServing.release(mvs)
  }
}
