package graft.tools

import graft.{Bench, GraftSession}

/** Manual deep-soak spot check (not driver-invoked): replicate the sf dir
  * N× with [[ScaleCorpus]] and record, for a named query list, the same
  * work-ratio instrumentation as the bench's 10× scale_soak
  * ([[graft.Bench.runMeasured]]) — rows into the plan, shuffle records,
  * spill, wall — at an arbitrary replica count.
  * Exists to answer the 100× extrapolation question with a measurement:
  * work ratios ~N with wall factors ≪ N and zero spill close the
  * linear-scaling argument one order of magnitude above the bench.
  *
  * `runMain graft.tools.SoakSpot <sfDir> <replicas> <name1,name2,...>`
  */
object SoakSpot {
  def main(args: Array[String]): Unit = {
    val (sfDir, replicas, names) = (args(0), args(1).toInt,
      args(2).split(",").toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", "graft-soakspot",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = graft.metrics.QueryMetrics.of(spark)

    val soakDir = java.nio.file.Files.createTempDirectory("graft-soakspot").toString
    val tGen = System.nanoTime()
    ScaleCorpus.generate(spark, sfDir, soakDir, replicas = replicas)
    val genSec = (System.nanoTime() - tGen) / 1e9
    println(f"[soakspot] generated ${replicas}x corpus in $genSec%.1f s at $soakDir")

    def measure(n: String, dir: String): Bench.SoakRun = {
      // memo-cold every run: x15-family cluster builds memoize a
      // truncated frame per (session, dir) — a warm re-quote would
      // measure the cache hit, not the build, and its truncated lineage
      // under-reports rows/shuffle work (observed: warm 0.46 s, work
      // ratio 0.35 at 100x). Clearing makes "warm" mean JIT-warm but
      // memo-cold: the honest steady-state build cost.
      graft.PlanCache.clear(spark)
      Bench.runMeasured(spark, metrics, n, dir, cpus.toInt)
    }
    import Bench.{k3, ratio}
    names.foreach { n =>
      val base = measure(n, sfDir)       // warm sf-dir quote, same phase
      val cold = measure(n, soakDir)
      val warm = measure(n, soakDir)
      println(s"""SOAKSPOT {"query":"$n","replicas":$replicas,""" +
        s""""base_sec":${k3(base.sec)},"cold_sec":${k3(cold.sec)},""" +
        s""""warm_sec":${k3(warm.sec)},""" +
        s""""wall_factor":${ratio(warm.sec, base.sec)},""" +
        s""""rows_in_base":${base.rowsIn},"rows_in_scaled":${warm.rowsIn},""" +
        s""""rows_in_ratio":${ratio(warm.rowsIn.toDouble, base.rowsIn.toDouble)},""" +
        s""""shuffle_records_base":${base.shufRecords},""" +
        s""""shuffle_records_scaled":${warm.shufRecords},""" +
        s""""shuffle_records_ratio":${
          ratio(warm.shufRecords.toDouble, base.shufRecords.toDouble)},""" +
        s""""spill_mb":${warm.spillMb}}""")
    }
    Bench.rmTree(soakDir)
    graft.PlanCache.clear(spark)
    spark.stop()
  }
}
