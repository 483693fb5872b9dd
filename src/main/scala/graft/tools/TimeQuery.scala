package graft.tools

import graft.{Bench, GraftSession, SparkEntry}

/** Single-query timing harness for fast perf iteration: runs the named
  * inventory queries against a sf dir with the same noop-write forcing
  * and warmup discipline as [[graft.Bench]], without paying for the full
  * inventory.
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> <name1,name2,...> [runs]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", "graft-timequery",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ad-hoc session confs for A/B runs: SPARK_GRAFT_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
        }
      })
    // scratch-mount AND cpu health stamps: timings from a degraded window
    // are discounted, not believed (the bench's probe discipline)
    println(s"[timequery] io_probe_pre: ${graft.IoProbe.run().toJsonCompact}")
    println(s"[timequery] cpu_probe_pre: ${graft.CpuProbe.run().toJsonCompact}")
    Bench.force(SparkEntry.queries("j4_daily_business_metrics")(spark, sfDir)) // warmup
    names.foreach { n =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        Bench.force(SparkEntry.queries(n)(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timequery] $n: median ${times.sorted.apply(times.size / 2)}%.3f s " +
        times.map(t => f"$t%.3f").mkString("(", ", ", ")"))
    }
    println(s"[timequery] io_probe_post: ${graft.IoProbe.run().toJsonCompact}")
    println(s"[timequery] cpu_probe_post: ${graft.CpuProbe.run().toJsonCompact}")
    spark.stop()
  }
}
