package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.metrics.QueryMetrics

/** Per-operator profile of a named inventory query (not driver-invoked):
  * runs the query through the bench's noop-write forcing, then walks the
  * EXECUTED plan printing every operator with its populated SQL metrics
  * (output rows, codegen/agg/sort/shuffle times, bytes) — the local-mode
  * substitute for the Spark UI's SQL tab (spark.ui is off in this env).
  *
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <name1,name2,...> [runs]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", "graft-profile",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = QueryMetrics.of(spark)

    Bench.force(SparkEntry.queries("j4_daily_business_metrics")(spark, sfDir)) // warmup
    names.foreach { n =>
      (1 to runs).foreach { r =>
        val (wall, m) = metrics.measure(s"profile-$n-$r") {
          val t0 = System.nanoTime()
          Bench.force(SparkEntry.queries(n)(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[profile] $n run$r wall=$wall%.3f s taskSec=${m.runMs / 1000.0}%.2f " +
          f"tasks=${m.tasks} shufRec=${m.shuffleWriteRecords} " +
          f"shufMB=${m.shuffleWriteBytes / 1048576.0}%.1f")
        if (r == runs) m.lastQe.foreach { qe =>
          QueryMetrics.nodes(qe.executedPlan).foreach { case (node, d) =>
            val ms = node.metrics.toSeq
              .filter(_._2.value > 0)
              .sortBy(_._1)
              .map { case (k, m) => s"$k=${m.value}" }
            if (ms.nonEmpty)
              println("  " + ("  " * d) + node.nodeName + ": " + ms.mkString(", "))
            else
              println("  " + ("  " * d) + node.nodeName)
          }
        }
      }
    }
    spark.stop()
  }
}
