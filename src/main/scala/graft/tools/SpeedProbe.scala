package graft.tools

import graft.GraftSession

/** Manual speed-layer capacity probe (not driver-invoked): exercise
  * [[graft.streaming.SustainedLoad]] without paying for a full bench run.
  *
  *  - `runMain graft.tools.SpeedProbe <eps> <seconds>` — one run at a
  *    fixed offered rate, JSON (with per-consumer utilization) to stdout.
  *  - `runMain graft.tools.SpeedProbe sweep [probeSec] [recordSec]` — the
  *    same ladder sweep the bench records, with overridable windows for
  *    fast iteration (defaults 10 s probes, 30 s record, no overload).
  */
object SpeedProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(s"local[$cpus]", "graft-speed-probe",
      shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("graft-speed-probe").toString
    val json = args.headOption match {
      case Some("sweep") =>
        val probeSec = args.lift(1).map(_.toInt).getOrElse(10)
        val recordSec = args.lift(2).map(_.toInt).getOrElse(30)
        graft.streaming.SustainedLoad.sweep(spark, dir,
          ladderEps = Seq(10000, 25000, 40000, 55000, 70000, 85000, 100000),
          probeSec = probeSec, recordSec = recordSec,
          overloadEps = 0).toJson
      case Some(eps) =>
        val dur = args.lift(1).map(_.toInt).getOrElse(15)
        graft.streaming.SustainedLoad.run(spark, dir,
          targetEps = eps.toInt, durationSec = dur).toJson
      case None =>
        sys.error("usage: SpeedProbe <eps> <seconds> | SpeedProbe sweep [probeSec] [recordSec]")
    }
    spark.stop()
    println(json)
  }
}
