package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The compact stdout record must fit the ~2000-char log tail whole. */
class BenchSpec extends AnyFunSuite {

  // the r19 sf0.1 medians in centiseconds (BENCH_r19.json), cycled to
  // the query count under test
  private val r19Centisec = ("73,42,127,86,74,56,40,35,47,69,40,62,26,43,50,72,65,33," +
    "71,124,54,44,67,56,17,43,89,41,38,46,37,49,83,40,37,19,47,63,59,105,99,75," +
    "103,70,40,43,25,90,49,62,45,34,50,36,85,55,17,40,26,18,25,37,56,21,37,18,54," +
    "36,10,21,174,34,28,23,13,66,71,14,23,7,52,54,11,14,11,11,12,7,37,59,145,77," +
    "34,62,78,56,22,20,22,25,27,7,46,34,36,18,15,50,29,8,11,41,41,40,43,62,32,55," +
    "15,19,64,36,48,54,30,170,34,18,21,61,54,225,151,58,46,68,31,48,79,12,42,82," +
    "69,67,10,41,69,49,125,55,10,65,91,46,31,40,108,92,117,78,53,21,29,66,30,24," +
    "17,75,51,16,68,127,77,35,61,41,81,22,31,16,24,71,48,26,35,19,49,30,13,55," +
    "101,39").split(",").map(_.toInt / 100.0)

  // every other value as recorded in the r19 sf0.1 line (the sf path one
  // char longer), with the optional keys switched on at their longest
  private def summary(nQueries: Int, optional: Boolean): Bench.Summary = {
    val slots = (0 until nQueries).map { i =>
      val median = r19Centisec(i % r19Centisec.length)
      Bench.Slot(f"q$i%03d_inventory_query", median, median * 0.8, 0.183, 32.0)
    }
    // every ladder rung lag-retried, the midpoint and its retry, the
    // record and its step-down confirm, each at its widest
    val rungs = Seq.fill(18)("[100000,0,139,29003,129420]").mkString("[", ",", "]")
    Bench.Summary(
      total = 95.799, ingestEps = 449154, ingestIoPre = "[200,7038,3657]",
      slots = slots,
      sectionsPass = """{"ingest":true,"concurrent":true,"freshness":true,""" +
        """"ivm":true,"speed_layer":true,"scale_soak":true,""" +
        """"scale_soak_100x":true,"curation":true}""",
      worstSlowdown = 1.453, gcSec8way = 0.0, waveP95 = 0.618, mvWaveP95 = 0.210,
      worst = """{"q":"q2_uniqueness","slowdown":1.453,"conc_sec":0.263,""" +
        """"seq_sec":0.181,"queue_sec":0.056,"exec_sec":0.207,""" +
        """"task_time_ratio":1.06,"rounds":[1.453,1.561],"verdict":"fair_share"}""",
      worstBrief = """{"q":"q2_uniqueness","verdict":"fair_share"}""",
      soak100 = if (optional) Seq(("j4_daily_business_metrics", 3.767, 0L, false),
        ("x15_dedup_clusters", 7.503, 0L, false),
        ("x1_dedup_exact", 34.657, 0L, false)) else Nil,
      speedMaxEps = if (optional) 10000 else -1,
      speedRungs = if (optional) rungs else "[]",
      speedWindow = if (optional) "underperformed_stamps" else "skipped",
      speedEps = if (optional) 9697 else -1, speedP95 = if (optional) 1.740 else -1,
      freshP95 = 2.315, freshAttempt1P95 = if (optional) Some(4.871) else None,
      ioPre = "[106,6060,32015]", ioPost = "[240,8559,9771]",
      cpuPre = "[692,21865]", cpuPost = "[702,22646]",
      detailPath = "/tmp/graft_bench.json", sfDir = "/data/testdata/sf0.1")
  }

  test("256 queries with every optional key fit in 1,900 chars, all medians kept") {
    val line = Bench.fitCompactLine(summary(256, optional = true))
    assert(line.length <= 1900, s"${line.length} chars:\n$line")
    implicit val formats: Formats = DefaultFormats
    val j = parse(line)
    assert((j \ "n_queries").extract[Int] == 256)
    assert((j \ "queries_centisec").extract[Seq[Int]].size == 256)
    assert((j \ "freshness_retried").extract[Boolean])
    assert((j \ "soak100_factors" \ "x15").extract[Double] == 7.503)
  }

  test("a line with room keeps five adjudicated slow slots and every rung") {
    val s = summary(192, optional = false)
    val line = Bench.fitCompactLine(s)
    assert(line == Bench.compactLine(s, 5, brief = false))
    implicit val formats: Formats = DefaultFormats
    val slowest = (parse(line) \ "queries_slowest").extract[Map[String, Seq[Double]]]
    assert(slowest.size == 5)
    assert(slowest.values.forall(_.size == 4))
  }
}
