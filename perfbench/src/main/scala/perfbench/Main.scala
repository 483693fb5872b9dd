package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.Serialization

/** One timed operation. `dueNs` is the open-loop send time (0 in a closed
  * loop, where latency runs from `startNs`).
  */
final case class Op(kind: String, name: String, dueNs: Long, startNs: Long,
    endNs: Long, ok: Boolean, attrs: Map[String, Any] = Map.empty)

/** Run settings and the record every workload fills in. */
final class Ctx(val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val cores: Int = args("cores").toInt
  val work: Path = Paths.get(args("work")).toAbsolutePath
  val benchDir: Path = Paths.get(args("bench")).toAbsolutePath
  val trace = new Trace(args("trace") == "1", s"${workload}-${seed}-${System.currentTimeMillis()}")
  val setupS = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  @volatile var sessionS = 0.0
  @volatile var windowStartNs = 0L
  @volatile var windowEndNs = 0L

  /** Wall-clock ms of a `System.nanoTime` instant (stream progress reports
    * carry wall-clock trigger times).
    */
  private val clockOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  def wallMs(ns: Long): Long = clockOffsetMs + ns / 1000000L

  lazy val spark: SparkSession = {
    val t0 = System.nanoTime()
    val s = graft.GraftSession
      .builder(master = s"local[$cores]", appName = s"perfbench-$workload",
        shufflePartitions = cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (trace.enabled) {
      s.sparkContext.addSparkListener(trace.listener)
      s.streams.addListener(trace.streamListener)
    }
    sessionS = elapsedS(t0)
    s
  }

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    trace.span(spark.sparkContext, name, attrs: _*)(body)

  def op(o: Op): Unit = ops.add(o)

  /** Time `body` as one closed-loop operation; a throw counts as failed. */
  def timed(kind: String, name: String, attrs: (String, Any)*)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        false
    }
    op(Op(kind, name, 0L, t0, System.nanoTime(), ok, attrs.toMap))
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
    checks += ((name, ok, detail))
  }

  def elapsedS(sinceNs: Long): Double = (System.nanoTime() - sinceNs) / 1e9

  /** Write the run record (and, when traced, spans and stream progress). */
  def writeRecord(): Unit = {
    Files.createDirectories(work)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "cores" -> cores, "traced" -> trace.enabled, "run" -> trace.runId,
      "session_s" -> sessionS, "setup_s" -> setupS.toSeq,
      "window_start_ns" -> windowStartNs, "window_end_ns" -> windowEndNs,
      "window_start_ms" -> wallMs(windowStartNs), "window_end_ms" -> wallMs(windowEndNs),
      "peak_rss_mb" -> Main.peakRssMb,
      "gc_s" -> Main.gcSeconds,
      "extra" -> extra.toMap,
      "checks" -> checks.toSeq.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "ops" -> ops.asScala.toSeq.sortBy(_.startNs).map { o =>
        Map("kind" -> o.kind, "name" -> o.name, "due_ns" -> o.dueNs,
          "start_ns" -> o.startNs, "end_ns" -> o.endNs, "ok" -> o.ok, "attrs" -> o.attrs)
      })
    Files.writeString(work.resolve("record.json"), Main.json(record))
    if (trace.enabled) {
      Files.write(work.resolve("spans.jsonl"), trace.spanLines.asJava)
      Files.write(work.resolve("progress.jsonl"), trace.progressLines.asJava)
    }
  }
}

/** Benchmark entry point. Arguments are `--key value` pairs: workload,
  * seed, seconds, trace (0|1), cores, work (scratch directory for this
  * run) and bench (the benchmark's own directory, for its frozen inputs).
  */
object Main {
  private implicit val formats: Formats = DefaultFormats

  /** JSON text of nested maps, sequences and plain values. */
  def json(v: Any): String = Serialization.write(Extraction.decompose(v))

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val ctx = new Ctx(parseArgs(args))
    Files.createDirectories(ctx.work)
    try {
      ctx.workload match {
        case "batch_hot" => BatchHot.run(ctx)
        case "cdc_lambda" => CdcLambda.run(ctx)
        case "speed_stream" => SpeedStream.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.extra.getOrElseUpdate("check_s", ctx.elapsedS(ctx.windowEndNs))
      ctx.writeRecord()
    } finally ctx.spark.stop()
  }
}
