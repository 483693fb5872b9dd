package perfbench

import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.streaming.{Events, PinnedMv, Sessionization, StreamingAggs}

/** `speed_stream`: open loop, one producer thread. Seeded JSON event files
  * are staged first, then moved into the source directory on a fixed
  * schedule. The pipeline is assembled from the streaming module's public
  * operators: parse → validation split → `Events.deduped` →
  * {`StreamingAggs.funnel` → `PinnedMv`, `Sessionization.sessionize`,
  * DLQ sink}. A poller times each file from its due time until its events
  * show in `PinnedMv.sumLong("n_events")`.
  */
object SpeedStream {
  val EventsPerSecond = 2500
  val EventsPerFile = 250 // a multiple of 50: every 50th line is invalid
  val DuplicateEvery = 97 // a valid line at an index divisible by 97 repeats the one before
  val TriggerMs = 1000L
  val DrainTimeoutS = 60.0

  private val BaseMs = 1767225600000L // 2026-01-01T00:00:00Z
  private val Tiers = Array("free", "basic", "premium", "enterprise")

  /** Lines of file `f` and the ids of its distinct valid events. Invalid
    * lines carry an unknown event type; duplicates repeat the previous
    * valid line of the same file verbatim.
    */
  def fileLines(seed: Long, f: Int): (Seq[String], Set[String]) = {
    val rnd = new scala.util.Random(seed * 1000003L + f)
    val lines = Array.newBuilder[String]
    val ids = Set.newBuilder[String]
    var last: String = null
    for (i <- 0 until EventsPerFile) {
      val n = f.toLong * EventsPerFile + i
      if (i % 50 == 0) {
        lines += s"""{"event_id":"e$n","user_id":${rnd.nextInt(2000)},"session_id":"s0",""" +
          s""""event_type":"bogus","ts":"${ts(f, i)}","user_tier":"free","properties":"{}"}"""
      } else if (last != null && i % DuplicateEvery == 0) {
        lines += last
      } else {
        val user = rnd.nextInt(2000)
        val etype = Events.eventTypes(rnd.nextInt(Events.eventTypes.size))
        val line = s"""{"event_id":"e$n","user_id":$user,"session_id":"s$user",""" +
          s""""event_type":"$etype","ts":"${ts(f, i)}","user_tier":"${Tiers(user % 4)}",""" +
          s""""properties":"{\\"amount\\": ${10 + rnd.nextInt(90)}}"}"""
        lines += line
        ids += s"e$n"
        last = line
      }
    }
    (lines.result().toSeq, ids.result())
  }

  // event time advances 200 ms per file, with ms jitter inside it
  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
  private def ts(f: Int, i: Int): String =
    TsFormat.format(java.time.Instant.ofEpochMilli(BaseMs + f * 200L + i % 200))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val nFiles = 1 + math.max(1, math.ceil(EventsPerSecond * ctx.seconds / EventsPerFile).toInt)
    val intervalNs = EventsPerFile * 1000000000L / EventsPerSecond
    val stage = Files.createDirectories(ctx.work.resolve("stage"))
    val in = Files.createDirectories(ctx.work.resolve("in"))
    val out = ctx.work.resolve("out")

    // ---- set-up: stage files, start the pipeline, warm it with file 0 ----
    val cumValid = new Array[Long](nFiles) // distinct valid events through file k
    var total = 0L
    for (f <- 0 until nFiles) {
      val (lines, ids) = fileLines(ctx.seed, f)
      Files.write(stage.resolve(f"$f%05d.json"), lines.asJava)
      total += ids.size
      cumValid(f) = total
    }
    val mv = new PinnedMv(Seq("window", "user_tier"), Some(out.resolve("mv").toString))
    def raw: DataFrame = spark.readStream.text(in.toString)
    def start(name: String, df: DataFrame, mode: String)(
        sink: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =>
          org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): StreamingQuery =
      sink(df.writeStream.queryName(name).outputMode(mode)
        .option("checkpointLocation", out.resolve(s"ckpt/$name").toString)
        .trigger(Trigger.ProcessingTime(TriggerMs)))
        .start()
    val queries = Seq(
      start("funnel", StreamingAggs.funnel(Events.deduped(Events.validPruned(
        Events.parsePruned(raw, Seq("session_id", "user_tier")))), watermark = None), "update") {
        _.foreachBatch { (b: DataFrame, id: Long) =>
          ctx.span("mv_update", "batch" -> id)(mv.update(b, id))
        }
      },
      start("sessions", Sessionization.sessionize(
        Events.deduped(Events.validPruned(Events.parsePruned(raw, Seq("user_tier", "properties")))),
        timeoutMs = 60000, watermark = None, outputMode = OutputMode.Append).toDF(), "append") {
        _.format("parquet").option("path", out.resolve("sessions").toString)
      },
      start("dlq", Events.invalid(Events.parsePruned(raw, Nil)), "append") {
        _.format("parquet").option("path", out.resolve("dlq").toString)
      })

    val visibleNs = new Array[Long](nFiles)
    val dueNs = new Array[Long](nFiles)
    val landedNs = new Array[Long](nFiles)
    try {
      Files.move(stage.resolve("00000.json"), in.resolve("00000.json"), StandardCopyOption.ATOMIC_MOVE)
      val warmDeadline = System.nanoTime() + 120L * 1000000000L
      while (mv.sumLong("n_events") < cumValid(0) && System.nanoTime() < warmDeadline)
        Thread.sleep(5)
      ctx.setupS += ctx.elapsedS(t0)

      // ---- poller: record each file's visibility crossing ----
      @volatile var stop = false
      val poller = new Thread(() => {
        var next = 1
        while (!stop && next < nFiles) {
          val seen = mv.sumLong("n_events")
          val now = System.nanoTime()
          while (next < nFiles && seen >= cumValid(next)) { visibleNs(next) = now; next += 1 }
          Thread.sleep(2)
        }
      }, "perfbench-poller")
      poller.start()

      // ---- producer: one atomic move per due time ----
      ctx.windowStartNs = System.nanoTime()
      for (k <- 1 until nFiles) {
        val due = ctx.windowStartNs + (k - 1) * intervalNs
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        Files.move(stage.resolve(f"$k%05d.json"), in.resolve(f"$k%05d.json"),
          StandardCopyOption.ATOMIC_MOVE)
        dueNs(k) = due
        landedNs(k) = System.nanoTime()
      }
      val drainEnd = System.nanoTime() + (DrainTimeoutS * 1e9).toLong
      while (visibleNs(nFiles - 1) == 0L && System.nanoTime() < drainEnd) Thread.sleep(5)
      stop = true
      poller.join()
      ctx.windowEndNs = System.nanoTime()
      for (k <- 1 until nFiles)
        ctx.op(Op("file", f"$k%05d", dueNs(k), landedNs(k),
          if (visibleNs(k) > 0) visibleNs(k) else ctx.windowEndNs, visibleNs(k) > 0,
          Map("valid_events" -> (cumValid(k) - cumValid(k - 1)))))

      // ---- correctness, outside the window ----
      queries.foreach(_.processAllAvailable())
      val served = mv.sumLong("n_events")
      ctx.check("served_events_equal_valid", served == total, s"served=$served valid=$total")
      val dlq = spark.read.parquet(out.resolve("dlq").toString).count()
      val sent = nFiles.toLong * EventsPerFile
      ctx.check("dlq_is_2_percent", dlq * 50 == sent, s"dlq=$dlq sent=$sent")
      ctx.extra("files") = nFiles - 1
      ctx.extra("valid_events") = total - cumValid(0)
    } finally {
      queries.foreach(q => try q.stop() catch { case _: Exception => () })
      mv.close()
    }
  }
}
