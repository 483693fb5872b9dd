package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Sustained-throughput harness for the assembled speed layer: drive a
  * constant event rate for a fixed window through the REAL pipeline —
  * JSON parse → validation split (DLQ) → watermarked dedup → {funnel MV
  * merge, sessionization} — and measure achieved events/sec plus the
  * end-to-end landed→dashboard-visible latency distribution under that
  * load.
  *
  * The reference's speed-layer acceptance is 10k events/s sustained with
  * < 5 s ingestion-to-dashboard (`realtime-analytics-speed-layer/
  * requirements.md:18,31`; ingestion `tasks.md:182,218`). [[Freshness]]
  * measures the latency of an *idle* pipeline per arriving batch; this
  * harness measures it while the pipeline is saturated, which is the
  * number a capacity plan actually needs.
  *
  * Method: all event files are pre-staged to a sibling directory BEFORE
  * the clock starts, and the producer loop only `Files.move`s one file
  * per tick into the source dir — an atomic rename costs microseconds, so
  * the offered rate is exact and "landed" timestamps are sharp (writing
  * parquet inline would make the producer the bottleneck and measure the
  * generator, not the pipeline). Three concurrent queries consume the
  * same source, exactly like the production topology where each is an
  * independent consumer group on one topic:
  *   1. funnel aggregation (update mode) → [[PinnedMv]] merge — the
  *      measured dashboard path;
  *   2. sessionization (`flatMapGroupsWithState`, event-time timeout) →
  *      parquet session sink;
  *   3. DLQ split → parquet dead-letter sink.
  * Visibility is detected by polling the pinned MV's served event count
  * (pure memory, the real dashboard point-read) and recording when it
  * crosses each file's cumulative valid-event threshold.
  *
  * Event shape: ids are globally unique (dedup state is exercised, drops
  * nothing); a fixed 2% carry an unknown event_type and must exit via the
  * DLQ; event time advances ~2 s per file so watermarks move and sessions
  * actually close during the run (users rotate in blocks, so a block's
  * sessions expire once its users stop appearing).
  */
object SustainedLoad {

  /** Per-consumer utilization, from the query's own progress events:
    * `busySec` = Σ triggerExecution, so `rows / busySec` is the consumer's
    * implied standalone capacity and `busySec / wallSec` its utilization —
    * the numbers that name which consumer caps the pipeline.
    */
  final case class ConsumerStat(name: String, inputRows: Long, busySec: Double,
      batches: Int) {
    def toJson: String =
      s""""$name":{"input_rows":$inputRows,"busy_sec":${math.round(busySec * 1000) / 1000.0},""" +
        s""""batches":$batches,"rows_per_busy_sec":${
          if (busySec > 0) (inputRows / busySec).round else -1}}"""
  }

  final case class Result(
      offeredEps: Double,
      achievedEps: Double,
      producedEvents: Long,
      validEvents: Long,
      dlqRows: Long,
      sessionRows: Long,
      files: Int,
      produceSec: Double, // actual producer window (scheduled = files * interval)
      producerMaxLagSec: Double, // worst tick-schedule slip; ~0 = offered rate is real
      caughtUp: Boolean, // every file's events became visible before the deadline
      catchupSec: Double, // last-visible - last-landed
      e2e: Seq[Double], // per-file landed -> MV-visible seconds
      consumers: Seq[ConsumerStat] = Nil,
      // scratch-mount health sampled just before this run ([seq-write
      // MB/s, fsync/s, small-creates/s]) — a failed rung on a throttled
      // mount must not read identically to one on a healthy mount, so
      // every probe/record/overload attempt self-adjudicates its window
      ioProbe: Option[String] = None,
      // host-CPU health sampled just before this run ([single-thread
      // Mops/s, all-core Mops/s]) — the r14 lesson: a record can fail at
      // 1/8 of healthy consumer throughput under a HEALTHY io-probe, and
      // only a compute measurement makes that window name itself
      cpuProbe: Option[String] = None,
      // probe-backed capacity prediction for THIS window (see
      // [[SustainedLoad.predictMaxEps]]): what the pre-run probes say the
      // box should sustain. A rung that fails far below its prediction is
      // mid-run degradation the stamps missed; one that fails AT its
      // prediction is a window the artifact has already explained.
      predictedMaxEps: Option[Int] = None,
      // pre-run stamps vs the standard healthy thresholds (seq-write
      // ≥ 60 MB/s, creates ≥ 800/s, single-thread ≥ 400 Mops, all-core
      // ≥ 10 GOps) — the rung names its own window in the compact line
      windowDegraded: Option[Boolean] = None) {
    private def pct(p: Double): Double = {
      val s = e2e.sorted
      if (s.isEmpty) -1.0 else s(math.min(s.size - 1, (p * (s.size - 1)).round.toInt))
    }
    def p50: Double = pct(0.5)
    def p95: Double = pct(0.95)
    def max: Double = if (e2e.isEmpty) -1.0 else e2e.max
    /** The acceptance shape: offered rate delivered on schedule, every file
      * visible before the deadline, p95 landed→visible under `targetSec`.
      */
    def sustained(targetSec: Double = 5.0): Boolean =
      caughtUp && e2e.nonEmpty && p95 >= 0 && p95 < targetSec &&
        producerMaxLagSec < 1.0
    /** The PIPELINE held the rate but the producer thread slipped its
      * own schedule (a driver-side stall while moving a file — GC or a
      * host I/O hiccup): the latency acceptance passed and only the
      * offered-rate-honesty guard failed. This is measurement noise,
      * not pipeline capacity, so [[sweep]] retries such a probe once.
      */
    def lagOnlyFailure(targetSec: Double = 5.0): Boolean =
      !sustained(targetSec) && caughtUp && e2e.nonEmpty && p95 >= 0 &&
        p95 < targetSec && producerMaxLagSec >= 1.0
    def toJson: String =
      s"""{"offered_eps":${offeredEps.round},"achieved_eps":${achievedEps.round},""" +
        s""""produced_events":$producedEvents,"valid_events":$validEvents,""" +
        s""""dlq_rows":$dlqRows,"session_rows":$sessionRows,"files":$files,""" +
        s""""produce_sec":$produceSec,"producer_max_lag_sec":$producerMaxLagSec,""" +
        s""""caught_up":$caughtUp,"catchup_sec":$catchupSec,""" +
        s""""e2e_p50_sec":$p50,"e2e_p95_sec":$p95,"e2e_max_sec":$max""" +
        ioProbe.fold("")(p => s""","io_probe_pre":$p""") +
        cpuProbe.fold("")(p => s""","cpu_probe_pre":$p""") +
        predictedMaxEps.fold("")(p =>
          s""","predicted_max_sustainable_eps":$p""") +
        windowDegraded.fold("")(d => s""","window_degraded":$d""") +
        (if (consumers.isEmpty) "}"
        else s""","consumers":{${consumers.map(_.toJson).mkString(",")}}}""")
  }

  /** JSON event payloads for files [0, nFiles): one row per event, column
    * `f` = file index, `value` = the wire JSON. Pure column expressions —
    * one distributed job stages the whole corpus.
    */
  private def payloads(spark: SparkSession, nFiles: Int, eventsPerFile: Int,
      usersPerBlock: Int, eventsPerBlock: Long): DataFrame = {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime / 1000
    val types = typedlit(Events.eventTypes.toArray)
    val tiers = typedlit(Array("free", "basic", "premium", "enterprise"))
    val i = col("id")
    // Column./ is FLOATING division — a double user_id would serialize as
    // "1.05" and from_json's LongType field would null the value straight
    // into the DLQ. DIV keeps the arithmetic exact on longs.
    val fileIdx = expr(s"id DIV $eventsPerFile")
    val user = expr(s"id DIV $eventsPerBlock") * usersPerBlock + i % usersPerBlock
    // 2% invalid: unknown event_type, must exit via the DLQ branch
    val etype = when(i % 50 === 0, lit("bogus"))
      .otherwise(element_at(types, (i % Events.eventTypes.size).cast("int") + 1))
    // event time advances 2 s per file; ms jitter inside the file
    val ts = timestamp_millis(
      lit(base * 1000) + fileIdx * 2000 + i % 1000)
    spark.range(nFiles.toLong * eventsPerFile).select(
      fileIdx.as("f"),
      to_json(struct(
        concat(lit("se-"), i).as("event_id"),
        user.as("user_id"),
        concat(lit("s"), user).as("session_id"),
        etype.as("event_type"),
        date_format(ts, "yyyy-MM-dd HH:mm:ss.SSS").as("ts"),
        element_at(tiers, (i % 4).cast("int") + 1).as("user_tier"),
        concat(lit("""{"amount": """), (i % 90) + 10, lit("}")).as("properties")
      )).as("value"))
  }

  /** Run the sustained load. `baseDir` must be fresh. Defaults drive 5× the
    * reference's 10k ev/s acceptance for 60 s (the bench asks for more).
    */
  def run(spark: SparkSession, baseDir: String,
      targetEps: Int = 50000, durationSec: Int = 60,
      eventsPerFile: Int = 5000, triggerMs: Long = 1000,
      catchupTimeoutSec: Int = 120): Result = {
    require(eventsPerFile % 50 == 0, "eventsPerFile must be a multiple of 50 (2% DLQ rate)")
    val nFiles = math.max(1, (targetEps.toLong * durationSec / eventsPerFile).toInt)
    val intervalNs = eventsPerFile.toLong * 1000000000L / targetEps
    val validPerFile = eventsPerFile - eventsPerFile / 50
    // users rotate in blocks of ~40 files so sessions close during the run
    val usersPerBlock = math.max(10, eventsPerFile * 2)
    val eventsPerBlock = eventsPerFile.toLong * 40

    val stageDir = java.nio.file.Paths.get(baseDir, "stage")
    val inDir = java.nio.file.Paths.get(baseDir, "in")
    java.nio.file.Files.createDirectories(inDir)

    // ---- pre-stage: one file per file-index, harvested to flat paths ----
    payloads(spark, nFiles, eventsPerFile, usersPerBlock, eventsPerBlock)
      .repartition(nFiles, col("f"))
      .write.partitionBy("f").mode("overwrite").parquet(stageDir.toString)
    def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(p)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala.toVector
      finally s.close()
    }
    val staged: Map[Int, java.nio.file.Path] = listDir(stageDir).collect {
      case d if d.getFileName.toString.startsWith("f=") =>
        val part = listDir(d).find(_.getFileName.toString.endsWith(".parquet"))
        require(part.isDefined, s"no parquet part under $d")
        d.getFileName.toString.drop(2).toInt -> part.get
    }.toMap
    require(staged.size == nFiles, s"staged ${staged.size} of $nFiles files")

    // ---- pipeline: parse -> validate -> dedup -> {funnel MV, sessions, DLQ} ----
    val mv = new PinnedMv(Seq("window", "user_tier"), Some(s"$baseDir/mv"))
    val rawSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.StringType)))
    // Per-consumer SCHEMA-PRUNED parse (each consumer re-parses the topic
    // independently — the production consumer-group topology — so each
    // should convert only the fields it reads): the funnel MV never reads
    // `properties` (the largest field), sessionization never reads
    // `session_id`, and the DLQ split needs only the four validation
    // fields. Validation semantics are identical across all three
    // (Events.parsePruned always converts the checked fields).
    def raw = spark.readStream.schema(rawSchema).parquet(inDir.toString)
    def funnelEvents = Events.validPruned(
      Events.parsePruned(raw, Seq("session_id", "user_tier")))
    def sessionEvents = Events.validPruned(
      Events.parsePruned(raw, Seq("user_tier", "properties")))
    def dlqParsed = Events.parsePruned(raw, Nil)
    // state partitioning sized to the stream (see Freshness): restore after
    // start — streams clone the session conf at start
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val queries =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        val funnelQ = StreamingAggs
          .funnel(Events.deduped(funnelEvents), watermark = None)
          .writeStream
          .foreachBatch { (b: DataFrame, id: Long) => mv.update(b, id) }
          .option("checkpointLocation", s"$baseDir/ckpt/funnel")
          .outputMode("update")
          .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
          .start()
        val sessionQ = Sessionization
          .sessionize(Events.deduped(sessionEvents),
            timeoutMs = 60000, watermark = None,
            outputMode = org.apache.spark.sql.streaming.OutputMode.Append)
          .writeStream
          .format("parquet")
          .option("path", s"$baseDir/sessions")
          .option("checkpointLocation", s"$baseDir/ckpt/sessions")
          .outputMode("append")
          .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
          .start()
        val dlqQ = Events.invalid(dlqParsed)
          .writeStream
          .format("parquet")
          .option("path", s"$baseDir/dlq")
          .option("checkpointLocation", s"$baseDir/ckpt/dlq")
          .outputMode("append")
          .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
          .start()
        Seq(funnelQ, sessionQ, dlqQ)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)

    val landedNs = new Array[Long](nFiles)
    val visibleNs = new Array[Long](nFiles)
    java.util.Arrays.fill(visibleNs, -1L)

    try {
      // ---- warmup: file 0 untimed (stream startup + state init + codegen) ----
      java.nio.file.Files.move(staged(0), inDir.resolve("00000.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val warmDeadline = System.nanoTime() + 60L * 1000000000L
      while (mv.sumLong("n_events") < validPerFile && System.nanoTime() < warmDeadline)
        Thread.sleep(5)
      landedNs(0) = System.nanoTime(); visibleNs(0) = landedNs(0) // excluded below

      // ---- monitor: record MV-visibility crossings for files 1..n-1 ----
      @volatile var monitorStop = false
      val monitor = new Thread(() => {
        var next = 1
        while (!monitorStop && next < nFiles) {
          val seen = mv.sumLong("n_events")
          val now = System.nanoTime()
          while (next < nFiles && seen >= (next + 1).toLong * validPerFile) {
            visibleNs(next) = now; next += 1
          }
          if (next < nFiles) Thread.sleep(2)
        }
      }, "sustained-load-monitor")
      monitor.setDaemon(true)
      monitor.start()

      // ---- producer: one atomic move per tick ----
      val t0 = System.nanoTime()
      var maxLagNs = 0L
      for (k <- 1 until nFiles) {
        val due = t0 + (k - 1).toLong * intervalNs
        val wait = due - System.nanoTime()
        if (wait > 0) {
          val ms = wait / 1000000
          Thread.sleep(ms, (wait - ms * 1000000).toInt)
        } else maxLagNs = math.max(maxLagNs, -wait)
        java.nio.file.Files.move(staged(k), inDir.resolve(f"$k%05d.parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        landedNs(k) = System.nanoTime()
      }
      val produceSec = (System.nanoTime() - t0) / 1e9

      // ---- drain: wait for full visibility, then let the side sinks finish ----
      val deadline = System.nanoTime() + catchupTimeoutSec * 1000000000L
      while (visibleNs(nFiles - 1) < 0 && System.nanoTime() < deadline)
        Thread.sleep(10)
      monitorStop = true
      monitor.join(2000)
      val caughtUp = visibleNs.forall(_ >= 0)
      queries.tail.foreach(_.processAllAvailable()) // sessions + DLQ drain

      // per-consumer utilization from each query's progress history:
      // recentProgress holds the last ~1000 trigger reports — more than a
      // bench window produces — so the sums cover the whole run
      val consumerStats = Seq("funnel", "sessions", "dlq").zip(queries).map {
        case (n, q) =>
          val ps = q.recentProgress.toSeq
          ConsumerStat(n,
            inputRows = ps.map(_.numInputRows).sum,
            busySec = ps.flatMap(p =>
              Option(p.durationMs.get("triggerExecution")).map(_.toLong)).sum / 1e3,
            batches = ps.size)
      }

      val e2e = (1 until nFiles).collect {
        case k if visibleNs(k) >= 0 => (visibleNs(k) - landedNs(k)) / 1e9
      }
      val lastVisible =
        if (caughtUp) visibleNs.max
        else System.nanoTime() // timed out: charge the full window
      val validTotal = nFiles.toLong * validPerFile
      val dlqRows =
        try spark.read.parquet(s"$baseDir/dlq").count()
        catch { case scala.util.control.NonFatal(_) => 0L }
      val sessionRows =
        try spark.read.parquet(s"$baseDir/sessions").count()
        catch { case scala.util.control.NonFatal(_) => 0L }
      Result(
        offeredEps = eventsPerFile.toLong * 1000000000L / intervalNs.toDouble,
        achievedEps = validTotal / ((lastVisible - landedNs(0)) / 1e9),
        producedEvents = nFiles.toLong * eventsPerFile,
        validEvents = validTotal,
        dlqRows = dlqRows,
        sessionRows = sessionRows,
        files = nFiles,
        produceSec = produceSec,
        producerMaxLagSec = maxLagNs / 1e9,
        caughtUp = caughtUp,
        catchupSec = math.max(0.0, (lastVisible - landedNs(nFiles - 1)) / 1e9),
        e2e = e2e,
        consumers = consumerStats)
    } finally {
      queries.foreach(q => try q.stop() catch {
        case scala.util.control.NonFatal(_) => ()
      })
      mv.close()
    }
  }

  /** One sweep outcome: the ladder/refine probes, the full-length record
    * run at the highest sustainable rate, and the fixed-rate overload
    * stress (backlog catch-up behavior past saturation — its e2e numbers
    * are queue time by construction and are reported as such, never as
    * the latency record).
    */
  final case class Sweep(
      probes: Seq[Result],
      maxSustainableEps: Int,
      record: Result,
      recordAttempts: Int,
      overload: Option[Result]) {
    def toJson: String =
      s"""{"max_sustainable_eps":$maxSustainableEps,""" +
        s""""record":${record.toJson},"record_attempts":$recordAttempts,""" +
        s""""probes":[${probes.map(_.toJson).mkString(",")}]""" +
        overload.fold("")(o => s""","overload":${o.toJson}""") + "}"

    /** Ultra-compact per-rung record for the bench STDOUT line (the
      * r17 verdict: per-rung stamps lived only in the detail file, so
      * the official 40k-on-an-18.8k-predicted-window number could not
      * adjudicate itself in the committed artifact). One array per
      * probe + the record run: `[offered_eps, ok(0/1), seq-write MB/s,
      * creates/s, predicted_eps]` — the same numbers the soak100_io
      * stamps carry, at ~25 bytes/rung so the ~2 KB stdout budget
      * holds.
      */
    def compactRungs(targetSec: Double = 5.0): String =
      (probes :+ record).map { r =>
        val io = r.ioProbe.getOrElse("[-1,-1,-1]")
          .stripPrefix("[").stripSuffix("]").split(",")
        val ok = if (r.sustained(targetSec)) 1 else 0
        s"[${r.offeredEps.round},$ok," +
          s"${io.lift(0).getOrElse("-1")},${io.lift(2).getOrElse("-1")}," +
          s"${r.predictedMaxEps.getOrElse(-1)}]"
      }.mkString("[", ",", "]")

    /** The LIMITING rung (LAST failing probe — an early rung that failed
      * on producer lag and passed its retry did not stop the climb —
      * else the record run) and whether its own pre-stamps were
      * degraded: "degraded" = the headline max-sustainable was set
      * inside a window the stamps already disqualify; "healthy" = a real
      * capacity reading; "underperformed_stamps" = the stamps read
      * healthy but the sustained rate is under HALF what they predicted
      * — mid-run degradation the stamps missed (e.g. an external load
      * arriving after the pre-probe), named instead of silently quoted.
      */
    def windowVerdict(targetSec: Double = 5.0): String = {
      val limiting = probes.filter(!_.sustained(targetSec)).lastOption
        .getOrElse(record)
      if (limiting.windowDegraded.contains(true)) "degraded"
      else if (limiting.predictedMaxEps.exists(
        _ >= 2 * math.max(1, maxSustainableEps))) "underperformed_stamps"
      else "healthy"
    }
  }

  /** Probe-backed capacity prediction: what should THIS window sustain?
    *
    * Calibration anchors (NOTES): the healthy-box record is 100k ev/s
    * sustained at cpu ≈ [670, 17000] Mops with scratch seq-write
    * ≥ 100 MB/s (r13 definitive window); the r15e record collapse ran
    * every attempt at io_pre ≤ 36 MB/s with cpu healthy — so capacity
    * scales with BOTH resources and the binding one is the minimum.
    * The prediction is linear in each probe against its anchor, capped
    * at 1.5× (a faster-than-calibration box is not extrapolated far):
    *
    *   predicted = 100000 · min(1.5, allCoreMops/17000, seqWriteMBps/100)
    *
    * Purpose is ADJUDICATION, not gating: the driver's r15 window
    * sustained 17k under healthy run-level probes while the builder's
    * held 85k — a per-rung prediction makes that spread explain itself
    * in the artifact (either the rung's own stamps were degraded, or
    * the degradation was mid-run and invisible to stamps, which the
    * prediction-vs-outcome gap now names).
    */
  def predictMaxEps(cpu: graft.CpuProbe.Result,
      io: graft.IoProbe.Result): Int = {
    val scale = math.min(1.5,
      math.min(cpu.allCoreMops / 17000.0, io.seqWriteMBps / 100.0))
    (100000 * math.max(0.0, scale)).round.toInt
  }

  /** Find the maximum offered rate the pipeline sustains (every file
    * MV-visible < `targetSec` after landing, producer on schedule), then
    * make the acceptance record at that rate over the full window.
    *
    * The r11 record measured a 50k ev/s offered burst against a ~33k ev/s
    * pipeline: past saturation every later file's landed→visible time is
    * backlog queue time, so the "latency" number was really queue depth —
    * honest about the overload case but not evidence for the reference's
    * acceptance (10k ev/s with < 5 s ingestion-to-dashboard). This sweep
    * measures that acceptance the way a capacity test does: short probes
    * up a rate ladder (each on a fresh source/checkpoint; first failure
    * stops the climb), one midpoint refinement between the last pass and
    * the first fail, then a full-length confirm at the winner. If the
    * longer window exposes drift the probes missed (state growth, GC),
    * the confirm steps down 10% and retries once — both attempts recorded.
    *
    * @param ladderEps   probe rates, ascending (first is the acceptance
    *                    floor and is always probed)
    * @param probeSec    probe window seconds (short: probes bound the rate,
    *                    the record run is what gets graded)
    * @param recordSec   full record window seconds
    * @param overloadEps fixed-rate stress past saturation; 0 disables
    */
  def sweep(spark: SparkSession, baseDir: String,
      ladderEps: Seq[Int] = Seq(10000, 20000, 30000, 40000, 50000),
      probeSec: Int = 15, recordSec: Int = 60,
      overloadEps: Int = 50000, overloadSec: Int = 60,
      targetSec: Double = 5.0, eventsPerFile: Int = 5000): Sweep = {
    val root = java.nio.file.Paths.get(baseDir)
    java.nio.file.Files.createDirectories(root)
    var serial = 0
    def runAt(eps: Int, dur: Int, catchupSec: Int): Result = {
      serial += 1
      val dir = root.resolve(s"run-$serial-$eps")
      // pre-run mount- AND cpu-health stamps: which rungs ran inside a
      // degraded window is part of the record, not something to
      // reconstruct from the run-level pre/post pair afterwards
      val io = graft.IoProbe.run()
      val cpu = graft.CpuProbe.run()
      try run(spark, dir.toString, targetEps = eps, durationSec = dur,
        eventsPerFile = eventsPerFile, catchupTimeoutSec = catchupSec)
        .copy(ioProbe = Some(io.toJsonCompact), cpuProbe = Some(cpu.toJsonCompact),
          predictedMaxEps = Some(predictMaxEps(cpu, io)),
          windowDegraded = Some(io.degraded || cpu.degraded))
      finally graft.Bench.rmTree(dir.toString)
    }

    // ---- ladder: climb until the first unsustainable rate ----
    // a probe whose ONLY failure is producer-schedule slip (the pipeline
    // held the latency target) is re-run once before the rung is scored:
    // a single >1 s driver stall moving a file says nothing about
    // pipeline capacity, and without the retry it silently truncates the
    // climb (observed: a 32k rung with p95 2.7 s failed on lag 1.3 s and
    // the sweep recorded 25k). Both attempts stay in `probes`.
    var probes = Vector.empty[Result]
    def probeAt(eps: Int): Result = {
      val r = runAt(eps, probeSec, catchupSec = 120)
      probes :+= r
      if (r.lagOnlyFailure(targetSec)) {
        val retry = runAt(eps, probeSec, catchupSec = 120)
        probes :+= retry
        retry
      } else r
    }
    var lastPass = 0
    var firstFail = 0
    val it = ladderEps.iterator
    while (it.hasNext && firstFail == 0) {
      val eps = it.next()
      if (probeAt(eps).sustained(targetSec)) lastPass = eps else firstFail = eps
    }
    // ---- one midpoint refinement between the bracketing rates ----
    if (lastPass > 0 && firstFail > lastPass + 5000) {
      val mid = (lastPass + firstFail) / 2 / 1000 * 1000
      if (probeAt(mid).sustained(targetSec)) lastPass = mid
    }

    // ---- full-length records, descending the ladder until one holds ----
    // Short probes over-estimate near the edge (a 12-15 s window hides
    // slow backlog growth that a 60 s record exposes: observed — every
    // probe to 92k green, the 92k record at p95 9 s). A single -10%
    // retry then reported max_sustainable_eps = 0 even though 40k was
    // trivially sustainable — "nothing sustainable" was false. So the
    // record now DESCENDS: the probe winner first, then each ladder
    // rung below it, until a full-length record holds (≤ 4 attempts;
    // a lag-only failure re-runs the same rate instead of descending).
    // Every failed record attempt is kept in `probes` — nothing is
    // discarded, and the recorded rate is one a 60 s window actually
    // proved.
    val descent = {
      val start = if (lastPass > 0) lastPass else ladderEps.head
      start +: ladderEps.filter(_ < start).sorted(Ordering[Int].reverse)
    }
    var attempts = 0
    var record: Result = null
    val di = descent.iterator
    while ((record == null || !record.sustained(targetSec)) &&
        di.hasNext && attempts < 4) {
      val eps = di.next()
      if (record != null) probes :+= record // keep the failed attempt
      record = runAt(eps, recordSec, catchupSec = 180)
      attempts += 1
      if (record.lagOnlyFailure(targetSec) && attempts < 4) {
        probes :+= record
        record = runAt(eps, recordSec, catchupSec = 180)
        attempts += 1
      }
    }
    val maxSustainable =
      if (record.sustained(targetSec)) record.offeredEps.round.toInt else 0

    val overload =
      if (overloadEps <= 0) None
      else Some(runAt(overloadEps, overloadSec, catchupSec = 180))
    Sweep(probes, maxSustainable, record, attempts, overload)
  }
}
