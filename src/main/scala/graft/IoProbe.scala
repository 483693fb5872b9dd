package graft

import java.nio.file.{Files, Path}

/** Host-I/O micro-probe recorded alongside benchmark numbers.
  *
  * This box's I/O degrades intermittently (D-state stalls with idle CPU;
  * see NOTES), which has poisoned recorded ingest/wave/freshness sections
  * in past rounds while sequential query medians stayed robust. Nothing
  * in those records let a reader SEE the degradation — this probe fixes
  * that: a few seconds of sequential-write, fsync, and small-file-create
  * throughput measured immediately before and after the run, stored in
  * the bench JSON. A reader compares the probe against the healthy-box
  * thresholds in NOTES before trusting the I/O-sensitive sections.
  *
  * The three metrics are chosen to separate failure modes: sequential
  * write MB/s (bandwidth), fsync/s (durability latency — what streaming
  * state commits and WAL writes pay), and small-file creates/s (metadata
  * ops — what partitioned sinks and state-store deltas pay). Past
  * degradation windows showed full bandwidth with crawling
  * metadata/fsync, so one number alone misleads.
  */
object IoProbe {

  final case class Result(seqWriteMBps: Double, fsyncPerSec: Double,
      smallCreatePerSec: Double) {
    // explicit root locale: a comma decimal separator would corrupt the
    // JSON record (same gotcha as Bench's compact line)
    def toJson: String =
      String.format(java.util.Locale.ROOT,
        """{"seq_write_mbps":%.1f,"fsync_per_sec":%.1f,"small_create_per_sec":%.1f}""",
        Double.box(seqWriteMBps), Double.box(fsyncPerSec),
        Double.box(smallCreatePerSec))
    def toJsonCompact: String =
      s"[${seqWriteMBps.round},${fsyncPerSec.round},${smallCreatePerSec.round}]"
    /** Outside the healthy band (NOTES): I/O-sensitive numbers taken in
      * this window are discounted, and the bench retries its freshness
      * and speed-layer sections once.
      */
    def degraded: Boolean = seqWriteMBps < 60.0 || smallCreatePerSec < 800.0
  }

  /** Run the three micro-benchmarks (~3-5 s total) in the scratch mount
    * the engine actually uses (`java.io.tmpdir` — where Spark local dirs,
    * streaming checkpoints, and the bench's bronze/MV dirs live). Pass an
    * explicit `base` to probe another mount.
    */
  def run(base: Path = null): Result =
    inScratch(base)(dir => Result(seqWrite(dir), fsyncs(dir), smallCreates(dir)))

  /** The sequential-write leg alone (≤ 2 s), for stamps taken between
    * timed runs: the fsync and small-create legs add seconds of churn
    * that could spill into the next run.
    */
  def seqWriteMBps(): Double = inScratch(null)(seqWrite)

  private def inScratch[T](base: Path)(probe: Path => T): T = {
    val dir =
      if (base == null) Files.createTempDirectory("graft-ioprobe")
      else Files.createTempDirectory(base, "graft-ioprobe")
    try probe(dir)
    finally Bench.rmTree(dir.toString)
  }

  /** Sequential write in 8 MB chunks, forced to disk each chunk so the
    * measurement sees the device, not the page cache; bounded by 2 s or
    * 256 MB so a throttled mount (this box has shown single-digit MB/s
    * windows) cannot stall the probe itself.
    */
  private def seqWrite(dir: Path): Double = {
    val f = dir.resolve("seq.bin")
    val chunk = new Array[Byte](8 * 1024 * 1024)
    java.util.Arrays.fill(chunk, 0x5a.toByte)
    val t0 = System.nanoTime()
    val deadline = t0 + 2000000000L
    var written = 0L
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      var i = 0
      while (i < 32 && System.nanoTime() < deadline) {
        ch.write(java.nio.ByteBuffer.wrap(chunk))
        ch.force(false)
        written += chunk.length
        i += 1
      }
    } finally ch.close()
    written / 1048576.0 / ((System.nanoTime() - t0) / 1e9)
  }

  /** 4 KB write + fsync loop, bounded by 1.5 s or 300 syncs. */
  private def fsyncs(dir: Path): Double = {
    val f = dir.resolve("fsync.bin")
    val buf = new Array[Byte](4096)
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val t0 = System.nanoTime()
      val deadline = t0 + 1500000000L
      var n = 0
      while (n < 300 && System.nanoTime() < deadline) {
        ch.position(0)
        ch.write(java.nio.ByteBuffer.wrap(buf))
        ch.force(true)
        n += 1
      }
      n / ((System.nanoTime() - t0) / 1e9)
    } finally ch.close()
  }

  /** 256 B file create+write+close loop, bounded by 1.5 s or 1000 files. */
  private def smallCreates(dir: Path): Double = {
    val sub = Files.createDirectory(dir.resolve("many"))
    val buf = new Array[Byte](256)
    val t0 = System.nanoTime()
    val deadline = t0 + 1500000000L
    var n = 0
    while (n < 1000 && System.nanoTime() < deadline) {
      Files.write(sub.resolve(s"f$n"), buf)
      n += 1
    }
    n / ((System.nanoTime() - t0) / 1e9)
  }
}
