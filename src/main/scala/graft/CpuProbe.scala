package graft

/** Host-CPU micro-probe recorded alongside benchmark numbers — the
  * compute twin of [[IoProbe]].
  *
  * Round 14 proved a disk-only probe is insufficient adjudication: the
  * failing speed-layer record ran under a HEALTHY io-probe ([112 MB/s,
  * 7112, 5590]) while all three streaming consumers processed at ~1/8 of
  * their same-day healthy-window rate — a classic throttled/contended-CPU
  * fingerprint (cgroup quota, noisy neighbor, thermal cap) that no mount
  * measurement can see. This probe makes such windows name themselves:
  * a fixed, deterministic integer spin loop (no allocation, no syscalls,
  * no memory traffic beyond two registers) measured single-threaded and
  * across all cores. A throttled window shows up as a proportional drop
  * in one or both numbers; the reader — and the bench's degraded-retry
  * predicates — compare against the healthy-band thresholds in NOTES
  * exactly like the io-probe ones.
  *
  * Two numbers separate failure modes: single-thread Mops/s (clock
  * throttling / per-core steal — what a streaming consumer's hot loop
  * pays) and all-core aggregate Mops/s (quota/oversubscription — what a
  * 32-thread local Spark run pays). A cgroup CPU quota typically leaves
  * single-thread intact and craters the aggregate; frequency capping
  * drops both.
  */
object CpuProbe {

  final case class Result(singleMops: Double, allCoreMops: Double,
      threads: Int) {
    def toJson: String =
      String.format(java.util.Locale.ROOT,
        """{"single_mops":%.1f,"all_core_mops":%.1f,"threads":%d}""",
        Double.box(singleMops), Double.box(allCoreMops),
        Integer.valueOf(threads))
    /** `[single, allCore]` — same compact shape as the io-probe triple. */
    def toJsonCompact: String =
      s"[${singleMops.round},${allCoreMops.round}]"
    /** Below ~60% of this box's healthy band (idle-box healthy: ~670
      * single / ~17000 all-core Mops across 3 runs, NOTES r15), in either
      * the single-thread rate (frequency cap, per-core steal) or the
      * all-core aggregate (cgroup quota, oversubscription).
      */
    def degraded: Boolean = singleMops < 400.0 || allCoreMops < 10000.0
  }

  /** One chunk of spin work: `n` iterations of a 64-bit LCG step + mix.
    * Returns the accumulator so the JIT cannot elide the loop.
    */
  private def spin(n: Long, seed: Long): Long = {
    var x = seed | 1L
    var acc = 0L
    var i = 0L
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      acc ^= (x >>> 33)
      i += 1
    }
    acc
  }

  // published so the JIT sees the spin results escape
  @volatile private var sink: Long = 0L

  private val ChunkIters = 4L * 1000 * 1000

  /** Iterations/second of one thread spinning for ~`windowNs`. A short
    * warmup chunk first absorbs JIT compilation of the loop.
    */
  private def ratePerSec(windowNs: Long): Double = {
    sink ^= spin(ChunkIters, System.nanoTime()) // warmup: compile the loop
    val t0 = System.nanoTime()
    var iters = 0L
    while (System.nanoTime() - t0 < windowNs) {
      sink ^= spin(ChunkIters, iters + 1)
      iters += ChunkIters
    }
    iters / ((System.nanoTime() - t0) / 1e9)
  }

  /** Run both measurements (~1.3 s total: 0.5 s single + 0.8 s all-core).
    * `threads` defaults to every visible core — the parallelism a
    * `local[32]` bench run actually asks the host for.
    */
  def run(threads: Int = Runtime.getRuntime.availableProcessors()): Result = {
    val single = ratePerSec(500L * 1000 * 1000) / 1e6

    val perThread = new Array[Double](threads)
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => perThread(k) = ratePerSec(800L * 1000 * 1000))
      t.setDaemon(true)
      t
    }
    ts.foreach(_.start())
    ts.foreach(_.join(5000))
    Result(single, perThread.sum / 1e6, threads)
  }
}
