package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.cdc.{Cdc, CdcApply}
import graft.lakehouse.{IncrementalView, SnapshotTable}

/** `cdc_lambda`: writes beside reads over the lakehouse layer.
  *
  * Writer (one thread, closed loop): a seeded micro-batch of change events
  * (inserts, updates, deletes on distinct keys) → `Cdc.unwrap` +
  * `Cdc.writeBronze` (append) → `CdcApply.applyBatch` (a
  * `SnapshotTable.merge` commit) → `IncrementalView.refresh` → MV read.
  *
  * Readers (two threads, open loop at a fixed rate): dashboard rollups over
  * `IncrementalView.read()` and id-range reads of the mirror, each timed
  * from its due time.
  */
object CdcLambda {
  val Keys = 50000L // mirror size at bootstrap
  val BatchChanges = 2500 // change events per micro-batch
  val SetupRepeats = 3 // bootstraps per run; set-up time is their median
  val ReadsPerSecond = 1.5 // both reader threads together
  val LookupWidth = 1000L // ids per range read

  private val BaseTsMs = 1767225600000L // 2026-01-01T00:00:00Z

  /** Seeded change generator over an in-memory model of the live keys. */
  final class Changes(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    // live after the generator's bootstrap history: id % 11 == 0 deleted
    private val live = mutable.ArrayBuffer.from((0L until Keys).filter(_ % 11 != 0))
    private var nextId = Keys
    private var lsn = 1000000000000L // above every bootstrap LSN (id * 100 + 70)

    private def row(id: Long, op: String, batch: Int): Row = {
      lsn += 1
      val ts = BaseTsMs + batch * 1000L
      val cents = 100 + rnd.nextInt(900000)
      Row(id, s"user$id@example.com", s"First$id", s"Last${id % 100}",
        java.math.BigDecimal.valueOf(cents, 2).toPlainString,
        BaseTsMs, ts, op, ts + 250, ts, lsn, if (op == "d") "true" else "false")
    }

    /** One batch: ~50% updates, 30% inserts, 20% deletes, keys distinct. */
    def batch(b: Int): Seq[Row] = {
      val used = mutable.HashSet.empty[Long]
      (0 until BatchChanges).map { _ =>
        val p = rnd.nextInt(10)
        if (p < 3 || live.size < BatchChanges) {
          val id = nextId; nextId += 1; live += id; used += id
          row(id, "c", b)
        } else {
          var i = rnd.nextInt(live.size)
          while (used.contains(live(i))) i = rnd.nextInt(live.size)
          val id = live(i); used += id
          if (p < 8) row(id, "u", b)
          else { live(i) = live.last; live.remove(live.size - 1); row(id, "d", b) }
        }
      }
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def envelope(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, Cdc.usersEnvelopeSchema)

    // ---- set-up: bootstrap the mirror and its view (repeated; last kept) ----
    var table: SnapshotTable = null
    var ivm: IncrementalView = null
    for (r <- 0 until SetupRepeats) {
      val t0 = System.nanoTime()
      val root = ctx.work.resolve(s"lake$r").toString
      table = SnapshotTable.create(spark, s"$root/users")
      val snapshot = Cdc.asSnapshotRead(Cdc.currentState(Cdc.generateUsersCdc(spark, Keys)))
      CdcApply.applyBatch(snapshot, 0, table)
      ivm = new IncrementalView(table, Seq("last_name"), Seq("account_balance"), s"$root/ivm")
      ivm.refresh()
      ivm.read().collect()
      ctx.setupS += ctx.elapsedS(t0)
    }
    val bronze = ctx.work.resolve("bronze").toString
    val gen = new Changes(ctx.seed)
    val applied = mutable.ArrayBuffer.empty[Seq[Row]]

    /** One writer cycle: bronze append → merge commit → view refresh → MV
      * read. Returns true when every step succeeded.
      */
    def cycle(b: Int, rows: Seq[Row]): Boolean = {
      val ok = try {
        ctx.span("cycle", "batch" -> b, "changes" -> rows.size) {
          val env = envelope(rows)
          ctx.span("bronze")(Cdc.writeBronze(Cdc.unwrap(env), bronze, mode = "append"))
          ctx.span("merge")(CdcApply.applyBatch(env, b, table))
          ctx.span("refresh")(ivm.refresh())
          ctx.span("serve")(ivm.read().collect())
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] cdc batch $b failed: $e")
          false
      }
      if (ok) applied += rows
      ok
    }

    // one untimed cycle, so the window starts with every code path warm
    if (!cycle(1, gen.batch(1))) ctx.check("warm_up_cycle", ok = false, "batch 1 failed")

    // ---- timed window ----
    ctx.windowStartNs = System.nanoTime()
    val windowEnd = ctx.windowStartNs + (ctx.seconds * 1e9).toLong
    @volatile var writing = true
    val readers = (0 until 2).map { j =>
      val th = new Thread(() => reader(ctx, table, ivm, j, () => writing), s"perfbench-reader-$j")
      th.start()
      th
    }
    var b = 2
    try {
      while (System.nanoTime() < windowEnd) {
        val rows = gen.batch(b)
        val t0 = System.nanoTime()
        val ok = cycle(b, rows)
        ctx.op(Op("cycle", s"batch-$b", 0L, t0, System.nanoTime(), ok,
          Map("changes" -> rows.size)))
        b += 1
      }
      // the window ends with the last cycle, not when a sleeping reader
      // next wakes to see the writer stopped
      ctx.windowEndNs = System.nanoTime()
    } finally {
      writing = false
      readers.foreach(_.join())
    }
    ctx.extra("batches") = b - 2
    ctx.extra("changes_applied") = applied.map(_.size).sum

    // ---- correctness, outside the window ----
    val history = Cdc.unwrap(
      Cdc.asSnapshotRead(Cdc.currentState(Cdc.generateUsersCdc(spark, Keys)))
        .unionByName(envelope(applied.flatten.toSeq)))
    val expect = Cdc.currentState(history)
    val mirror = table.read()
    val cols = expect.columns.toSeq.sorted.map(col)
    val (er, eh) = Checksum.of(expect.select(cols: _*))
    val (mr, mh) = Checksum.of(mirror.select(cols: _*))
    ctx.check("mirror_equals_current_state", er == mr && eh == mh,
      s"mirror rows=$mr expected rows=$er")
    val grouped = mirror.groupBy("last_name").agg(
      count(lit(1)).as("n_rows"), sum(col("account_balance")).as("sum_account_balance"))
    val viewCols = Seq("last_name", "n_rows", "sum_account_balance").map(col)
    val (gr, gh) = Checksum.of(grouped.select(viewCols: _*))
    val (vr, vh) = Checksum.of(ivm.read().select(viewCols: _*))
    ctx.check("view_equals_group_by", gr == vr && gh == vh, s"view rows=$vr expected rows=$gr")
  }

  /** One open-loop reader: three dashboard rollups to one id-range read,
    * on a fixed schedule for as long as the writer runs, so every read
    * shares the cores with a write cycle. A range read costs about twice a
    * rollup; with the two kinds one to one, the median read fell between
    * the two populations and moved by ~25% from run to run.
    */
  private def reader(ctx: Ctx, table: SnapshotTable, ivm: IncrementalView, j: Int,
      writing: () => Boolean): Unit = {
    val rnd = new scala.util.Random(ctx.seed * 31 + j)
    val intervalNs = (2e9 / ReadsPerSecond).toLong
    val start = ctx.windowStartNs + j * intervalNs / 2
    var k = 0L
    var due = start
    while ({
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      writing()
    }) {
      val dash = k % 4 != 3
      val kind = if (dash) "dash" else "lookup"
      val lo = rnd.nextLong(Keys)
      val t0 = System.nanoTime()
      val ok = try {
        ctx.span(s"read.$kind", "due_ns" -> due) {
          if (dash)
            ivm.read().orderBy(desc("sum_account_balance")).limit(10).collect()
          else
            table.read().filter(col("id").between(lo, lo + LookupWidth - 1)).collect()
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] read $kind failed: $e")
          false
      }
      ctx.op(Op("read", kind, due, t0, System.nanoTime(), ok))
      k += 1
      due = start + k * intervalNs
    }
  }
}
