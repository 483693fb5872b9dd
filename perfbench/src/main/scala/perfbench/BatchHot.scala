package perfbench

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** `batch_hot`: closed loop, one client, over a frozen list of inventory
  * queries. Each query is built through its registry entry and forced
  * through a `noop` write.
  *
  * Set-up is the cold pass: every query once, built and written exactly
  * as the window runs it, by one client per core in seeded order. The
  * correctness checks follow, untimed: each query's row count and checksum
  * against the committed values. The timed window then runs warm queries
  * back to back from one client, each pass over the list in a fresh
  * seeded order. It completes the first pass, and after that starts no
  * query once `--seconds` have passed.
  */
object BatchHot {
  final case class Entry(name: String, module: String)

  def entries(ctx: Ctx): Seq[Entry] =
    Files.readAllLines(ctx.benchDir.resolve("batch_hot/queries.tsv")).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, m) = l.split("\t"); Entry(n, m) }

  def expected(ctx: Ctx): Map[String, (Long, String)] =
    Files.readAllLines(ctx.benchDir.resolve("batch_hot/expected.tsv")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, h) = l.split("\t"); n -> (r.toLong, h) }.toMap

  /** `f` over `xs` on one thread per core; results in the order of `xs`. */
  private def onCores[A, B](ctx: Ctx, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.benchDir.resolve("data").toString
    val list = entries(ctx)
    val registry = graft.SparkEntry.allDefs.map(d => d.name -> d).toMap
    val rnd = new scala.util.Random(ctx.seed)

    def query(e: Entry) =
      registry.getOrElse(e.name, throw new NoSuchElementException(s"no query ${e.name}"))

    // One query as the workload runs it: build, then the noop write.
    def runOnce(kind: String, e: Entry, pass: Int): Unit =
      ctx.span(kind, "query" -> e.name, "module" -> e.module, "pass" -> pass) {
        ctx.timed(kind, e.name, "module" -> e.module, "pass" -> pass) {
          val df = ctx.span("build")(query(e).run(spark, data))
          ctx.span("exec")(df.write.format("noop").mode("overwrite").save())
        }
      }

    // ---- set-up: the cold pass, one client per core ----
    val t0 = System.nanoTime()
    val coldS = onCores(ctx, rnd.shuffle(list)) { e =>
      val q0 = System.nanoTime()
      runOnce("cold", e, -1)
      e.name -> ctx.elapsedS(q0)
    }
    ctx.setupS += ctx.elapsedS(t0)
    ctx.extra("cold_s") = coldS.toMap

    // ---- correctness, outside every timed figure: row count and checksum
    // of every query ----
    val c0 = System.nanoTime()
    val want = expected(ctx)
    val results = onCores(ctx, list) { e =>
      try Right(Checksum.of(query(e).run(spark, data)))
      catch { case ex: Exception => Left(ex.toString) }
    }
    for ((e, res) <- list.zip(results)) res match {
      case Right((rows, h)) =>
        val exp = want.get(e.name)
        ctx.check(e.name, exp.contains((rows, Checksum.hex(h))),
          s"rows=$rows checksum=${Checksum.hex(h)} expected=${exp.getOrElse("none")}")
      case Left(err) => ctx.check(e.name, ok = false, err)
    }
    ctx.extra("check_s") = ctx.elapsedS(c0)

    // ---- timed window: warm queries back to back, pass after seeded pass;
    // the first pass always completes, so every query has a sample ----
    ctx.windowStartNs = System.nanoTime()
    var pass = 0
    while (pass == 0 || ctx.elapsedS(ctx.windowStartNs) < ctx.seconds) {
      val order = rnd.shuffle(list).iterator
      while (order.hasNext && (pass == 0 || ctx.elapsedS(ctx.windowStartNs) < ctx.seconds))
        runOnce("query", order.next(), pass)
      pass += 1
    }
    ctx.windowEndNs = System.nanoTime()
    ctx.extra("queries_in_list") = list.size
  }
}
