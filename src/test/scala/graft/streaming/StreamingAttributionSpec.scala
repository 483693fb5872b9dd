package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamingAttribution.{AttrEvent, Credit}

/** ST23 streamed credits ≡ w14's semantics brute-forced: random event
  * soups (ties, dense users, window-straddling chains), any in-order
  * batch split, a live drive, and a checkpoint restart all emit exactly
  * the same credit rows with exact per-purchase conservation.
  */
class StreamingAttributionSpec extends SparkSpec {
  import spark.implicits._

  private val T = 1000L

  private def soup(seed: Long, n: Int): Seq[AttrEvent] = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("view", "click", "purchase", "error")
    Seq.tabulate(n) { i =>
      AttrEvent(rnd.nextInt(5).toLong, types(rnd.nextInt(4)),
        rnd.nextInt(4000).toLong, i.toLong, 100L + rnd.nextInt(9900))
    }
  }

  private def brute(evs: Seq[AttrEvent]): Set[Credit] =
    evs.filter(_.event_type == "purchase").flatMap { p =>
      val ts = evs.filter(t => (t.event_type == "view" ||
          t.event_type == "click") && t.user_id == p.user_id &&
          t.us < p.us && t.us >= p.us - T)
        .sortBy(t => (t.us, t.event_id))
      val n = ts.size.toLong
      if (n == 0) Seq.empty
      else {
        val uBp = ts.zipWithIndex.map { case (_, i) =>
          if (n == 1) 10000L else if (n == 2) 5000L
          else if (i == 0 || i + 1 == n) 4000L else 2000L / (n - 2)
        }
        val uBase = uBp.map(bp => p.cents * bp / 10000L)
        val credits = ts.zipWithIndex.map { case (t, i) =>
          val last = i + 1 == n
          Credit(p.user_id, p.event_id, t.event_id, t.event_type,
            p.cents / n + (if (last) p.cents % n else 0L),
            uBase(i) + (if (last) p.cents - uBase.sum else 0L))
        }
        assert(credits.map(_.lin_cents).sum === p.cents)
        assert(credits.map(_.u_cents).sum === p.cents)
        credits
      }
    }.toSet

  test("fold over any in-order split emits exactly the brute-force credits") {
    for (seed <- 1L to 6L; splits <- Seq(1, 3, 8)) {
      val evs = soup(seed, 400).sortBy(e => (e.us, e.event_id))
      val expect = brute(evs)
      val chunks = evs.grouped(math.max(1, evs.size / splits)).toSeq
      val got = (0L until 5L).flatMap { uid =>
        var st = StreamingAttribution.empty
        chunks.flatMap { c =>
          val (next, out) = StreamingAttribution.fold(st,
            c.filter(_.user_id == uid), T)
          st = next
          out
        }
      }.toSet
      assert(got === expect, s"seed=$seed splits=$splits")
    }
  }

  test("live query + checkpoint restart emit each credit exactly once") {
    val dir = tempDir("graft-attr").toString
    val inDir = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val evs = soup(42L, 300).sortBy(e => (e.us, e.event_id))
    val (h1, h2) = evs.splitAt(evs.size / 2)
    def drop(vs: Seq[AttrEvent]): Unit =
      vs.toDF().coalesce(1).write.mode("append").parquet(inDir)
    val outDir = s"$dir/out"
    def start() = StreamingAttribution.credits(
        spark.readStream.schema(evs.toDF().schema).parquet(inDir)
          .as[AttrEvent], T)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch((b: org.apache.spark.sql.Dataset[Credit], id: Long) =>
        b.write.mode("overwrite").parquet(s"$outDir/batch_id=$id"))
      .start()
    drop(h1)
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    drop(h2)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()
    val live = spark.read.parquet(outDir)
      .select("user_id", "purchase_id", "touch_id", "touch_type",
        "lin_cents", "u_cents")
      .as[Credit].collect()
    assert(live.length === live.toSet.size, "duplicate credit emission")
    assert(live.toSet === brute(evs),
      "restart lost or double-applied attribution state")
  }

  test("at-least-once redelivery of frontier-timestamp events is a no-op") {
    val touch = AttrEvent(1L, "click", 100L, 1L, 0L)
    val buy = AttrEvent(1L, "purchase", 200L, 2L, 900L)
    // clean run: one touch, one purchase, one credit
    val (s1, out1) = StreamingAttribution.fold(StreamingAttribution.empty,
      Seq(touch), T)
    val (s2, out2) = StreamingAttribution.fold(s1, Seq(buy), T)
    assert(out1.isEmpty && out2.size === 1)
    // the source redelivers the touch while it is still AT the frontier
    // (us == frontier): must not double-append the touch
    val (s1b, _) = StreamingAttribution.fold(s1, Seq(touch), T)
    assert(s1b === s1, "frontier-timestamp redelivery mutated state")
    // the source redelivers the purchase at its frontier: must not
    // re-emit credits
    val (s2b, out2b) = StreamingAttribution.fold(s2, Seq(buy), T)
    assert(out2b.isEmpty, "frontier-timestamp purchase re-emitted credits")
    assert(s2b === s2)
    // a whole-batch replay containing both (touch now a straggler,
    // purchase at the frontier) is also a no-op
    val (s2c, out2c) = StreamingAttribution.fold(s2, Seq(touch, buy), T)
    assert(out2c.isEmpty && s2c === s2, "batch replay was not idempotent")
  }

  test("within-batch duplicates collapse to one touch / one credit") {
    val touch = AttrEvent(1L, "view", 100L, 1L, 0L)
    val buy = AttrEvent(1L, "purchase", 200L, 2L, 700L)
    val (st, out) = StreamingAttribution.fold(StreamingAttribution.empty,
      Seq(touch, touch, buy, buy), T)
    assert(st.touches.size === 1, "duplicate touch buffered twice")
    assert(out.size === 1, "duplicate purchase paid twice")
    assert(out.head.lin_cents === 700L)
  }

  test("a purchase sharing its timestamp with a touch never credits it") {
    val evs = Seq(
      AttrEvent(1L, "view", 100L, 1L, 500L),
      AttrEvent(1L, "click", 200L, 2L, 500L),
      AttrEvent(1L, "purchase", 200L, 3L, 500L))
    val (_, out) = StreamingAttribution.fold(StreamingAttribution.empty,
      evs, T)
    assert(out.map(_.touch_type) === Seq("view"),
      "the tied click must be excluded; only the earlier view is paid")
    assert(out.head.lin_cents === 500L && out.head.u_cents === 500L)
  }
}
