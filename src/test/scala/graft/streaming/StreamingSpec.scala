package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import Events.Event
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  private def ev(id: String, user: Long, typ: String, tsMs: Long,
      tier: String = "gold", props: String = null, session: String = "s1") =
    Event(id, user, session, typ, new Timestamp(tsMs), tier, props)

  private def jsonOf(e: Event): String = {
    val props = Option(e.properties)
      .map(p => "\"" + p.replace("\"", "\\\"") + "\"").getOrElse("null")
    s"""{"event_id":"${e.event_id}","user_id":${e.user_id},"session_id":"${e.session_id}",
       |"event_type":"${e.event_type}","ts":"${e.ts}","user_tier":"${e.user_tier}",
       |"properties":$props}""".stripMargin.replaceAll("\n", "")
  }

  test("T7 parse splits valid from invalid; S12 DLQ carries error context") {
    import spark.implicits._
    val good = jsonOf(ev("e1", 1, "purchase", 1000000))
    val unknownType = jsonOf(ev("e2", 1, "teleport", 1000000))
    val garbage = "not json at all"
    val missingUser = """{"event_id":"e3","event_type":"login","ts":"2001-01-01 00:00:00"}"""
    val parsed = Events.parse(
      Seq(good, unknownType, garbage, missingUser).toDF("value"))
    val valid = Events.valid(parsed).collect()
    val dlq = Events.invalid(parsed).collect()
    assert(valid.map(_.event_id).toSeq === Seq("e1"))
    assert(dlq.length === 3)
    val errs = dlq.map(r => r.getAs[String]("payload") ->
      r.getSeq[String](1).mkString(",")).toMap
    assert(errs(unknownType).contains("unknown event_type"))
    assert(errs(garbage).contains("missing event_id"))
    assert(errs(missingUser).contains("missing user_id"))
  }

  test("ST5 dedup drops duplicate event_ids in a streaming query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = Events.deduped(Events.valid(Events.parse(mem.toDF().toDF("value"))))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val base = 979000000000L
      mem.addData(
        jsonOf(ev("d1", 1, "login", base)),
        jsonOf(ev("d1", 1, "login", base)), // exact dup
        jsonOf(ev("d2", 1, "search", base + 1000)))
      q.processAllAvailable()
      mem.addData(jsonOf(ev("d2", 1, "search", base + 1000))) // cross-batch dup
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id FROM dedup_out").collect().map(_.getString(0))
      assert(got.sorted.toSeq === Seq("d1", "d2"))
    } finally q.stop()
  }

  test("A14 fold accumulates counters and exact cents") {
    val e1 = ev("f1", 7, "page_view", 1000)
    val e2 = ev("f2", 7, "purchase", 2000, props = """{"amount": 12.34}""")
    val e3 = ev("f3", 7, "purchase", 3000, props = """{"amount": 0.66}""")
    val s = Sessionization.fold(None, Seq(e1, e2, e3)).get
    assert(s.event_count === 3 && s.page_views === 1 && s.purchases === 2)
    assert(s.total_spent_cents === 1300)
    assert(s.session_start_ms === 1000 && s.last_event_ms === 3000)
    // folding more events onto existing state continues, not restarts
    val s2 = Sessionization.fold(Some(s), Seq(ev("f4", 7, "search", 4000))).get
    assert(s2.event_count === 4 && s2.searches === 1)
    assert(s2.session_start_ms === 1000)
  }

  test("extractAmountCents: ints, decimals, missing, null") {
    import Sessionization.extractAmountCents
    assert(extractAmountCents("""{"amount": 5}""") === 500)
    assert(extractAmountCents("""{"amount":19.99,"x":1}""") === 1999)
    assert(extractAmountCents("""{"other": 3}""") === 0)
    assert(extractAmountCents(null) === 0)
  }

  test("ST1 sessionization: partial sessions per batch, completion on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 979000000000L
    val mem = MemoryStream[Event]
    val q = Sessionization.sessionize(mem.toDS(), timeoutMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("update").start()
    try {
      mem.addData(ev("s1", 42, "page_view", base + 1000),
        ev("s2", 42, "search", base + 2000))
      q.processAllAvailable()
      mem.addData(ev("s3", 42, "purchase", base + 3000, props = """{"amount": 10}"""),
        ev("s4", 99, "login", base + 3000))
      q.processAllAvailable()
      // jump event time by 3h: watermark passes 42's timeout...
      mem.addData(ev("s5", 7, "login", base + 3 * 3600 * 1000L))
      q.processAllAvailable()
      // ...and the timeout fires in the following batch
      mem.addData(ev("s6", 7, "search", base + 3 * 3600 * 1000L + 1000))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT user_id, event_count, purchases, total_spent_cents, is_complete
          |FROM sess_out""".stripMargin).collect()
      // user 42 partials: 2 events, then 3 events, all incomplete
      val u42p = rows.filter(r => r.getLong(0) == 42 && !r.getBoolean(4))
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
      assert(u42p.toSeq === Seq((2L, 0L, 0L), (3L, 1L, 1000L)))
      // user 42 completed session emitted by event-time timeout
      val u42c = rows.filter(r => r.getLong(0) == 42 && r.getBoolean(4))
      assert(u42c.length === 1)
      assert((u42c.head.getLong(1), u42c.head.getLong(2), u42c.head.getLong(3))
        === ((3L, 1L, 1000L)))
      val u99 = rows.filter(_.getLong(0) == 99)
      assert(u99.exists(_.getBoolean(4)), "user 99 session should also complete")
    } finally q.stop()
  }

  test("ST1 processing-time path: timeout branch emits completed session (TestGroupState)") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val folded = Sessionization.fold(None,
      Seq(ev("p1", 5, "page_view", 1000), ev("p2", 5, "purchase", 2000,
        props = """{"amount": 2.50}"""))).get
    // normal update: emits partial and arms the processing-time timeout
    val live = TestGroupState.create[Sessionization.SessionState](
      Optional.empty[Sessionization.SessionState], GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 100000L, eventTimeWatermarkMs = Optional.empty[Long],
      hasTimedOut = false)
    val partials = Sessionization.updateSessionState(1800000, eventTime = false)(
      5L, Iterator(ev("p1", 5, "page_view", 1000),
        ev("p2", 5, "purchase", 2000, props = """{"amount": 2.50}""")), live).toSeq
    assert(partials.map(p => (p.event_count, p.purchases, p.total_spent_cents,
      p.is_complete)) === Seq((2L, 1L, 250L, false)))
    assert(live.getTimeoutTimestampMs.isPresent)
    // timed-out call: emits the completed session and clears state
    val timedOut = TestGroupState.create[Sessionization.SessionState](
      Optional.of(folded), GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 100000L, eventTimeWatermarkMs = Optional.empty[Long],
      hasTimedOut = true)
    val fin = Sessionization.updateSessionState(1800000, eventTime = false)(
      5L, Iterator.empty, timedOut).toSeq
    assert(fin.map(f => (f.event_count, f.total_spent_cents, f.is_complete))
      === Seq((2L, 250L, true)))
    assert(timedOut.isRemoved)
  }

  test("ST1 processing-time timeout completes a session in a real streaming query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 979000000000L
    val mem = MemoryStream[Event]
    // 1s wall-clock inactivity timeout. NOTE: processAllAvailable can
    // NEVER be used with ProcessingTimeTimeout — armed timeouts make the
    // engine always schedule another batch, so it would block forever
    // (the round-1 gap this test closes). The sink is POLLED instead.
    // The 500 ms trigger leaves idle time between batches for the stop
    // below; the checkpoint is this suite's, so stop deletes nothing.
    val q = Sessionization.sessionize(mem.toDS(), timeoutMs = 1000,
        eventTime = false, watermark = None)
      .writeStream.format("memory").queryName("sess_pt_out")
      .option("checkpointLocation", tempDir("graft-st1-ckpt").toString)
      .trigger(Trigger.ProcessingTime(500))
      .outputMode("update").start()
    try {
      mem.addData(ev("pt1", 11, "page_view", base + 1000),
        ev("pt2", 11, "purchase", base + 2000, props = """{"amount": 4}"""))
      def completed() = spark.sql(
        """SELECT user_id, event_count, total_spent_cents, is_complete
          |FROM sess_pt_out WHERE user_id = 11 AND is_complete""".stripMargin)
        .collect()
      // wall clock passes the 1s inactivity timeout; the next 500 ms
      // trigger fires it — poll up to 30s
      val deadline = System.nanoTime() + 30L * 1000000000L
      var done = completed()
      while (done.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(250)
        done = completed()
      }
      assert(done.length === 1, "completed session never surfaced")
      assert((done.head.getLong(1), done.head.getLong(2)) === ((2L, 400L)))
    } finally {
      // stop between batches: a stop that lands mid-batch interrupts its
      // state commit or broadcast, which logs an ERROR. This narrows the
      // race but does not close it: a trigger can still start between the
      // idle check and stop()
      val idleBy = System.nanoTime() + 10L * 1000000000L
      while (q.status.isTriggerActive && System.nanoTime() < idleBy) Thread.sleep(5)
      q.stop()
    }
  }

  test("ST7/A7 funnel MV aggregates hourly windows in a streaming query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingAggs.funnel(mem.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      val h = 3600L * 1000
      mem.addData(
        ev("w1", 1, "page_view", h * 10 + 1000),
        ev("w2", 1, "add_to_cart", h * 10 + 2000),
        ev("w3", 2, "purchase", h * 10 + 3000),
        ev("w4", 2, "page_view", h * 11 + 1000)) // next hour
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT window.start, n_events, n_page_views, n_add_to_carts,
          |       n_purchases, approx_users FROM funnel_out""".stripMargin)
        .collect().sortBy(_.getTimestamp(0).getTime)
      assert(rows.length === 2)
      assert((rows(0).getLong(1), rows(0).getLong(2), rows(0).getLong(3),
        rows(0).getLong(4)) === ((3L, 1L, 1L, 1L)))
      assert(rows(0).getLong(5) === 2) // approx distinct of 2 users is exact here
      assert(rows(1).getLong(1) === 1)
    } finally q.stop()
  }

  test("A8 tier-performance MV extracts purchase amounts from JSON in-stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingAggs.tierPerformance(mem.toDS())
      .writeStream.format("memory").queryName("tier_out")
      .outputMode("update").start()
    try {
      val h = 3600L * 1000
      mem.addData(
        ev("t1", 1, "purchase", h * 5 + 1000, tier = "gold",
          props = """{"amount": 10.0}"""),
        ev("t2", 2, "purchase", h * 5 + 2000, tier = "gold",
          props = """{"amount": 30.0}"""),
        ev("t3", 3, "page_view", h * 5 + 3000, tier = "silver"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_tier, n_events, n_purchases, avg_purchase_amount FROM tier_out")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
      assert(rows("gold") === ((2L, 2L, Some(20.0))))
      assert(rows("silver") === ((1L, 0L, None))) // no purchases → null avg
    } finally q.stop()
  }

  test("A9 product-performance MV filters null products in-stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingAggs.productPerformance(mem.toDS())
      .writeStream.format("memory").queryName("prod_out")
      .outputMode("update").start()
    try {
      val h = 3600L * 1000
      mem.addData(
        ev("p1", 1, "product_view", h * 7 + 1000, props = """{"product_id": "P1"}"""),
        ev("p2", 2, "purchase", h * 7 + 2000, props = """{"product_id": "P1"}"""),
        ev("p3", 3, "page_view", h * 7 + 3000)) // no product → filtered
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT product_id, n_views, n_purchases FROM prod_out").collect()
      assert(rows.length === 1)
      assert(rows.head.getString(0) === "P1")
      assert((rows.head.getLong(1), rows.head.getLong(2)) === ((1L, 1L)))
    } finally q.stop()
  }

  test("ST6 mergeable sink: latest cumulative partial wins on read") {
    import spark.implicits._
    val dir = tempDir("graft-mv").toString
    // update-mode partials are CUMULATIVE snapshots per group, not deltas
    val b1 = Seq(("gold", 3L, 10L), ("silver", 1L, 5L))
      .toDF("user_tier", "n_events", "approx_users")
    val b2 = Seq(("gold", 5L, 12L)).toDF("user_tier", "n_events", "approx_users")
    StreamingAggs.appendPartials(b1, 0, dir)
    StreamingAggs.appendPartials(b2, 1, dir)
    val merged = StreamingAggs.mergeOnRead(spark, dir, Seq("user_tier"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // gold updated in batch 1: its newer snapshot replaces the older one
    assert(merged === Map("gold" -> ((5L, 12L)), "silver" -> ((1L, 5L))))
  }

  test("ST6 failure routes batch to onFailure instead of crashing") {
    import spark.implicits._
    var captured: Option[Long] = None
    val df = Seq(("x", 1L)).toDF("k", "v")
    // a path under a regular file can never be created — guaranteed failure
    val f = java.nio.file.Files.createFile(tempDir("graft-block").resolve("block.dat"))
    StreamingAggs.appendPartials(df, 7, f.toString + "/denied",
      (b, _) => captured = Some(b.count()))
    assert(captured === Some(1L))
  }
}
