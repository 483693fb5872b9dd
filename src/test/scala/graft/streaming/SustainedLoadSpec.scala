package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[SustainedLoad]] end-to-end contract at a test-sized rate: the full
  * parse→DLQ→dedup→{funnel MV, sessions} pipeline keeps up with the
  * offered rate, exactly 2% of events exit via the DLQ, and every valid
  * event becomes MV-visible (caught_up) with measured e2e samples.
  */
class SustainedLoadSpec extends SparkSpec {

  test("sustained load: 2% DLQ, sessions emitted, MV catches up") {
    val base = tempDir("graft-sustain").toString
    val r = SustainedLoad.run(spark, base,
      targetEps = 4000, durationSec = 5,
      eventsPerFile = 1000, triggerMs = 250, catchupTimeoutSec = 120)

    assert(r.files === 20, s"expected 20 files, got ${r.files}")
    assert(r.producedEvents === 20000L)
    assert(r.validEvents === 19600L)
    // the DLQ must receive EXACTLY the 2% planted invalid events — a
    // miswired validation (or a parse regression nulling whole rows)
    // shows up here as 100% DLQ
    assert(r.dlqRows === r.producedEvents / 50,
      s"DLQ must get exactly 2%, got ${r.dlqRows} of ${r.producedEvents}")
    assert(r.sessionRows > 0, "sessionization must emit closed sessions")
    assert(r.caughtUp, s"MV must account for every valid event " +
      s"(catchup ${r.catchupSec}s)")
    assert(r.e2e.nonEmpty && r.p95 > 0,
      "visibility crossings must produce e2e samples")
  }

  test("sweep self-adjudication: every rung carries its pre-run stamps, " +
    "compactRungs is [eps, ok, seqw, creates, predicted] per rung, and " +
    "the window verdict names the limiting rung's health") {
    val base = tempDir("graft-sweep").toString
    val s = SustainedLoad.sweep(spark, base,
      ladderEps = Seq(1000, 2000), probeSec = 4, recordSec = 6,
      overloadEps = 0, eventsPerFile = 500)
    assert(s.maxSustainableEps >= 1000,
      s"test-sized rate unsustainable: ${s.maxSustainableEps}")
    (s.probes :+ s.record).foreach { r =>
      assert(r.ioProbe.isDefined && r.cpuProbe.isDefined &&
        r.predictedMaxEps.isDefined && r.windowDegraded.isDefined,
        "every rung must stamp its own window")
    }
    val rungs = s.compactRungs()
    // shape: [[eps,ok,seqw,creates,predicted],...] — one entry per probe
    // + the record run, all numeric (the compact stdout line embeds this
    // verbatim, so a malformed entry would corrupt the driver's parse)
    val entries = rungs.stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
    assert(entries.length === s.probes.length + 1, rungs)
    entries.foreach { e =>
      val parts = e.split(",")
      assert(parts.length === 5, s"rung entry not 5 fields: [$e]")
      parts.foreach(p => assert(p.matches("-?\\d+"), s"non-numeric: $p in $rungs"))
      assert(parts(1) == "0" || parts(1) == "1")
    }
    assert(Set("healthy", "degraded", "underperformed_stamps")
      .contains(s.windowVerdict()), s.windowVerdict())
  }
}
