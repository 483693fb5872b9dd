package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ST24 live schema drift: merged streamed partials must reconstitute
  * the batch profile (counts exactly, sketch estimates within HLL
  * tolerance), and a planted producer fault — a column going null —
  * must surface in the drift table within its batch.
  */
class SchemaGateSpec extends SparkSpec {

  private def events = graft.sources.Tables.load(spark, sfDir, "events")

  test("merged streamed partials reconstitute the batch profile") {
    val ev = events
    val whole = SchemaGate.profile(SchemaGate.stack(ev))
      .select(col("c"), col("n"), col("n_null"),
        hll_sketch_estimate(col("sk")).cast("long").as("d"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // split into 3 "micro-batches", profile each, merge
    val parts = ev.withColumn("b", col("event_id") % 3)
    val partials = (0 to 2).map(i =>
      SchemaGate.profile(SchemaGate.stack(parts.filter(col("b") === i))))
      .reduce(_ unionByName _)
    val merged = SchemaGate.merge(partials)
      .select(col("c"), col("n"), col("n_null"),
        hll_sketch_estimate(col("sk")).cast("long").as("d"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    whole.foreach { case (c, (n, nn, d)) =>
      val (mn, mnn, md) = merged(c)
      assert((mn, mnn) === ((n, nn)), s"counts must merge exactly: $c")
      assert(math.abs(md - d) <= math.max(2L, d / 50),
        s"sketch estimate off after merge: $c $md vs $d")
    }
  }

  test("live drive: appended per-batch partials merge to the batch profile") {
    val dir = tempDir("graft-schema").toString
    val inDir = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val ev = events.select("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val (h1, h2) = (ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    h1.write.mode("append").parquet(inDir)
    val q = SchemaGate.start(
      spark.readStream.schema(ev.schema).parquet(inDir),
      s"$dir/out", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      h2.write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    val merged = SchemaGate.merge(spark.read.parquet(s"$dir/out")
        .select("c", "n", "n_null", "sk"))
      .select(col("c"), col("n"), col("n_null")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val whole = SchemaGate.profile(SchemaGate.stack(ev))
      .select(col("c"), col("n"), col("n_null")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(merged === whole, "live partials must merge to the batch profile")
  }

  test("a column going null surfaces in the drift table") {
    val base = SchemaGate.fit(events)
    try {
      // producer fault: props silently nulled in the live window
      val faulty = events.withColumn("props", lit(null).cast("string"))
      val served = SchemaGate.merge(
        SchemaGate.profile(SchemaGate.stack(faulty)))
      val drift = SchemaGate.drift(served, base).collect()
        .map(r => r.getString(0) ->
          ((r.getAs[Long]("null_drift_bp"),
            r.getAs[Long]("distinct_ratio_bp")))).toMap
      assert(drift("props")._1 === 10000L, "props must read 100% null drift")
      assert(drift("props")._2 === 0L, "props distinct must collapse")
      assert(drift("event_type")._1 === 0L, "untouched columns stay quiet")
      assert(math.abs(drift("event_type")._2 - 10000L) <= 200)
    } finally SchemaGate.release(base)
  }

  test("an n=0 profile row yields zero basis points, not silent nulls") {
    // profile() can't emit n=0 itself (groupBy over an empty stack emits
    // no groups), but drift() is also fed hand-merged partials — guard
    // the divisor like distinct_ratio_bp does instead of NULLing out
    // null_drift_bp for the whole column
    val zero = SchemaGate.profile(SchemaGate.stack(events))
      .withColumn("n", lit(0L)).withColumn("n_null", lit(0L))
    val base = SchemaGate.Baseline(zero)
    val live = SchemaGate.profile(SchemaGate.stack(events))
    val rows = SchemaGate.drift(live, base).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("base_null_bp")),
        s"base_null_bp NULL for ${r.getString(0)}")
      assert(!r.isNullAt(r.fieldIndex("null_drift_bp")),
        s"null_drift_bp NULL for ${r.getString(0)}")
      assert(r.getAs[Long]("base_null_bp") === 0L)
    }
  }
}
