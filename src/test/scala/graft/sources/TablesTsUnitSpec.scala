package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events `ts` on-disk encoding has changed across testdata generator
  * versions (TIMESTAMP(NANOS) stored as int64 vs native TIMESTAMP(MICROS)).
  * Round 10 shipped against nanos data and a micros regeneration silently
  * shifted every timestamp 1000× (2024 → 1970), breaking 14 oracle queries.
  * This spec pins the loader's unit probe: BOTH encodings of the same
  * instants must normalize to identical (ts, ts_ns) columns, so a future
  * regeneration flips the probe, not the results.
  */
class TablesTsUnitSpec extends SparkSpec {

  private val microsOfRow = Seq(
    (0L, 1704067200000000L, 8L, "error", 6.55, """{"k": 69}"""),
    (1L, 1704067432824425L, 46L, "click", 12.31, """{"k": 89}"""),
    (2L, 1706657832194062L, 7L, "view", 1.63, """{"k": 29}"""))

  private def writeDir(prefix: String): String =
    tempDir(prefix).toString

  test("nanos-long and micros-timestamp events files normalize identically") {
    val nanosDir = writeDir("graft-ts-nanos")
    val microsDir = writeDir("graft-ts-micros")

    val rows = microsOfRow.map { case (id, us, uid, et, v, p) =>
      Row(id, us, uid, et, v, p)
    }
    val longSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val asLong = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), longSchema)

    // nanos file: ts column is a plain int64 of epoch-NANOS (how a
    // TIMESTAMP(NANOS) file surfaces under the nanosAsLong legacy flag)
    asLong.withColumn("ts", col("ts") * 1000L)
      .write.parquet(s"$nanosDir/events.parquet")
    // micros file: ts is a native TimestampType → TIMESTAMP(MICROS) footer
    asLong.withColumn("ts", timestamp_micros(col("ts")))
      .write.parquet(s"$microsDir/events.parquet")

    assert(Tables.eventsTsIsNanos(spark, s"$nanosDir/events.parquet"))
    assert(!Tables.eventsTsIsNanos(spark, s"$microsDir/events.parquet"))

    val fromNanos = Tables.load(spark, nanosDir, "events")
    val fromMicros = Tables.load(spark, microsDir, "events")
    assert(fromNanos.schema === fromMicros.schema,
      "both encodings must present one normalized schema")

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("event_id"), col("ts").cast("string"), col("ts_ns"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .collect().map(_.mkString("|")).toSeq.sorted
    assert(canon(fromNanos) === canon(fromMicros),
      "the same instants must load identically from either encoding")

    // and the timestamps are the real instants, not a unit-shifted 1970
    val years = fromMicros.select(year(col("ts"))).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(years === Set(2024), s"expected 2024 instants, got $years")
  }

  test("driver testdata loads with sane event timestamps") {
    val ev = Tables.load(spark, sfDir, "events")
    val Row(lo: java.sql.Timestamp, hi: java.sql.Timestamp) =
      ev.agg(min(col("ts")), max(col("ts"))).head()
    assert(lo.getTime > 0L, "events must not collapse to the 1970 epoch")
    assert(hi.getTime - lo.getTime > 24L * 3600 * 1000,
      "the corpus must span more than a day")
    // ts_ns is the same instant at nano precision (a nanos-encoded file
    // may carry sub-microsecond remainder that `ts` truncates)
    val drift = ev.select(
      max(abs(col("ts_ns") - unix_micros(col("ts")) * 1000L))).head().getLong(0)
    assert(drift < 1000L, s"ts and ts_ns must agree to the micro, drift=$drift ns")
  }
}
