package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end CDC pipeline: generate → unwrap → partitioned bronze sink →
  * pruned read → compaction, with the reference's own invariants.
  */
class CdcPipelineSpec extends SparkSpec {

  private val nUsers = 1000L
  private lazy val envelope = Cdc.generateUsersCdc(spark, nUsers)
  private lazy val typed = Cdc.unwrap(envelope)

  test("generator emits insert+update+delete mix with increasing LSN per key") {
    val n = envelope.count()
    val expected = nUsers + (nUsers + 2) / 3 + (nUsers + 10) / 11
    assert(n === expected)
    // per-key LSN strictly increasing in op order c < u < d
    val bad = envelope.groupBy("id")
      .agg(countDistinct("__source_lsn").as("d"), count(lit(1)).as("n"))
      .filter(col("d") =!= col("n")).count()
    assert(bad === 0)
  }

  test("unwrap casts decimal-as-string and epoch-ms without precision loss") {
    val r = typed.filter(col("id") === 3 && col("__op") === "u").head()
    assert(r.getAs[java.math.BigDecimal]("account_balance").scale === 2)
    // balance bump of +25 applied on update vs insert
    val ins = typed.filter(col("id") === 3 && col("__op") === "c").head()
    val diff = r.getAs[java.math.BigDecimal]("account_balance")
      .subtract(ins.getAs[java.math.BigDecimal]("account_balance"))
    assert(diff.doubleValue === 25.0)
    assert(r.getAs[java.sql.Timestamp]("updated_at").getTime ===
      r.getAs[java.sql.Timestamp]("created_at").getTime + 60000)
  }

  test("bronze sink writes Hive-style time partitions; read prunes them") {
    val dir = tempDir("graft-bronze").toString
    Cdc.writeBronze(typed, dir)
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(parts.exists(_.startsWith("year=")), s"no year= dirs in $parts")
    val back = Cdc.readBronze(spark, dir)
    assert(back.count() === envelope.count())
    // partition-pruned plan: filter on partition cols shows in the scan
    val pruned = back.filter(col("year") === 2001 && col("hour") === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(year"),
      s"partition filters not pushed:\n$plan")
    // round-trip values survive partitioning (spot: one known row)
    val r = back.filter(col("id") === 42 && col("__op") === "c").head()
    assert(r.getAs[String]("email") === "user42@example.com")
  }

  test("schema evolution mid-stream: old+new bronze in one scan, compaction across the boundary") {
    // The reference's CDC validation drill evolves the users table
    // mid-stream by adding a nullable column (`task9-validate-cdc.sh:
    // 295-420`); the registry gates it BACKWARD. End-to-end here:
    // phase-1 bronze written with the original envelope, phase-2 appended
    // with an extra nullable `phone` column and strictly higher LSNs.
    val dir = tempDir("graft-bronze-evo").toString
    val phase1 = typed
    Cdc.writeBronze(phase1, dir)
    // phase 2: a second wave of updates for id % 5 == 0, post-evolution
    // envelope (phone present), LSN above every phase-1 LSN for the key
    val phase2 = Cdc.unwrap(Cdc.generateUsersCdc(spark, nUsers))
      .filter(col("id") % 5 === 0 && col("__op") === "c")
      .withColumn("__op", lit("u"))
      .withColumn("__source_lsn", col("id") * 100 + 95)
      .withColumn("__ts_ms", col("__ts_ms") + 3600000L)
      .withColumn("__source_ts_ms", col("__source_ts_ms") + 3600000L)
      .withColumn("phone", concat(lit("+1-555-"),
        lpad((col("id") % 10000).cast("string"), 4, "0")))
    Cdc.writeBronze(phase2, dir, mode = "append")

    // ONE scan reads both phases; pre-evolution rows null-fill the column
    val back = Cdc.readBronze(spark, dir)
    assert(back.columns.contains("phone"))
    assert(back.count() === phase1.count() + phase2.count())
    val phase1Back = back.filter(col("__source_lsn") % 100 =!= 95)
    assert(phase1Back.filter(col("phone").isNotNull).count() === 0,
      "pre-evolution rows must read with NULL phone")
    assert(back.filter(col("__source_lsn") % 100 === 95)
      .filter(col("phone").isNull).count() === 0,
      "post-evolution rows must carry their phone values")

    // w4 compaction across the boundary: evolved keys surface the
    // phase-2 image (max LSN), un-evolved keys their phase-1 latest
    val cur = Cdc.currentState(back)
    val evolved = cur.filter(col("id") % 5 === 0 && col("id") % 11 =!= 0)
    assert(evolved.count() > 0)
    assert(evolved.filter(col("phone").isNull).count() === 0,
      "evolved keys must compact to the post-evolution image")
    assert(evolved.filter(col("__source_lsn") % 100 =!= 95).count() === 0)
    val untouched = cur.filter(col("id") % 5 =!= 0)
    assert(untouched.filter(col("phone").isNotNull).count() === 0)
    // LSN invariant holds across the evolution boundary: the compacted
    // row per key is the max-LSN row of the merged history
    val maxLsn = back.groupBy("id").agg(max("__source_lsn").as("mx"))
    val mismatches = cur.join(maxLsn, "id")
      .filter(col("__source_lsn") =!= col("mx")).count()
    assert(mismatches === 0, "compaction must pick the max-LSN row per key")
    // deletes still drop: id % 11 == 0 keys stay gone (phase 2 touched
    // only % 5 keys; a key divisible by both 5 and 11 is resurrected by
    // its later phase-2 update — verify one such key behaves that way)
    assert(cur.filter(col("id") === 55).count() === 1,
      "a post-delete update must resurrect the key (WAL order)")
    assert(cur.filter(col("id") === 11).count() === 0)
  }

  test("compaction: current state drops deleted keys, keeps latest version") {
    val cur = Cdc.currentState(typed)
    // every id%11==0 key is deleted; others present exactly once
    assert(cur.filter(col("id") % 11 === 0).count() === 0)
    val expectedLive = nUsers - (nUsers + 10) / 11
    assert(cur.count() === expectedLive)
    assert(cur.groupBy("id").count().filter(col("count") > 1).count() === 0)
    // updated keys surface the update image
    assert(cur.filter(col("id") === 3).head().getAs[String]("__op") === "u")
    // history retains deletes (audit view)
    assert(typed.filter(col("__op") === "d").count() === (nUsers + 10) / 11)
  }

  test("trigger replay: stock decrements and resets below threshold (section 2.9)") {
    import spark.implicits._
    // one part, movements of 40 each: 150 -> 110 -> 70 -> 30 -> -10<25 reset 150 -> 110 ...
    val moves = (1 to 6).map(i => (7L, i.toLong, 40L))
      .toDF("part_id", "seq", "qty")
    val out = Cdc.replayStock(moves, "part_id", "seq", "qty",
      initial = 150, resetBelow = 25, resetTo = 150)
      .orderBy("seq").collect()
    assert(out.map(_.getLong(3)).toSeq === Seq(110L, 70L, 30L, 150L, 110L, 70L))
    assert(out.map(_.getBoolean(4)).toSeq ===
      Seq(false, false, false, true, false, false))
    // keys fold independently (parallel across parts)
    val multi = Seq((1L, 1L, 100L), (2L, 1L, 10L), (1L, 2L, 100L))
      .toDF("part_id", "seq", "qty")
    val byKey = Cdc.replayStock(multi, "part_id", "seq", "qty")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(byKey((1L, 1L)) === 50L)
    assert(byKey((1L, 2L)) === 150L) // 50-100=-50 < 25 -> reset
    assert(byKey((2L, 1L)) === 140L)
  }

  test("trigger replay: NULL in a required column raises a descriptive error") {
    import spark.implicits._
    val withNull = Seq((Some(1L), Some(1L), Some(10L)), (Some(2L), Some(1L), None))
      .toDF("part_id", "seq", "qty")
    val e = intercept[Exception] {
      Cdc.replayStock(withNull, "part_id", "seq", "qty").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("replayStock: NULL in required column 'qty'")))
  }

  test("reference invariant: row with max id == row with max LSN (read_s3_parquet.py:51)") {
    val inserts = typed.filter(col("__op") === "c")
    val maxId = inserts.orderBy(col("id").desc).head().getLong(0)
    val maxLsn = inserts.orderBy(col("__source_lsn").desc).head().getLong(0)
    assert(maxId === maxLsn)
  }
}
