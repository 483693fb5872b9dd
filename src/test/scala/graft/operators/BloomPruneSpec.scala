package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Bloom join pruning: equality to the plain join under every sizing
  * (no false negatives is a STRUCTURAL property), measured shuffle
  * reduction under sort-merge, and the saturation / null / fpr edges.
  */
class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  private def li = Tables.load(spark, sfDir, "lineitem")
  private def urgentOrders = Tables.load(spark, sfDir, "orders")
    .filter(col("o_orderpriority") === "1-URGENT" &&
      col("o_orderstatus") === "F")
    .select("o_orderkey", "o_orderpriority")

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("pruned inner join ≡ plain join (default sizing)") {
    val pruned = BloomPrune.prunedJoin(li, "l_orderkey",
      urgentOrders, "o_orderkey")
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
    val plain = li.join(urgentOrders,
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
    assert(rowsOf(pruned) == rowsOf(plain))
    assert(pruned.count() > 0)
  }

  test("a saturated filter (tiny m) still yields the exact join — " +
    "false positives die in the join, false negatives cannot exist") {
    val pruned = BloomPrune.prunedJoin(li, "l_orderkey",
      urgentOrders, "o_orderkey", mBits = 256, k = 4)
      .select("l_orderkey", "l_linenumber")
    val plain = li.join(urgentOrders,
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber")
    assert(rowsOf(pruned) == rowsOf(plain))
    val model = BloomPrune.fit(urgentOrders, col("o_orderkey"), 256, 4)
    assert(model.fillRatio > 0.5,
      s"256 bits should saturate on ${model.probes / 4} keys")
  }

  test("every build key probes true (no false negatives, directly)") {
    val model = BloomPrune.fit(urgentOrders, col("o_orderkey"))
    val misses = urgentOrders
      .filter(!BloomPrune.mightContain(model, col("o_orderkey")))
      .count()
    assert(misses == 0L)
  }

  test("non-member false-positive rate at default sizing is tiny") {
    val model = BloomPrune.fit(urgentOrders, col("o_orderkey"))
    // keys far outside the orderkey domain: all non-members
    val absent = spark.range(10000000L, 10010000L).toDF("k")
    val fp = absent.filter(BloomPrune.mightContain(model, col("k"))).count()
    assert(fp < 10, s"fpr ${fp / 10000.0} at m=2^20 on a small build set")
  }

  test("null big-side keys probe false and never reach the join") {
    val model = BloomPrune.fit(urgentOrders, col("o_orderkey"))
    val withNulls = Seq[Option[Long]](Some(1L), None, None).toDF("k")
    val kept = withNulls.filter(BloomPrune.mightContain(model, col("k")))
    assert(kept.filter(col("k").isNull).count() == 0L)
  }

  test("unsound join types are refused") {
    intercept[IllegalArgumentException] {
      BloomPrune.prunedJoin(li, "l_orderkey", urgentOrders, "o_orderkey",
        joinType = "left_outer")
    }
  }

  private def sumMetric(p: SparkPlan, metric: String): Long =
    graft.metrics.QueryMetrics.nodes(p)
      .flatMap(_._1.metrics.get(metric)).map(_.value).sum

  test("under sort-merge, pruning cuts the fact-side shuffle hard") {
    // force the SMJ regime the operator exists for (the dim side would
    // broadcast at sf0.001 and hide the exchange entirely)
    withSql("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val plain = li.join(urgentOrders,
        col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").count()
      plain.collect()
      val plainShuffle = sumMetric(plain.queryExecution.executedPlan,
        "shuffleRecordsWritten")

      val pruned = BloomPrune.prunedJoin(li, "l_orderkey",
          urgentOrders, "o_orderkey")
        .groupBy("l_returnflag").count()
      pruned.collect()
      val prunedShuffle = sumMetric(pruned.queryExecution.executedPlan,
        "shuffleRecordsWritten")

      assert(plainShuffle > 0)
      assert(prunedShuffle < plainShuffle / 2,
        s"expected the bloom filter to cut shuffle records well below " +
          s"half: pruned=$prunedShuffle plain=$plainShuffle")
    }
  }

  test("broadcast-bitset pruned join ≡ plain join; words ride the " +
    "broadcast relation, not a plan literal (r19 j12 form)") {
    val pruned = BloomPrune.prunedJoinBroadcast(li, "l_orderkey",
      urgentOrders, "o_orderkey")
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
    val plain = li.join(urgentOrders,
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
    assert(rowsOf(pruned) == rowsOf(plain))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("__bloom_words"),
      s"bitset must be a broadcast attribute, not a literal:\n$plan")
    assert(plan.contains("element_at"), "probe must stay builtin")
  }

  test("broadcast-bitset sizing follows the build count; the cap bounds " +
    "the broadcast") {
    assert(BloomPrune.sizeBits(0) == (1 << 14))
    assert(BloomPrune.sizeBits(1000) == (1 << 14))   // 10k bits < floor
    assert(BloomPrune.sizeBits(15000) == (1 << 18))  // 150k bits -> 2^18
    assert(BloomPrune.sizeBits(1000000) == (1 << 24))
    assert(BloomPrune.sizeBits(100000000L) == (1 << 26)) // capped
  }

  test("under sort-merge, the broadcast-bitset form cuts the fact-side " +
    "shuffle like the literal form") {
    withSql("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val plain = li.join(urgentOrders,
        col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").count()
      plain.collect()
      val plainShuffle = sumMetric(plain.queryExecution.executedPlan,
        "shuffleRecordsWritten")

      val pruned = BloomPrune.prunedJoinBroadcast(li, "l_orderkey",
          urgentOrders, "o_orderkey")
        .groupBy("l_returnflag").count()
      pruned.collect()
      val prunedShuffle = sumMetric(pruned.queryExecution.executedPlan,
        "shuffleRecordsWritten")

      assert(plainShuffle > 0)
      assert(prunedShuffle < plainShuffle / 2,
        s"expected the broadcast bloom filter to cut shuffle records " +
          s"well below half: pruned=$prunedShuffle plain=$plainShuffle")
    }
  }

  test("the probe is a scan-side Filter of pure builtins (codegen'd), " +
    "below the join") {
    withSql("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val pruned = BloomPrune.prunedJoin(li, "l_orderkey",
        urgentOrders, "o_orderkey")
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("element_at"), "bloom probe filter missing")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
        "probe must stay builtin/codegen")
    }
  }

  private def withSql[A](kvs: (String, String)*)(f: => A): A = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
