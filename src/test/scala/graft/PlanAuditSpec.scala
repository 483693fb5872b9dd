package graft

import org.apache.spark.sql.functions._

/** Plan-shape audit: the 100 TB posture is only real if the physical
  * plans show it. These tests pin the properties the operator docs claim —
  * filter pushdown, column pruning, broadcast dimension joins, and the
  * absence of cartesian products — so a refactor that silently degrades a
  * plan fails CI, not the cluster.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("t4: filters push down to the parquet scan; columns pruned") {
    val plan = planOf("t4_filter_project")
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert(plan.contains("l_returnflag") && plan.contains("l_quantity"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    // only the queried columns reach the scan
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"column pruning failed: $readSchema")
  }

  test("dimension joins broadcast the small side (j2, a7, x6)") {
    for (q <- Seq("j2_items_parts_enrich", "a7_funnel", "x6_ann_topk")) {
      val plan = planOf(q)
      assert(plan.contains("Broadcast"), s"$q does not broadcast:\n$plan")
    }
  }

  test("no query plans a cartesian product") {
    SparkEntry.queries.keys.foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q contains a cartesian product:\n$plan")
    }
  }

  test("q10 profile: two scans, no Expand (plain aggregates, single-distinct stack)") {
    val plan = planOf("q10_column_profile")
    assert(!plan.contains("Expand"),
      s"q10 grew an Expand (multi-distinct blowup):\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"q10 scans the table $scans times:\n$plan")
  }

  test("j9/j10/j11 range joins plan bucket equi-joins, never BroadcastNestedLoop") {
    // the failure mode for a non-equi join is BNLJ (small side) or a
    // cartesian (checked inventory-wide above): the bucketized rewrite
    // must keep both out of the plan even though the predicates are ranges
    for (q <- Seq("j9_range_join", "j10_interval_overlap",
        "j11_range_join_left")) {
      val plan = planOf(q)
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to BroadcastNestedLoopJoin:\n$plan")
    }
  }

  test("j1 pre-aggregated rollup plans no Expand (no dual-distinct blowup)") {
    val plan = planOf("j1_customer_orders_items")
    assert(!plan.contains("Expand"),
      s"j1 re-grew a distinct-aggregate Expand:\n$plan")
  }

  test("w4 compaction shuffles exactly once (keyed window)") {
    val plan = planOf("w4_latest_by_key")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    // one hash-partition exchange for the window; orderBy adds a range
    // exchange on the tiny filtered output only
    assert(exchanges <= 2, s"unexpected shuffles:\n$plan")
  }

  test("top-k-terms queries plan bounded aggregates, not vocabulary windows") {
    // t25/x20/x24 rank a vocabulary-count table: a row_number window
    // (partitioned by source, or unpartitioned for the global x24) would
    // funnel each group's ENTIRE vocabulary — corpus-growing at 100 TB —
    // through one task. The bounded TopKTerms aggregate moves ≤ k rows
    // per (task, group); this pin fails any refactor that re-grows the
    // window form.
    for (q <- Seq("t25_top_shingles", "x20_salient_terms", "x24_vocab_drift")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"),
        s"$q plans a window over the vocabulary table:\n$plan")
      assert(plan.contains("TopKTerms"),
        s"$q lost its bounded top-k aggregate:\n$plan")
    }
  }

  test("a19 window funnel plans zero joins (linear per-user scan, not pairs)") {
    // the r12 formulation materialized |views|·|clicks| pairs per user —
    // quadratic in per-key density. The linear rewrite is two stacked
    // range-frame window maxes + one user-keyed aggregate: any Join node
    // reappearing here means the pair plan crept back.
    for (q <- Seq("a19_window_funnel", "a20_window_funnel4")) {
      val plan = planOf(q)
      assert(!plan.contains("Join"), s"$q re-grew a join:\n$plan")
    }
    val plan = planOf("a19_window_funnel")
    // one hash exchange for the user window (the groupBy rides it), one
    // for the level histogram, one range exchange for the orderBy
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 3, s"a19 shuffles more than expected:\n$plan")
    assert(plan.contains("Window"), s"a19 lost its window formulation:\n$plan")
  }

  test("x70 plans no unpartitioned window (global row_number removed, r15 verdict)") {
    // the r15 audit shipped a true single-partition sort of the corpus
    // (Window.orderBy over every doc — the source of the official bench
    // tail's "No Partition Defined" warnings). The rewrite derives the
    // identical adjacent-pair set from range repartition + pid-partitioned
    // lags + a broadcast boundary stitch; this pin fails if ANY WindowExec
    // with an empty partitionSpec appears in (a) the lagged-range build
    // plan (hidden from the final query by the lineage-truncating memo,
    // so it is audited directly) or (b) the final x70 plan.
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan) =
      graft.metrics.QueryMetrics.nodes(p).map(_._1)
    def bareWindows(df: org.apache.spark.sql.DataFrame) =
      allNodes(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val synthetic = (0L until 100L).map(i => (i, i % 8, i * 1.5))
      .toDF("doc_id", "topic", "score")
    for (sortCols <- Seq(
        Seq(col("topic"), col("score").desc, col("doc_id")),
        Seq(col("doc_id")))) {
      val build = graft.text.TextQueries.laggedRanged(synthetic, sortCols)
      val bare = bareWindows(build)
      assert(bare.isEmpty, s"lagged-range build has ${bare.size} " +
        s"unpartitioned WindowExec node(s):\n${build.queryExecution.executedPlan}")
      assert(allNodes(build.queryExecution.executedPlan)
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        "lagged-range build lost its (partitioned) window")
    }
    val full = SparkEntry.queries("x70_semantic_packing")(spark, sfDir)
    assert(bareWindows(full).isEmpty,
      s"x70 final plan re-grew an unpartitioned WindowExec")
  }

  test("x13/x30 stay fixed-shuffle single-scan-family plans (r13 bench-swing pin)") {
    // both queries swung ~3x in the r13 driver window (absolute < 1 s)
    // and re-measured back at baseline on a healthy window (NOTES r14).
    // This pins the STRUCTURE so a future swing is attributable to the
    // box, not silent plan growth: x13 is one fp-keyed join + one
    // aggregation; x30 is two aggregations over one events scan united
    // by a broadcast scalar. Neither may grow a sort-merge join, a
    // cartesian, or extra exchanges.
    val p13 = planOf("x13_dedup_incremental")
    assert(!p13.contains("SortMergeJoin") && !p13.contains("Cartesian"),
      s"x13 fp join left broadcast/hash territory:\n$p13")
    assert(p13.linesIterator.count(_.contains("Exchange")) <= 6,
      s"x13 grew shuffles:\n$p13")
    val p30 = planOf("x30_temporal_split")
    assert(!p30.contains("SortMergeJoin") && !p30.contains("Cartesian"),
      s"x30 scalar overlap join must broadcast:\n$p30")
    assert(p30.linesIterator.count(_.contains("Exchange")) <= 7,
      s"x30 grew shuffles:\n$p30")
  }

  test("whole-stage codegen covers the aggregation pipelines") {
    // AQE finalizes the plan only on execution; codegen stages then show
    // as starred operators (*(n) HashAggregate...) in the final plan.
    val df = SparkEntry.queries("a2_daily_order_kpis")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), plan.take(300))
    assert(plan.contains("*("), s"no WholeStageCodegen stages:\n${plan.take(800)}")
  }

  test("x22: sketch cells and probes join by broadcast, never shuffling the scan") {
    val plan = planOf("x22_countmin")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"x22 probe joins must broadcast the tiny sketch/probe side:\n$plan")
  }

  test("st8: interval join is an equi-join on the user key, ranges as filters") {
    val plan = planOf("st8_attribution")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"st8 must hash/merge-join on the user equality, not loop:\n$plan")
  }

  test("e4: pivot compiles to one conditional-aggregate pass (no Expand)") {
    val plan = planOf("e4_pivot")
    assert(!plan.contains("Expand"),
      s"pivot must be one pass of conditional aggregates:\n$plan")
  }

  test("x26 chunking is map-only: no shuffle beyond the bounded-output sort") {
    val plan = planOf("x26_chunking")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    // the sequence/explode expansion must stay in the scan's tasks; only
    // the final orderBy of the id-gated output may range-exchange
    assert(exchanges <= 1, s"chunking grew a shuffle:\n$plan")
  }

  test("x41 segment dedup decides first-occurrence without a corpus window") {
    val plan = planOf("x41_dedup_segments")
    // the decision is a combinable min-groupBy + semi-join on the
    // fingerprint; a Window over the corpus-wide segment stream would
    // sort every segment per key and not partial-aggregate
    assert(!plan.contains("Window"), s"x41 grew a corpus window:\n$plan")
    assert(plan.contains("LeftSemi"), s"survivors must semi-join:\n$plan")
  }

  test("x67 hard negatives: x6 brute shape — anchors broadcast, " +
    "top-k is a bounded aggregate, never a corpus window") {
    val plan = planOf("x67_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"capped anchor vectors must broadcast onto the doc scan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"x67 grew a non-broadcast cartesian:\n$plan")
    assert(!plan.contains("Window"),
      s"per-anchor top-k must be the bounded TopKTerms aggregate:\n$plan")
  }

  test("SmallSortRule: a runtime-small terminal sort drops its range " +
    "exchange (coalesce-1 local sort), a corpus-sized sort keeps it, " +
    "and the spark.graft.smallSort.enabled kill switch works") {
    // the AQE FINAL plan only — executedPlan.toString includes the
    // "Initial Plan" section, which always shows the pre-rule exchange
    def finalPlanOf(df: org.apache.spark.sql.DataFrame): String =
      graft.metrics.QueryMetrics.nodes(df.queryExecution.executedPlan).head._1.toString
    def smallQ() = spark.range(100000L)
      .select((col("id") % 97).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s")).orderBy("s")
    val small = smallQ()
    val rows = small.collect()
    // semantics: the one-partition local sort IS a total order
    val ss = rows.map(_.getLong(1)).toSeq
    assert(ss == ss.sorted, "rewritten sort lost the total order")
    val sp = finalPlanOf(small)
    assert(!sp.contains("rangepartitioning"),
      s"rule did not fire — runtime-small sort kept its range exchange:\n$sp")
    assert(sp.contains("Coalesce 1"),
      s"rule did not fire — no single-partition coalesce under the sort:\n$sp")
    // corpus-sized (300k rows > spark.graft.smallSort.maxRows): identity
    val big = spark.range(300000L)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
      .groupBy("k").agg(sum("v").as("s")).orderBy(org.apache.spark.sql
        .functions.desc("s"))
    big.collect()
    val bp = finalPlanOf(big)
    assert(bp.contains("rangepartitioning"),
      s"rule fired on a corpus-sized sort — scale-identity violated:\n$bp")
    // kill switch (the key the code reads — the r18 ADVICE found the
    // docstring naming an unprefixed variant)
    spark.conf.set("spark.graft.smallSort.enabled", "false")
    try {
      val off = smallQ()
      off.collect()
      val op = finalPlanOf(off)
      assert(op.contains("rangepartitioning"),
        s"kill switch ignored — small sort still rewritten:\n$op")
    } finally spark.conf.unset("spark.graft.smallSort.enabled")
  }

  test("j12 bloom probe is a builtin Filter in the fact scan stage, " +
    "bitset on a broadcast relation (no plan literal)") {
    val plan = planOf("j12_bloom_pruned_join")
    assert(plan.contains("element_at"), s"bloom probe missing:\n$plan")
    assert(plan.contains("__bloom_words"),
      s"bitset must ride the one-row broadcast, not a plan literal:\n$plan")
    assert(!plan.contains("BatchEvalPython"), "probe must stay codegen")
  }

  test("t29 cleans each block ONCE: the entity chain appears a single " +
    "time in the plan (the one-pass r14 rewrite must not re-inline)") {
    // before the blockPairs rewrite the clean chain was textually
    // re-inlined ~8x per segment (keepBlock alone referenced it three
    // times); CollapseProject keeps the withColumn boundary because the
    // pair array is non-cheap and multi-referenced. If a refactor
    // re-inlines it, the chain's entity literal shows up repeatedly.
    val plan = planOf("t29_html_strip")
    val occurrences = "&quot;".r.findAllIn(plan).size
    assert(occurrences <= 1,
      s"t29 clean chain inlined $occurrences times — one-pass structure lost:\n$plan")
  }

  test("x40 semantic dedup blocks on the cluster id (equi-join, never BNLJ)") {
    val plan = planOf("x40_semantic_dedup")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"x40 must equi-join on cid:\n$plan")
  }

  test("x55 scores through a broadcast model join, never a corpus window") {
    // x55 reads the memoized scored frame (shared with x58), so the
    // audited shape lives in the UNDERLYING dsirScores build plan — the
    // laggedRanged precedent: a checkpointed memo hides the build from
    // the final query's executed plan, the audit must look at the build
    val plan = graft.text.CurationQueries.dsirScores(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the only window allowed is the per-doc bigram lag; the 512-row
    // model and the scoring join must broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"x55 model join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"x55 cartesian:\n$plan")
    // and the memoized query itself must stay cartesian-free
    val qplan = planOf("x55_dsir_selection")
    assert(!qplan.contains("CartesianProduct"), s"x55 cartesian:\n$qplan")
  }

  test("x56/x57 take the inverted-index path: query side broadcast, no corpus pairs") {
    Seq("x56_bm25_retrieval", "x57_hybrid_rrf").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q query-term join must broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
    }
  }

  test("q8 lattice levels reuse ONE cached joined projection") {
    val plan = planOf("q8_k_anonymity")
    // four generalization levels over the same PlanCache'd frame: each
    // level's aggregate must read the memoized projection — rendered as
    // InMemoryTableScan for a persisted frame or Scan ExistingRDD for a
    // lineage-truncated (checkpointed) one
    assert(plan.linesIterator.count(l =>
        l.contains("InMemoryTableScan") || l.contains("Scan ExistingRDD")) >= 4,
      s"q8 levels must read the cached projection:\n$plan")
  }

  test("x28 surprisal broadcasts the scalar total (no cartesian, no extra shuffle)") {
    val plan = planOf("x28_unigram_surprisal")
    assert(plan.contains("Broadcast"),
      s"corpus-total must broadcast onto the token frame:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian blowup:\n$plan")
  }

  test("x29 sampling plans one scan and no joins") {
    val plan = planOf("x29_quality_weighted_sample")
    assert(!plan.contains("Join"),
      s"hash-deterministic sampling must not join:\n$plan")
    assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"expected exactly one scan:\n$plan")
  }

  test("e7 grouping sets compile to ONE Expand pass over one scan") {
    val plan = planOf("e7_grouping_sets")
    // the whole point vs three separate rollup scans: a single read of the
    // fact table expanded 3× in-task, one shuffle for the aggregate
    assert(plan.contains("Expand"), s"grouping sets lost the Expand form:\n$plan")
    assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"expected exactly one fact scan:\n$plan")
  }

  test("w9 first/last consolidation is one aggregate: broadcast dim, no window") {
    val plan = planOf("w9_first_last_order")
    assert(plan.contains("Broadcast"), s"customer dim must broadcast:\n$plan")
    // min_by/max_by ride the groupBy shuffle; a row_number-window + self-join
    // re-growth would funnel per-group history through sorts
    assert(!plan.contains("Window"), s"w9 re-grew a window:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"first/last must stay in hash aggregation:\n$plan")
  }

  test("q7 medians run over the cached daily pre-aggregate, not the fact table") {
    val plan = planOf("q7_outlier_days")
    // med, dev, and mad all reference the PlanCache'd daily frame: every
    // branch must read InMemoryTableScan, never re-derive from the fact
    // table (static planning cannot reuse the exchange across subtrees —
    // without the cache this is 4 fact scans at 100 TB)
    assert(plan.contains("InMemoryTableScan"),
      s"q7 lost the cached daily pre-aggregate:\n$plan")
    assert(!plan.contains("Window"), s"q7 must not window:\n$plan")
  }

  test("x34 survivorship broadcasts the cluster map onto one documents scan") {
    val plan = planOf("x34_survivorship")
    assert(!plan.contains("Window"), s"x34 re-grew a window:\n$plan")
    // the pair-graph-sized cluster assignment must broadcast; shuffling the
    // corpus against it would re-shuffle every document at 100 TB
    assert(plan.contains("BroadcastHashJoin"),
      s"x34 must broadcast the cluster assignment:\n$plan")
    assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"expected exactly one documents scan:\n$plan")
  }

  test("x36 global top-k plans TakeOrdered, reuses the cached tf table") {
    val plan = planOf("x36_vocab_coverage")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-100 lost its bounded heap form:\n$plan")
    assert(!plan.contains("Window"), s"x36 re-grew a window:\n$plan")
    // ranking, coverage, and totals all read the cached tf table — one
    // corpus scan total (at materialization), not three; the memo marker
    // is Scan ExistingRDD since the r16 lineage-truncation conversion
    assert(plan.contains("InMemoryTableScan") ||
        plan.contains("Scan ExistingRDD"),
      s"x36 lost the cached tf table:\n$plan")
  }

  test("partition pruning on time-partitioned bronze (cdc sink)") {
    val dir = tempDir("graft-prune").toString
    graft.cdc.Cdc.writeBronze(
      graft.cdc.Cdc.unwrap(graft.cdc.Cdc.generateUsersCdc(spark, 500)), dir)
    val pruned = spark.read.parquet(dir).filter(col("hour") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(hour"),
      s"no partition filters:\n$plan")
  }

  test("minute-grain bronze prunes to a single minute's files (S4 sub-hour)") {
    val dir = tempDir("graft-prune-min").toString
    val envelope = graft.cdc.Cdc.unwrap(graft.cdc.Cdc.generateUsersCdc(spark, 500))
    graft.cdc.Cdc.writeBronze(envelope, dir, grain = "minute")
    // minute directories exist under hour directories
    val minuteDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var sawMinute = false
    minuteDirs.forEachRemaining(p =>
      if (p.getFileName.toString.startsWith("minute=")) sawMinute = true)
    assert(sawMinute, "no minute= partition directories written")
    // prune to one (hour, minute) actually present in the generated data
    val target = spark.read.parquet(dir)
      .select("hour", "minute").distinct().orderBy("hour", "minute").head()
    val pruned = spark.read.parquet(dir)
      .filter(col("hour") === target.getInt(0) && col("minute") === target.getInt(1))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("minute"),
      s"minute not in partition filters:\n$plan")
    // the pruned scan returns only that minute's rows; the table has more
    val all = spark.read.parquet(dir).count()
    assert(pruned.count() > 0 && pruned.count() < all)
  }

  test("radix-select order statistics never range-partition the corpus") {
    // the RadixSelect contract is "order statistics without a global
    // sort": the only range exchange allowed is the final orderBy of
    // the tiny output census — a second one means a corpus sort (or
    // per-group ntile/row_number funnel) crept back in
    for (q <- Seq("w12_rfm_segments", "x62_token_budget_selection",
        "w13_winsorized_stats", "x58_dsir_quota")) {
      val plan = planOf(q)
      val ranges = plan.linesIterator
        .count(_.contains("Exchange rangepartitioning"))
      assert(ranges <= 1,
        s"$q range-partitions beyond the output orderBy ($ranges):\n$plan")
    }
  }

  test("x63 linkage: capped blocks via broadcast anti-join, no BNLJ") {
    // audit the candidate BUILDER's plan directly: the query memoizes
    // its output per corpus dir, so planOf would only show the cached
    // scan (the builder shape is what must hold at 100 TB)
    val plan = graft.dedup.LinkageQueries.candidatePairs(
      graft.dedup.LinkageQueries.linkageRecords(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"x63 lost its block-size df-cap anti-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"x63 degraded to BroadcastNestedLoopJoin:\n$plan")
  }

  /** Total shuffle-write RECORDS of one full execution — the work metric
    * plan text can't show — counted over the execution's own job group.
    */
  private def shuffleRecordsOf(name: String): Long =
    graft.metrics.QueryMetrics.of(spark).measure(s"plan-audit-$name") {
      Bench.force(SparkEntry.queries(name)(spark, sfDir))
    }._2.shuffleWriteRecords

  test("x2/a13/x62/x63 shuffle-record ceilings (driver-window swing pins)") {
    // All four swung >1.5x in the r14 driver window with correctness
    // green and plan shape unchanged. A plan-text pin cannot separate
    // "the box was throttled" from "the plan silently moves more rows" —
    // these ceilings can: they bound the RECORDS each query may shuffle
    // at sf0.001, ~2x the measured value (NOTES r15), far below the
    // order-of-magnitude growth of a real work regression (w13's caught
    // defect was 15,783x). A refactor that re-grows the shuffled stream
    // fails here mechanically; a throttled window cannot.
    // measured at sf0.001 (NOTES r15): x2 4486, a13 7788, x62 542,
    // x63 8412, x68 2281 — caps sit ~2x above
    val ceilings = Seq(
      // fused band-signature join, df-capped buckets, pair-dedup groupBy
      "x2_dedup_minhash_lsh" -> 9000L,
      // one-pass sortable-bits histogram + targeted-bin selection
      "a13_percentiles" -> 16000L,
      // bounded-histogram weighted threshold + broadcast cut frames
      "x62_token_budget_selection" -> 1200L,
      // capped blocking, 16-byte pair dedup, broadcast anti-join
      "x63_record_linkage" -> 17000L,
      // r15: vocabulary-bounded BPE learn + broadcast dictionary join —
      // the shuffled stream is docs-sized partials, never re-tokenized
      // corpus (10x soak: shuffle ratio 2.5, wall 0.63x)
      "x68_bpe_token_budget" -> 4600L)
    for ((q, cap) <- ceilings) {
      val rec = shuffleRecordsOf(q)
      info(s"$q shuffled $rec records (cap $cap)")
      assert(rec >= 0 && rec <= cap, s"$q shuffled $rec records (cap $cap)")
    }
  }

  test("x70/x46 packing order: centroids broadcast onto the weight stream, " +
    "no corpus-sized sort-merge join") {
    // the centroid argmax lives in the x46 clustering machinery x70
    // shares (topicAssign); since r16 the consumer-facing frames are
    // lineage-truncated memos (task-binary fix), so the broadcast
    // property is audited on the PURE assignment plan the memo builds
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, i % 64, 1L + i % 5))
      .toDF("doc_id", "bucket", "wsum")
    val seed = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.pmod(col("doc_id"),
        org.apache.spark.sql.functions.lit(8L)).as("cid0"))
    val (cent, cnorm) = graft.text.TextQueries.topicCentroids(docs, seed)
    val plan = graft.text.TextQueries
      .topicAssign(docs, docs.select("doc_id"), cent, cnorm, 8L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"x46/x70 centroid joins must broadcast:\n$plan")
  }

  test("x71 water-fill: the fill-level frame broadcasts back onto the " +
    "per-source frame (post-agg tiny-frame lesson)") {
    val plan = planOf("x71_epoch_waterfill")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"x71 star/tot frames must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"x71 plans a cartesian:\n$plan")
  }

  test("q18/x70/x71 shuffle-record ceilings (r15 introductions)") {
    val ceilings = Seq(
      // two 64-file deals over one orders scan, each dealing through a
      // range repartition + pid window (r16: the global ntile is gone,
      // so the deal shuffles ~2 distributed copies of orders per layout
      // instead of funneling 2 corpus copies through ONE task; measured
      // 6,138 at sf0.001 ≈ 4.1× the 1,500 orders — linear in input)
      "q18_zorder_skipping" -> 12000L,
      // x46 centroid scoring + two global orders + pair-bucket join:
      // measured 114k at sf0.001 ≈ 3.5 shuffled copies of the docs×64
      // weight stream (pairs join it twice, once per order) — linear in
      // docs, never pair-quadratic
      "x70_semantic_packing" -> 230000L,
      // O(sources) frames after the unique-mass aggregate
      "x71_epoch_waterfill" -> 4000L)
    for ((q, cap) <- ceilings) {
      val rec = shuffleRecordsOf(q)
      info(s"$q shuffled $rec records (cap $cap)")
      assert(rec >= 0 && rec <= cap, s"$q shuffled $rec records (cap $cap)")
    }
  }

  test("x72 PageRank: node-count frames broadcast; no cartesian; " +
    "edge frame reused across iterations via one persisted copy") {
    val plan = planOf("x72_copurchase_pagerank")
    assert(!plan.contains("CartesianProduct"), s"x72 plans a cartesian:\n$plan")
    // the 1-row N broadcasts live inside the rank build, which the
    // lineage-truncated memo hides from the final plan since r16 — audit
    // them on the PURE iteration plan over a synthetic edge frame
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 2L), (3L, 2L, 2L))
      .toDF("u", "v", "w")
    val pure = graft.operators.PageRank
      .runOnWeighted(graft.operators.PageRank
        .weightedEdges(spark, edges), 2)
      .queryExecution.executedPlan.toString
    assert(pure.contains("BroadcastExchange") ||
      pure.contains("BroadcastNestedLoopJoin"),
      s"x72 1-row N frames must broadcast:\n$pure")
    assert(plan.contains("InMemoryTableScan") ||
        plan.contains("Scan ExistingRDD"),
      s"x72 weighted-edge frame must come from the memoized copy:\n$plan")
  }

  test("x73 label audit: query sample broadcasts onto the corpus stream") {
    val plan = planOf("x73_knn_label_audit")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"x73 query set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"x73 plans a cartesian:\n$plan")
  }

  test("x72/e13/q20/x73 shuffle-record ceilings (r15 third wave)") {
    // measured at sf0.001: x72 49,692 (pair build + edge/wdeg frames +
    // K=4 iterations of node-sized rank shuffles and map-side-combined
    // inflow partials — linear in orders, never node-quadratic), e13
    // 4,376 (daily grain once + 7-row frames), q20 2 (only the two
    // 1×(rules+1) agg rows ever shuffle), x73 320 (top-k rows per
    // query, never the corpus). Caps sit ~2x above.
    val ceilings = Seq(
      "x72_copurchase_pagerank" -> 100000L,
      "e13_seasonal_forecast" -> 9000L,
      "q20_contract_audit" -> 100L,
      "x73_knn_label_audit" -> 700L,
      // x74 reads the cached x46 scoring pass; its own shuffles are the
      // doc-norm agg + per-doc min/agg (measured 55,441 COLD at
      // sf0.001 — the shared-chain build included, since suite order
      // decides who builds the cache first)
      "x74_cluster_silhouette" -> 110000L,
      // four linear gram rungs, benchmark-bounded semi joins
      "x75_contamination_extent" -> 28000L)
    for ((q, cap) <- ceilings) {
      val rec = shuffleRecordsOf(q)
      info(s"$q shuffled $rec records (cap $cap)")
      assert(rec >= 0 && rec <= cap, s"$q shuffled $rec records (cap $cap)")
    }
  }

  test("r15 fourth-wave shuffle-record ceilings") {
    // x76: ONE Gram-kernel pass; the only shuffle is the partial-agg
    // tree of the 2,145-key merge (≤ 2,145 partial rows per map task,
    // i.e. tasks × keys — cluster-bounded, corpus-independent; measured
    // 2,209 at sf0.001 with a single-partition qframe; cap = 32
    // local partitions' worth)
    val ceilings = Seq(
      "x76_embedding_anisotropy" -> 70000L,
      // w15: one user-partitioned window pass over events (sessionize +
      // journey split + transition extraction), then a (channels+2)^2
      // transition-count agg; the absorption rounds run driver-side over
      // that bounded matrix, so the shuffle is ~2 event copies (window
      // repartition + count partials), linear in events, never more
      // (measured 1,035 at sf0.001; cap ~2x)
      "w15_markov_attribution" -> 2100L,
      // x77: per-distinct-score class counts (combinable) + the
      // bounded bin histogram + radix-select boundary pass — shuffled
      // rows are score-distinct partials, never the corpus
      // (measured 3,066 at sf0.001; cap ~2x)
      "x77_scorer_calibration" -> 6200L,
      // x78: two doc-linear rank joins + the O(1) moment row + two
      // bounded-histogram median selects over the cached ranked frame
      // (measured 6,407 at sf0.001; cap ~2x)
      "x78_signal_agreement" -> 13000L,
      // x79: broadcast query×width frame onto one corpus stream — only
      // the k·nQ·|widths| winner rows + per-width norms ever shuffle
      // (measured 519 at sf0.001; cap ~2x)
      "x79_mrl_truncation" -> 1100L,
      // x80: token-keyed combinable aggs + vocab×|S|-bounded grid joins
      // (measured 2,146 at sf0.001; cap ~2x)
      "x80_source_crossentropy" -> 4300L,
      // x81: one scan + a (L × source)-keyed combinable agg — the
      // shuffle is |L|·|sources| partial rows (measured 120 at sf0.001)
      "x81_context_waste" -> 300L,
      // e14: one calendar-bounded daily agg feeds a driver BigInt fold —
      // shuffled rows are the daily partials, never orders
      // (measured 1,097 at sf0.001; cap ~2x)
      "e14_autocorrelation" -> 2200L,
      // x82: one vocabulary agg + a ≤64-row bucket frame
      // (measured 39 at sf0.001)
      "x82_zipf_audit" -> 100L,
      // q22: one scan + a 2-cell census (measured 5 at sf0.001)
      "q22_srm_audit" -> 20L)
    for ((q, cap) <- ceilings) {
      val rec = shuffleRecordsOf(q)
      info(s"$q shuffled $rec records (cap $cap)")
      assert(rec >= 0 && rec <= cap, s"$q shuffled $rec records (cap $cap)")
    }
  }

  test("x90 retrieval eval: queries broadcast onto the image stream " +
    "(BNLJ is the INTENDED shape: bounded Q, corpus streams once), " +
    "no sort-merge join anywhere") {
    val plan = graft.SparkEntry.queries("x90_crossmodal_retrieval_eval")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"x90 lost its broadcast query-set cross join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"x90 grew a corpus-shaped sort-merge join:\n$plan")
  }

  test("r18 shuffle-record ceilings (x90 retrieval eval, x91 perceptron)") {
    // warm the shared x43-w weight memo first: suite order must not
    // decide whether a ceiling sees the one-time memo build (~33k
    // records) or the query's own marginal work — the pin targets the
    // marginal shape
    SparkEntry.queries("x43_hashed_doc_vectors")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val ceilings = Seq(
      // x90: the Q×N scored pass is map-side (broadcast queries, codegen
      // dot, broadcast post-agg rank counts) — shuffled rows are the
      // memoized-qvec scan partials only (measured 15 at sf0.001)
      "x90_crossmodal_retrieval_eval" -> 300L,
      // x91: dominated by the ONE-TIME feature prep (w ⋈ totals ⋈
      // labels) + the single doc_id repartition the epochs then reuse
      // exchange-free; each epoch adds only combinable margin/update
      // partials (the miss side broadcasts at small SF, co-keyed at
      // scale). Feature-frame-linear, NEVER epochs × corpus
      // (measured 33,567 at sf0.001 ≈ 2.4× the feat rows; cap ~2x)
      "x91_perceptron_filter" -> 70000L,
      // e15/e16: one per-customer combinable agg each; the at-risk
      // window and driver folds run over the calendar-bounded per-day
      // frame — shuffled rows are customer partials + day rows, never
      // orders (measured e15 664 / e16 1,140 at sf0.001; cap ~2x)
      "e15_retention_survival" -> 1500L,
      "e16_logrank_cohorts" -> 2500L)
    for ((q, cap) <- ceilings) {
      val rec = shuffleRecordsOf(q)
      info(s"$q shuffled $rec records (cap $cap)")
      assert(rec >= 0 && rec <= cap, s"$q shuffled $rec records (cap $cap)")
    }
  }
}
