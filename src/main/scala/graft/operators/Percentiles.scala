package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact interpolated percentiles by distributed selection.
  *
  * Spark's builtin `percentile` buffers a value→count map per group in
  * aggregation state — with few groups and high-cardinality values (3
  * return flags over billions of prices) that is an executor OOM at
  * scale. Selection never holds more than counters:
  *
  *  1. ONE histogram pass: rows bucket by the top `binBits` bits of the
  *     order-preserving IEEE-754 transform
  *     ([[graft.functions.SortableDoubleBits]]) — data-independent, so no
  *     prior min/max scan — and `groupBy(group, bin).count` collapses the
  *     table to O(groups·occupied bins) counters. The cumulation that
  *     locates each target rank's bin is DISTRIBUTED: a per-group
  *     running-sum window over the bin counters plus a per-group total,
  *     with the target-rank containment test evaluated per bin row. The
  *     located rows — O(groups·percentiles) — are PERSISTED as a
  *     DataFrame, never collected.
  *  2. ONE refinement pass over only the target bins (~n/bins rows each),
  *     selected by joining the located-bin metadata (AQE broadcasts it
  *     when small; no O(groups) literal predicate in the plan): each bin
  *     is ranked with a `row_number` window partitioned by (group, bin) —
  *     per-task state is one bin, spillable, never the whole group — and
  *     the k-th values join back to the located slots.
  *
  * The OUTPUT is join-built too: slot values pivot to lo/hi columns with
  * a conditional aggregate and interpolate in-plan, so the result
  * materializes as a persisted distributed DataFrame. NOTHING O(groups)
  * ever reaches the driver — a per-user percentile table (10⁶+ groups)
  * runs with flat driver memory; per-task state is bounded by O(bins)
  * via the hash aggregate.
  *
  * The (group, value) projection feeding both passes is persisted once
  * per `cacheKey` via [[graft.PlanCache]], repartitioned to the session's
  * parallelism (a single-row-group parquet file scans as ONE partition,
  * which would serialize both passes).
  *
  * Interpolation is `v_lo + (v_hi − v_lo)·frac` at positions
  * floor/ceil(p·(n−1)) — identical to Spark's `percentile` and DuckDB's
  * `quantile_cont`.
  */
object Percentiles {

  private def projection(df: DataFrame, group: String, value: String): DataFrame =
    df.select(col(group).as("g"), col(value).cast("double").as("v"))
      .filter(col("v").isNotNull)

  /** The persisted `(g, v)` projection behind `exact(cacheKey = ...)` —
    * public so sibling computations over the same measure (e.g. the
    * mergeable approx-percentile path) reuse the one cached,
    * parallelism-repartitioned copy instead of re-scanning the fact
    * table.
    */
  def cachedProjection(df: DataFrame, group: String, value: String,
      cacheKey: String): DataFrame =
    graft.PlanCache.persisted(df.sparkSession, s"percentiles/$cacheKey")(
      projection(df, group, value)
        .repartition(df.sparkSession.sparkContext.defaultParallelism))

  /** (group, n, <name per percentile>) — unrounded doubles. Runs its
    * jobs eagerly; the result is a persisted DISTRIBUTED DataFrame (one
    * row per group), so a 10⁶-group call never funnels through the
    * driver.
    *
    * NULL semantics: NULL values are ignored (like SQL quantile
    * aggregates), so `n` is the NON-NULL value count per group — callers
    * comparing against SQL should use `count(<value>)`, not `count(*)` —
    * and a group whose values are all NULL is omitted. NULL group keys
    * are supported and emitted like SQL GROUP BY.
    *
    * Lifetime: with a `cacheKey` the result is memoized in
    * [[graft.PlanCache]] (one per key, percentiles and `binBits`), so
    * `PlanCache.clear` frees it and a rerun reuses it. Without one the
    * caller owns the persisted result; `PlanCache.release` frees it.
    *
    * @param binBits   histogram bucket = top `binBits` bits of the
    *                  sortable double transform (16 ⇒ ≤65,536 buckets:
    *                  sign + exponent + 4 mantissa bits)
    */
  def exact(df: DataFrame, group: String, value: String,
      ps: Seq[(Double, String)], binBits: Int = 16,
      cacheKey: Option[String] = None): DataFrame = cacheKey match {
    case Some(k) =>
      val spec = ps.map { case (p, nm) => s"$p:$nm" }.mkString(",")
      graft.PlanCache.memoized(df.sparkSession, s"percentiles/$k/exact/$spec/$binBits")(
        compute(df, group, ps, binBits, cachedProjection(df, group, value, k)))
    case None =>
      compute(df, group, ps, binBits, projection(df, group, value))
  }

  /** Both passes over `base`, the `(g, v)` projection of `df`. */
  private def compute(df: DataFrame, group: String, ps: Seq[(Double, String)],
      binBits: Int, base: DataFrame): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.ensure(spark)
    val groupField = df.schema(group)
    val binE = shiftrightunsigned(
      call_function("graft_sortable_bits", col("v")), 64 - binBits)

    // pass 1: histogram + cumulation, all distributed. groupBy(g, bin)
    // is a codegen'd hash aggregate with map-side partials (per-task
    // state O(bins)); the per-group running sum and total are windows
    // over the COLLAPSED bin counters (O(groups·bins) rows total, one
    // shuffle by g); each bin row then tests target-rank containment
    // for every percentile slot. The located rows — one per (group,
    // percentile bound) — are PERSISTED, not collected: the count()
    // below materializes pass 1 exactly once and is the only thing the
    // driver receives (a scalar).
    val slotArr = array(ps.flatMap { case (p, nm) => Seq(
      struct(lit(s"$nm:lo").as("slot"), lit(p).as("p"), lit(false).as("hi")),
      struct(lit(s"$nm:hi").as("slot"), lit(p).as("p"), lit(true).as("hi")))
    }: _*)
    val wBefore = Window.partitionBy("g").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wGroup = Window.partitionBy("g")
    val located = base.select(col("g"), binE.as("bin"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("cnt"))
      .withColumn("before", coalesce(sum(col("cnt")).over(wBefore), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(wGroup))
      .select(col("g"), col("bin"), col("cnt"), col("before"), col("n"),
        explode(slotArr).as("s"))
      // pos must be the same IEEE expression the output interpolates
      // with below: p * (n-1), both double
      .withColumn("pos", col("s.p") * (col("n") - lit(1L)).cast("double"))
      .withColumn("tRank",
        when(col("s.hi"), ceil(col("pos"))).otherwise(floor(col("pos")))
          .cast("long"))
      .filter(col("tRank") >= col("before") &&
        col("tRank") < col("before") + col("cnt"))
      .select(col("g"), col("s.slot").as("slot"), col("bin"),
        (col("tRank") - col("before") + lit(1L)).as("k"), col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outSchema = StructType(groupField.copy(name = group) +:
      StructField("n", LongType) +:
      ps.map { case (_, nm) => StructField(nm, DoubleType) })
    if (located.count() == 0) {
      located.unpersist(false)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    }

    // pass 2: the refinement subset is selected by joining the hot-bin
    // metadata — null-safe on the group (SQL GROUP BY emits a NULL
    // group), free of O(groups) literal predicates, and AQE broadcasts
    // the located side when it is small, so a million-group call plans
    // the same shuffle-join shape any equi-join would. Each hot bin is
    // ranked with a row_number window partitioned by (group, bin):
    // per-task state is one bin's rows, spillable, never a whole group.
    val hot = located.select(col("g").as("hg"), col("bin").as("hbin")).distinct()
    val subset = base.withColumn("bin", binE)
      .join(hot, (col("g") <=> col("hg")) && col("bin") === col("hbin"), "inner")
      .drop("hg", "hbin")
    val want = located
      .select(col("g").as("wg"), col("bin").as("wbin"), col("k").as("wk"))
      .distinct()
    val picked = subset
      .withColumn("r", row_number().over(
        Window.partitionBy("g", "bin").orderBy("v")).cast("long"))
      .join(want, (col("g") <=> col("wg")) && col("bin") === col("wbin") &&
        col("r") === col("wk"), "inner")
      .select(col("g").as("pg"), col("bin").as("pbin"),
        col("r").as("pk"), col("v").as("pv"))

    // output assembly, join-built: located slots pick up their k-th
    // values, pivot to lo/hi columns via conditional aggregates, and
    // interpolate in-plan — double arithmetic identical to the former
    // driver loop (lo + (hi-lo)·(pos - floor(pos))). The result persists
    // distributed; the driver only triggers the materializing count.
    val slotVals = located
      .join(picked, (col("g") <=> col("pg")) && col("bin") === col("pbin") &&
        col("k") === col("pk"), "inner")
      .select(col("g"), col("n"), col("slot"), col("pv").as("v"))
    val aggCols = ps.flatMap { case (_, nm) => Seq(
      max(when(col("slot") === s"$nm:lo", col("v"))).as(s"__lo_$nm"),
      max(when(col("slot") === s"$nm:hi", col("v"))).as(s"__hi_$nm")) }
    val out = slotVals.groupBy(col("g"), col("n"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("g").as(group) +: col("n") +: ps.map { case (p, nm) =>
        val pos = lit(p) * (col("n") - lit(1L)).cast("double")
        (col(s"__lo_$nm") + (col(s"__hi_$nm") - col(s"__lo_$nm")) *
          (pos - floor(pos).cast("double"))).as(nm)
      }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize both passes; located cache served them once
    located.unpersist(false)
    out
  }
}
