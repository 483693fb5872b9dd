package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Events.Event

/** ST4/ST7/A7-A9 — watermarked event-time aggregations (the speed layer's
  * materialized views) and the mergeable-sink pattern (S11/ST6).
  *
  * The reference's ClickHouse SummingMergeTree MVs
  * (`.kiro/specs/realtime-analytics-speed-layer/design.md:256-303`) are
  * incrementally mergeable partial sums. The Spark-native equivalent:
  * streaming aggregation in update mode appends *partial* rows per trigger
  * via `foreachBatch`, and the read side merges on read with a groupBy-sum
  * — identical semantics, any sink.
  *
  * Distinct counts (the spec's `uniq`) run on the DataSketches HLL kernel
  * that `SketchQueries` and `SchemaGate` use, not on HLL++: see
  * `approxDistinct`.
  */
object StreamingAggs {

  /** Sketch size of the distinct counts here and in `SchemaGate`: 2^12
    * registers, ~1.6% standard error.
    */
  val LgConfigK = 12

  /** Approximate distinct count of `c` as a `long`.
    *
    * `hll_sketch_agg` is a typed imperative aggregate: it plans as an
    * object-hash aggregate with one binary buffer field. HLL++'s 52-long
    * register buffer made every task of every aggregate operator generate
    * projections over a ~110-field buffer (NOTES.md has the profile).
    *
    * The estimate is the composite one, whatever the merge history.
    * `getEstimate()` gives HIP for a sketch that was never merged with
    * another and the composite estimator once it has been, so a group a
    * stream folded over several batches would otherwise disagree with a
    * batch recompute whose partial met no other. The union of the sketch
    * with itself keeps its registers and marks it merged. Spark
    * deduplicates the two identical aggregates into one buffer.
    */
  private def approxDistinct(c: String): Column = {
    val sk = hll_sketch_agg(col(c), lit(LgConfigK))
    hll_sketch_estimate(hll_union(sk, sk))
  }

  /** A7/ST7 — funnel MV: 1-hour tumbling event-time window per user_tier,
    * conditional stage counts + approximate distinct users and sessions
    * (the spec's `uniq`), watermark for late data (ST4).
    */
  def funnel(events: Dataset[Event], watermark: Option[String] = Some("1 hour")): DataFrame =
    watermark.fold(events.toDF)(w => events.withWatermark("ts", w).toDF)
      .groupBy(window(col("ts"), "1 hour"), col("user_tier"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "page_view", 1L).otherwise(0L)).as("n_page_views"),
        sum(when(col("event_type") === "product_view", 1L).otherwise(0L)).as("n_product_views"),
        sum(when(col("event_type") === "add_to_cart", 1L).otherwise(0L)).as("n_add_to_carts"),
        sum(when(col("event_type") === "checkout_start", 1L).otherwise(0L)).as("n_checkouts"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        approxDistinct("user_id").as("approx_users"),
        approxDistinct("session_id").as("approx_sessions"))

  /** A8 — tier performance MV with conditional JSON-extracted average. */
  def tierPerformance(events: Dataset[Event], watermark: Option[String] = Some("1 hour")): DataFrame =
    watermark.fold(events.toDF)(w => events.withWatermark("ts", w).toDF)
      .groupBy(window(col("ts"), "1 hour"), col("user_tier"))
      .agg(
        count(lit(1)).as("n_events"),
        approxDistinct("user_id").as("approx_users"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        avg(when(col("event_type") === "purchase",
          get_json_object(col("properties"), "$.amount").cast("double")))
          .as("avg_purchase_amount"))

  /** A9 — product performance MV (null products filtered). */
  def productPerformance(events: Dataset[Event], watermark: Option[String] = Some("1 hour")): DataFrame =
    watermark.fold(events.toDF)(w => events.withWatermark("ts", w).toDF)
      .withColumn("product_id",
        get_json_object(col("properties"), "$.product_id"))
      .filter(col("product_id").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("product_id"))
      .agg(
        sum(when(col("event_type") === "product_view", 1L).otherwise(0L)).as("n_views"),
        sum(when(col("event_type") === "add_to_cart", 1L).otherwise(0L)).as("n_add_to_carts"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        approxDistinct("user_id").as("approx_viewers"))

  /** ST6/S11 — mergeable partial-sum sink: append each micro-batch's
    * partial aggregate rows (SummingMergeTree insert equivalent). Failure
    * handling mirrors the spec's retry-topic pattern: the caller's
    * `onFailure` receives the failed batch instead of crashing the query.
    */
  def appendPartials(
      batches: DataFrame, batchId: Long, path: String,
      onFailure: (DataFrame, Throwable) => Unit = (_, e) => throw e): Unit =
    try {
      batches
        .withColumn("__batch_id", lit(batchId))
        .write.mode("append").parquet(path)
    } catch { case e: Throwable => onFailure(batches, e) }

  /** Merge-on-read view over the partial table: LATEST partial per group
    * wins. Spark update-mode aggregation re-emits the *cumulative* group
    * value each trigger (not a delta), so summing appended partials would
    * double-count every group that spans two triggers — the SELECT-time
    * merge must instead keep each group's newest snapshot (ClickHouse's
    * ReplacingMergeTree, not SummingMergeTree, is the exact analogue).
    * `__batch_id` (stamped by [[appendPartials]]) orders the partials.
    */
  def mergeOnRead(spark: SparkSession, path: String,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = spark.read.parquet(path)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__batch_id").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__batch_id")
  }
}
