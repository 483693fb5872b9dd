package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ST24 — streaming schema/stat drift gate: the q16 data-contract audit
  * ([[graft.analytics.ExtendedSqlQueries.q16SchemaDrift]]) run LIVE — a
  * producer silently nulling a field or collapsing an enum shows up
  * within a micro-batch of it happening, not at the next batch audit.
  *
  * The DriftMonitor discipline with MERGEABLE column profiles: the
  * frozen baseline and every micro-batch produce the same per-column
  * triple (row count, null count, HLL user sketch of the value set) —
  * counts merge by sum, sketches by union, so the serve side
  * reconstitutes the live profile from appended partials without ever
  * rescanning history (the x8 stored-sketch argument applied to
  * schema monitoring). Null drift is exact integer basis points;
  * distinct drift is a sketch-estimate ratio (DataSketches HLL, ~0.8%
  * RSE at lgK 12 — the spec pins exact counts exactly and estimates
  * within tolerance).
  *
  * Scale: the per-column stack is a map-side explode (×columns), each
  * batch's partial is columns-bounded (4 rows here), and the drift
  * table costs one ≤columns-row merge + join against the baseline.
  */
object SchemaGate {

  /** q16's stack: one (c, v) row per profiled column of an events
    * frame — ONE definition shared by baseline, live, and the batch
    * audit semantics. */
  def stack(df: DataFrame): DataFrame =
    df.select(explode(array(
        struct(lit("user_id").as("c"), col("user_id").cast("string").as("v")),
        struct(lit("event_type").as("c"), col("event_type").as("v")),
        struct(lit("value").as("c"), col("value").cast("string").as("v")),
        struct(lit("props").as("c"), col("props").as("v")))).as("e"))
      .select(col("e.c").as("c"), col("e.v").as("v"))

  /** Mergeable per-column profile: (c, n, n_null, sk). */
  def profile(stacked: DataFrame): DataFrame =
    stacked.groupBy("c").agg(
      count(lit(1)).as("n"),
      sum(col("v").isNull.cast("long")).as("n_null"),
      hll_sketch_agg(col("v"), lit(StreamingAggs.LgConfigK)).as("sk"))

  final case class Baseline(prof: DataFrame)

  def fit(trusted: DataFrame): Baseline = {
    val p = profile(stack(trusted)).persist()
    p.count()
    Baseline(p)
  }

  def release(b: Baseline): Unit = { b.prof.unpersist(); () }

  /** Merge appended live partials back to one profile per column. */
  def merge(partials: DataFrame): DataFrame =
    partials.groupBy("c").agg(
      sum(col("n")).as("n"),
      sum(col("n_null")).as("n_null"),
      hll_union_agg(col("sk")).as("sk"))

  /** Serve-side drift table: live merged profile vs the baseline —
    * exact null-rate basis points, sketch-estimated distinct ratio.
    */
  def drift(served: DataFrame, base: Baseline): DataFrame = {
    def cols(df: DataFrame, p: String) = df.select(col("c"),
      col("n").as(s"${p}_n"), col("n_null").as(s"${p}_null"),
      hll_sketch_estimate(col("sk")).cast("long").as(s"${p}_distinct"))
    cols(base.prof, "base").join(cols(served, "live"), Seq("c"))
      // greatest(n, 1): a profile fit on an empty frame has n = 0, and a
      // bare DIV would yield a silent NULL that propagates into
      // null_drift_bp — same guard discipline as distinct_ratio_bp below
      .withColumn("base_null_bp",
        expr("base_null * 10000 DIV greatest(base_n, 1)"))
      .withColumn("live_null_bp",
        expr("live_null * 10000 DIV greatest(live_n, 1)"))
      .withColumn("null_drift_bp",
        abs(col("base_null_bp") - col("live_null_bp")))
      .withColumn("distinct_ratio_bp",
        expr("live_distinct * 10000 DIV greatest(base_distinct, 1)"))
      .orderBy("c")
  }

  /** Wire as foreachBatch: per micro-batch, append the columns-bounded
    * partial profile keyed by batch id (replay-idempotent dirs).
    */
  def start(events: DataFrame, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        profile(stack(b)).write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$id")
      }
      .start()
}
