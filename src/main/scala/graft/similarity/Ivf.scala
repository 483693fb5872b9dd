package graft.similarity

import graft.PlanCache.{release, truncate}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path next to the LSH variant (X7): vectors are assigned to the
  * nearest of k centroids; a query probes only the `nprobe` closest
  * centroid lists, cutting the scored candidate set by ~k/nprobe.
  *
  * Everything is deterministic and partition-parallel:
  *  - centroids are exact fixed-point per-dimension means (`graft_dot`'s
  *    1e-8 quantization, summed as longs → same centroid on any cluster
  *    layout);
  *  - Lloyd refinement iterations are plain DataFrame rounds: broadcast
  *    centroids → argmin assignment → regroup (k is small, the corpus
  *    never shuffles except the final groupBy on centroid id);
  *  - ties break on centroid id.
  *
  * At 100 TB the index build is one pass per Lloyd round and the inverted
  * lists are just the corpus repartitioned by centroid id — the probe-side
  * join is a bucketed equi-join on `cid`.
  */
object Ivf {

  private val DIM = 64

  /** Quantized element i of an embedding, as an exact long. */
  private def q(e: Column, i: Int): Column =
    floor(element_at(e, i).cast("double") * lit(1e8)).cast("long")

  /** Per-dimension exact means of each group → centroid arrays (double,
    * in original units).
    */
  def centroids(vectors: DataFrame, assignCol: String): DataFrame = {
    val sums = (1 to DIM).map(i => sum(q(col("embedding"), i)).as(s"s$i"))
    vectors
      .groupBy(col(assignCol).as("cid"))
      .agg(sums.head, sums.tail: _*)
      .join(
        vectors.groupBy(col(assignCol).as("cid")).count(),
        Seq("cid"))
      .select(col("cid") +:
        (1 to DIM).map(i =>
          (col(s"s$i").cast("double") / col("count") / 1e8).as(s"c$i")): _*)
  }

  /** Squared L2 distance between a vector column and a centroid row's
    * per-dim columns (both sides in original units, fixed op order).
    */
  private def distSq(e: Column): Column =
    (1 to DIM).map { i =>
      val d = element_at(e, i).cast("double") - col(s"c$i")
      d * d
    }.reduce(_ + _)

  /** Assign each vector to its nearest centroid (broadcast argmin). */
  def assign(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val joined = vectors.crossJoin(broadcast(cents))
      .withColumn("dist", distSq(col("embedding")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cid"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(vectors.columns.map(col) :+ col("cid"): _*)
  }

  /** Build the index: seed assignment → `iterations` Lloyd rounds →
    * (vectors + cid, centroids).
    */
  def buildIndex(vectors: DataFrame, seedAssign: Column,
      iterations: Int): (DataFrame, DataFrame) = {
    // truncate between rounds: centroids() consumes each assignment
    // plan twice, so without truncation the lineage (and recomputation)
    // doubles per Lloyd round
    var assigned = truncate(vectors.withColumn("cid", seedAssign))
    var cents = truncate(centroids(assigned, "cid"))
    (1 to iterations).foreach { _ =>
      val (prevAssigned, prevCents) = (assigned, cents)
      assigned = truncate(assign(vectors, cents))
      cents = truncate(centroids(assigned, "cid"))
      // the new round is materialized and lineage-free, so the superseded
      // round's blocks are dead weight — release them now instead of
      // letting every intermediate round sit in the block manager until
      // session end (only the RETURNED pair outlives the build; callers
      // release it, or memoize it in PlanCache, which does)
      Seq(prevAssigned, prevCents).foreach(release(_))
    }
    (assigned, cents)
  }

  /** Persist a built index for reuse across sessions — the operational
    * path at scale: build once (the expensive Lloyd pass over the
    * corpus), then every consumer loads the finished index. The inverted
    * lists are laid out `partitionBy(cid)` so storage mirrors the index
    * structure (a probe touches only its nprobe list directories);
    * centroids are a k-row table.
    */
  def save(index: DataFrame, cents: DataFrame, dir: String): Unit = {
    index.write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists")
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Incrementally add a batch of vectors to a [[save]]d index WITHOUT a
    * Lloyd rebuild: the batch is assigned against the index's EXISTING
    * centroids (one broadcast-argmin pass over the batch only — the
    * stored lists are untouched and never read) and appended into the
    * `partitionBy(cid)` list layout, so only the touched cid directories
    * gain files. This is the operational growth path at 100 TB: daily
    * vector arrivals are a batch-assign + append, while centroid drift
    * is a separate, independently-schedulable policy (periodic re-Lloyd
    * + rewrite) — the standard serving-vs-training split for production
    * IVF indexes.
    *
    * Contract ([[IvfSpec]]): after append, [[load]] returns lists equal
    * to the old lists UNION `assign(batch, centroids)` — probes see the
    * appended vectors exactly as a from-scratch assignment against the
    * same centroids would place them.
    */
  def append(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame): Unit = {
    val cents = spark.read.parquet(s"$dir/centroids")
    assign(batch, cents)
      .write.mode("append").partitionBy("cid").parquet(s"$dir/lists")
  }

  /** Load a [[save]]d index: (inverted lists, centroids) — drop-in for
    * the pair [[buildIndex]] returns. `cid` comes back from the partition
    * directories as an inferred int in the same (last) column position
    * buildIndex emits; re-cast to long so loaded and freshly-built
    * indexes union/compare without schema surprises.
    */
  def load(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/lists")
      .withColumn("cid", col("cid").cast("long")),
      spark.read.parquet(s"$dir/centroids"))

  /** Per-query probe targets: the `nprobe` nearest centroid ids, with the
    * query embedding carried along — (q_id, q_emb, cid). The shared front
    * half of [[topK]], and the candidate-list driver for the ADC path
    * (x54), which scans PQ codes instead of full vectors.
    */
  private[graft] def probes(cents: DataFrame, queries: DataFrame,
      nprobe: Int): DataFrame = {
    val qc = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("dist"), col("cid"))
    qc.crossJoin(broadcast(cents))
      .withColumn("dist", distSq(col("q_emb")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cid"))
  }

  /** Probe: per query, rank centroids, take `nprobe` lists, score only
    * those lists with exact fixed-point cosine, keep top `k`.
    */
  def topK(index: DataFrame, cents: DataFrame, queries: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    graft.GraftExtensions.ensure(index.sparkSession)
    val probes = Ivf.probes(cents, queries, nprobe)
    val dot = call_function("graft_dot", col("q_emb"), col("embedding"))
    val nq = call_function("graft_dot", col("q_emb"), col("q_emb"))
    val nv = call_function("graft_dot", col("embedding"), col("embedding"))
    val scored = probes.join(index, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot.cast("double") /
          (sqrt(nq.cast("double")) * sqrt(nv.cast("double")))).as("cos_sim"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= k)
  }

  /** Sweep [[topK]] over several `nprobe` settings in ONE index pass:
    * probe at the LARGEST nprobe, score each (query, vector) candidate
    * once, then attach every sweep point whose nprobe covers the
    * candidate's probe rank (smaller-nprobe candidate sets are prefixes
    * of the probe ranking) and rank per (nprobe, query). The expensive
    * parts — the index join and the cosine kernel — are paid once, not
    * once per sweep point; only the tiny ranked rows multiply.
    * Output adds an `nprobe` column; each slice equals
    * `topK(..., nprobe, k)` ([[IvfSpec]] pins the equivalence).
    */
  def topKSweep(index: DataFrame, cents: DataFrame, queries: DataFrame,
      nprobes: Seq[Int], k: Int): DataFrame = {
    val spark = index.sparkSession
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val qc = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("dist"), col("cid"))
    val probes = qc.crossJoin(broadcast(cents))
      .withColumn("dist", distSq(col("q_emb")))
      .withColumn("prn", row_number().over(probeW))
      .filter(col("prn") <= nprobes.max)
      .select(col("q_id"), col("q_emb"), col("cid"), col("prn"))
    val dot = call_function("graft_dot", col("q_emb"), col("embedding"))
    val nq = call_function("graft_dot", col("q_emb"), col("q_emb"))
    val nv = call_function("graft_dot", col("embedding"), col("embedding"))
    val scored = probes.join(index, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("prn"),
        (dot.cast("double") /
          (sqrt(nq.cast("double")) * sqrt(nv.cast("double")))).as("cos_sim"))
    val npDf = nprobes.toDF("nprobe")
    val rankW = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.join(broadcast(npDf), col("prn") <= col("nprobe"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= k)
      .select(col("nprobe"), col("q_id"), col("vec_id"), col("cos_sim"),
        col("rk"))
  }
}
