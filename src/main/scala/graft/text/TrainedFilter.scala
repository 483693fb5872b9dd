package graft.text

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** X91 — an in-plan TRAINED quality filter: full-batch perceptron over
  * CENTERED hashed tf-idf shares, trained inside the engine with one
  * map-combinable aggregate pair per epoch. t28's contrast scorer is a
  * closed-form one-shot model; this is the next capability up — an
  * ITERATIVE supervised training loop (the fasttext-quality-classifier
  * slot in a pretraining pipeline: Joulin et al. 2017 bag-of-features
  * linear classifiers; GPT-3/LLaMA both gate web text on one) executed
  * as data-parallel passes, with every update exactly integer so the
  * oracle can replay the whole training run.
  *
  * Two design points, both MEASURED on the engine corpus:
  *
  *   - '''Centering is what makes the linear signal visible.''' Raw
  *     share vectors carry a dominant bulk component common to both
  *     classes (every doc's shares sum to 10⁴), so every margin takes
  *     the sign of the bulk term and training flip-flops between the
  *     all-positive and all-negative predictors (observed at 64, 256,
  *     4096 buckets AND at token level). On deviations from the global
  *     mean the same loop separates at t28's token-level level (balanced
  *     accuracy 0.61 vs 0.50) — and centering costs nothing at scale:
  *     x̃ = x − μ never materializes; the margin is the sparse dot minus
  *     the per-model constant w·μ, and updates correct their sparse
  *     sums by count·μ. The feature frame stays sparse.
  *   - '''Updates are class-balanced means, damped 1/epoch.''' The raw
  *     perceptron sum over-swings under the 3:1 class imbalance (the
  *     bigger class's mass flips every verdict); the mean-per-class
  *     update moves the boundary by one "typical miss" per class per
  *     epoch regardless of corpus size, which also bounds the model
  *     corpus-independently: |w[b]| ≤ Σ_e 2·10⁴/e, margins ≤ ~64·10⁹ —
  *     safely long at ANY corpus size (margin sums still ride
  *     DECIMAL(38,0)/HUGEINT as belt-and-braces).
  *
  * Semantics (deterministic, order-free): features x̂[b] = wsum[b]·10⁴
  * div Σ_b wsum (per-doc bucket shares in bp — scale-free, so a long
  * document doesn't out-vote a short one); labels y = ±1 from the
  * curated-source seed (t28's labels); w₀ = 0; prediction is centered
  * margin > 0; each epoch updates with the damped balanced mean of the
  * misclassified set over the FULL batch (not per-row SGD — full-batch
  * makes the update a single commutative sum, independent of row order
  * and partitioning, the property that makes distributed training
  * exact). Integer divisions truncate toward zero on Scala, Spark `div`
  * and DuckDB `//` alike (measured). Each epoch emits its post-update
  * confusion matrix with plain AND balanced accuracy — the latter is
  * the honest metric here: under the 3:1 imbalance the all-negative
  * predictor scores acc 7500 while learning nothing (t28's own
  * token-level scorer reads acc 5840 yet balanced 6100).
  *
  * Scale posture: per epoch = one broadcast of the 64-row weight table,
  * one margin aggregate (map-side combinable), one misclassified-set
  * join (doc_id-keyed), one 64-row update aggregate. Driver state is
  * BOUNDED by the feature space (64 buckets + 3 counters), never by
  * the corpus.
  *
  * Reference anchor: the reference's quality gates are static rule
  * scans (`ecommerce-dq-checks.yaml`); this supplies the learned-filter
  * counterpart its pipeline would add at LLM-corpus scale.
  */
object TrainedFilter {

  /** Truncating (toward-zero) long division — Scala `/` already
    * truncates; named for symmetry with the SQL `//`.
    */
  private def tdiv(a: Long, b: Long): Long = a / b

  /** One full-batch centered-perceptron epoch chain over a prepared
    * sparse feature frame `feat` = (doc_id, y ∈ {−1,1}, bucket, x ≥ 0).
    * Returns per-epoch confusion rows (epoch, tp, fp, tn, fn, acc_bp,
    * bal_bp). Factored so specs can drive planted separable fixtures
    * through the exact production shape.
    */
  private[graft] def perceptronConfusions(s: SparkSession, feat: DataFrame,
      epochs: Int, cacheKey: Option[String] = None): DataFrame = {
    import s.implicits._
    val fPlan = feat.select(col("doc_id"), col("y").cast("long"),
      col("bucket").cast("long"), col("x").cast("long"))
      // hash-partitioned by doc_id ONCE, then materialized: the margin
      // agg (doc_id, y), the miss filter, and the miss join are all
      // co-keyed with it, so every epoch after this runs exchange-free
      // on the doc side — ONE corpus shuffle total, not one per epoch
      .repartition(col("doc_id"))
    // the prepared frame is deterministic per corpus: memoized under the
    // caller's key (the x58/x67 shared-artifact pattern) so repeated
    // invocations in one session skip the feature shuffle; un-keyed
    // callers (spec fixtures) keep the plain per-call materialization
    val f = cacheKey
      .map(k => graft.PlanCache.checkpointed(s, k)(fPlan))
      .getOrElse(graft.PlanCache.truncate(fPlan)) // read 2+2·epochs times
    // global centering stats: per-bucket integer mean μ[b] over the
    // TRAINING population (docs present in feat) — ≤ 64 rows + 2 counts
    // (bounded collects, the model-state discipline of this operator).
    // Fused into TWO jobs (doc counts; per-bucket sums) instead of four:
    // at 5k docs each extra Spark action is pure fixed overhead
    val cnts = f.select(col("doc_id"), col("y")).distinct()
      .agg(count(lit(1)).as("nd"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np")).head()
    val nDocs = math.max(cnts.getLong(0), 1L)
    val nPos = cnts.getLong(1)
    val bsums = f.groupBy("bucket")
      .agg(sum(col("x")).as("sx"),
        sum(when(col("y") === 1L, col("x")).otherwise(0L)).as("sxp"))
      .collect()
    val mu: Map[Long, Long] =
      bsums.map(r => r.getLong(0) -> r.getLong(1) / nDocs).toMap
    // epoch-1 update from w=0: centered margins are all 0 → predicted
    // negative → the misclassified set is exactly the positive class
    val sp0: Map[Long, Long] =
      bsums.map(r => r.getLong(0) -> r.getLong(2)).toMap
    var weights: Map[Long, Long] = mu.keySet.map { b =>
      b -> tdiv(sp0.getOrElse(b, 0L) - nPos * mu(b), math.max(nPos, 1L))
    }.toMap
    val out = (1 to epochs).map { epoch =>
      // centered margin = sparse dot − w·μ (the centering constant; the
      // deviation frame never materializes)
      val cC = weights.map { case (b, wt) => wt * mu.getOrElse(b, 0L) }.sum
      val wdf = broadcast(weights.toSeq.toDF("bucket", "wt"))
      // left join: a doc whose buckets all miss the weight table still
      // scores (sparse dot 0) — inner would drop it
      // NOT checkpointed: both consumers (confusion head, miss join) are
      // one broadcast join + combinable agg over the materialized f —
      // recomputing that is cheaper than the eager checkpoint job it
      // replaced (3 fewer Spark actions per training run; measured)
      val margins = f.join(wdf, Seq("bucket"), "left")
        .groupBy("doc_id", "y")
        .agg(coalesce(sum((col("x") * col("wt")).cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))).as("m"))
      val pos = col("m") > lit(cC)
      val cRow = margins
        .agg(
          sum(when(col("y") === 1L && pos, 1L).otherwise(0L)).as("tp"),
          sum(when(col("y") === -1L && pos, 1L).otherwise(0L)).as("fp"),
          sum(when(col("y") === -1L && !pos, 1L).otherwise(0L)).as("tn"),
          sum(when(col("y") === 1L && !pos, 1L).otherwise(0L)).as("fn"))
        .head()
      val (tp, fp, tn, fn) = (cRow.getLong(0), cRow.getLong(1),
        cRow.getLong(2), cRow.getLong(3))
      if (epoch < epochs) {
        val miss = margins
          .filter((col("y") === 1L && !pos) || (col("y") === -1L && pos))
          .select("doc_id", "y")
        // per-class sparse sums of the misclassified set — ≤ 64 rows
        val us = f.drop("y").join(miss, Seq("doc_id"))
          .groupBy("bucket")
          .agg(sum(when(col("y") === 1L, col("x")).otherwise(0L)).as("sp"),
            sum(when(col("y") === -1L, col("x")).otherwise(0L)).as("sn"))
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val np0 = fn // misclassified positives = false negatives
        val nn0 = fp // misclassified negatives = false positives
        val (np, nn) = (math.max(np0, 1L), math.max(nn0, 1L))
        weights = mu.keySet.map { b =>
          val (sp, sn) = us.getOrElse(b, (0L, 0L))
          val up = tdiv(
            tdiv(sp - np0 * mu(b), np) - tdiv(sn - nn0 * mu(b), nn),
            epoch + 1L)
          b -> (weights.getOrElse(b, 0L) + up)
        }.toMap
      }
      val n = math.max(tp + fp + tn + fn, 1L)
      val tpr = tp * 10000L / math.max(tp + fn, 1L)
      val tnr = tn * 10000L / math.max(tn + fp, 1L)
      (epoch.toLong, tp, fp, tn, fn, (tp + tn) * 10000L / n, (tpr + tnr) / 2L)
    }
    out.toDF("epoch", "tp", "fp", "tn", "fn", "acc_bp", "bal_bp")
      .orderBy("epoch")
  }

  /** The engine feature frame: bucket shares in bp over the x43 hashed
    * weight frame, labeled by the curated-source seed.
    */
  private[graft] def engineFeatures(s: SparkSession, d: String): DataFrame = {
    val w = TextQueries.hashedWeights(s, d)
    val dt = w.groupBy("doc_id").agg(sum(col("wsum")).as("tot"))
    val lab = Tables.load(s, d, "documents")
      .select(col("doc_id"),
        when(col("source").isInCollection(TextQueries.CURATED_SOURCES), 1L)
          .otherwise(-1L).as("y"))
    w.join(dt, Seq("doc_id")).join(lab, Seq("doc_id"))
      .select(col("doc_id"), col("y"), col("bucket"),
        expr("(wsum * 10000) div tot").as("x"))
  }

  /** The unrolled-epoch DuckDB replay: w1 → m1/c1/u1 → w2 → m2/c2/u2 →
    * w3 → m3/c3. Every weight table ranges over the full μ bucket
    * domain, so the FULL-JOIN fold degenerates to a same-domain join.
    */
  private def oracleSql: String = {
    val curatedIn = TextQueries.CURATED_SOURCES.map(x => s"'$x'")
      .mkString(", ")
    def m(e: Int) =
      s"""cc$e AS (SELECT CAST(coalesce(sum(wt * mu), 0) AS HUGEINT) AS c
         |         FROM w$e JOIN mu USING (bucket)),
         |m$e AS MATERIALIZED (
         |  SELECT f.doc_id, f.y,
         |         CAST(coalesce(sum(f.x * w$e.wt), 0) AS HUGEINT) AS m
         |  FROM feat f LEFT JOIN w$e ON f.bucket = w$e.bucket
         |  GROUP BY 1, 2)""".stripMargin
    def c(e: Int) =
      s"""c$e AS (
         |  SELECT CAST($e AS BIGINT) AS epoch,
         |         CAST(sum(CASE WHEN y = 1 AND m > (SELECT c FROM cc$e)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN y = -1 AND m > (SELECT c FROM cc$e)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN y = -1 AND m <= (SELECT c FROM cc$e)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |         CAST(sum(CASE WHEN y = 1 AND m <= (SELECT c FROM cc$e)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM m$e)""".stripMargin
    def u(e: Int) =
      s"""mi$e AS MATERIALIZED (
         |  SELECT doc_id, y FROM m$e
         |  WHERE (y = 1 AND m <= (SELECT c FROM cc$e))
         |     OR (y = -1 AND m > (SELECT c FROM cc$e))),
         |cnt$e AS (
         |  SELECT CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS np0,
         |         CAST(count(CASE WHEN y = -1 THEN 1 END) AS BIGINT) AS nn0,
         |         greatest(CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT), 1)
         |           AS np,
         |         greatest(CAST(count(CASE WHEN y = -1 THEN 1 END) AS BIGINT), 1)
         |           AS nn
         |  FROM mi$e),
         |us$e AS (
         |  SELECT f.bucket,
         |         CAST(sum(CASE WHEN mi.y = 1 THEN f.x ELSE 0 END) AS BIGINT)
         |           AS sp,
         |         CAST(sum(CASE WHEN mi.y = -1 THEN f.x ELSE 0 END) AS BIGINT)
         |           AS sn
         |  FROM feat f JOIN mi$e mi ON f.doc_id = mi.doc_id
         |  GROUP BY 1),
         |u$e AS (
         |  SELECT m.bucket,
         |         CAST(((coalesce(us.sp, 0) - c.np0 * m.mu) // c.np -
         |               (coalesce(us.sn, 0) - c.nn0 * m.mu) // c.nn)
         |           // ${e + 1} AS BIGINT) AS du
         |  FROM mu m CROSS JOIN cnt$e c
         |       LEFT JOIN us$e us ON us.bucket = m.bucket)""".stripMargin
    def wNext(e: Int) =
      s"""w${e + 1} AS MATERIALIZED (
         |  SELECT w$e.bucket, w$e.wt + u$e.du AS wt
         |  FROM w$e JOIN u$e ON w$e.bucket = u$e.bucket)""".stripMargin
    s"""WITH ${TextQueries.hashedWeightsSql},
       |dt AS (SELECT doc_id, CAST(sum(wsum) AS BIGINT) AS tot
       |       FROM w GROUP BY 1),
       |lab AS (SELECT doc_id,
       |          CASE WHEN source IN ($curatedIn) THEN 1 ELSE -1 END AS y
       |        FROM documents),
       |feat AS MATERIALIZED (
       |  SELECT w.doc_id, l.y, w.bucket,
       |         CAST((w.wsum * 10000) // dt.tot AS BIGINT) AS x
       |  FROM w JOIN dt ON w.doc_id = dt.doc_id
       |       JOIN lab l ON l.doc_id = w.doc_id),
       |nd2 AS (SELECT greatest(CAST(count(DISTINCT doc_id) AS BIGINT), 1) AS n
       |        FROM feat),
       |mu AS MATERIALIZED (
       |  SELECT bucket, CAST(sum(x) // (SELECT n FROM nd2) AS BIGINT) AS mu
       |  FROM feat GROUP BY 1),
       |npc AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS np0,
       |               greatest(CAST(count(DISTINCT doc_id) AS BIGINT), 1) AS np
       |        FROM feat WHERE y = 1),
       |w1 AS MATERIALIZED (
       |  SELECT m.bucket,
       |         CAST((coalesce(sp.s, 0) - c.np0 * m.mu) // c.np AS BIGINT) AS wt
       |  FROM mu m CROSS JOIN npc c
       |       LEFT JOIN (SELECT bucket, CAST(sum(x) AS BIGINT) AS s
       |                  FROM feat WHERE y = 1 GROUP BY 1) sp
       |         ON sp.bucket = m.bucket),
       |${m(1)}, ${c(1)}, ${u(1)}, ${wNext(1)},
       |${m(2)}, ${c(2)}, ${u(2)}, ${wNext(2)},
       |${m(3)}, ${c(3)}
       |SELECT epoch, tp, fp, tn, fn,
       |       (tp + tn) * 10000 // greatest(tp + fp + tn + fn, 1) AS acc_bp,
       |       (tp * 10000 // greatest(tp + fn, 1) +
       |        tn * 10000 // greatest(tn + fp, 1)) // 2 AS bal_bp
       |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
       |      UNION ALL SELECT * FROM c3)
       |ORDER BY epoch""".stripMargin
  }

  val x91PerceptronFilter = QueryDef(
    "x91_perceptron_filter",
    "in-plan trained quality filter: 3 centered full-batch perceptron epochs over hashed tf-idf shares, exact per-epoch confusion",
    (s, d) => perceptronConfusions(s, engineFeatures(s, d), epochs = 3,
      cacheKey = Some(s"x91-feat/$d")),
    Some(oracleSql))

  def defs: Seq[QueryDef] = Seq(x91PerceptronFilter)
}
