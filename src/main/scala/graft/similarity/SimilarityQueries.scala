package graft.similarity

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over an embedding column (`Array[Float]`, 64-dim).
  *
  * Cosine similarity is computed with an *exact fixed-point* dot product:
  * each float is quantized to 1e-8 units in a long ([[qfix]]) and products
  * are summed as exact integer math. The sum is therefore independent of
  * partitioning/accumulation order — the same number on 1 core or 1000
  * executors, and reproducible in the DuckDB oracle. Only the final
  * dot/(‖a‖·‖b‖) step is floating point (the 1e-16 unit scale cancels),
  * and it is a fixed op sequence on identical inputs.
  *
  * Scale posture:
  *  - brute-force top-k broadcasts the (small) query set and streams the
  *    corpus once — a map-side broadcast join + per-query top-k window, no
  *    corpus shuffle except the final k·|Q| rows;
  *  - the LSH variant blocks on an 8-bit hyperplane-sign bucket (signs of
  *    the first 8 dims = axis-aligned random projections for unit-ish
  *    embeddings), turning the self-join into a 256-way bucketed equi-join;
  *  - an IVF layout at 100 TB would add a coarse k-means assignment as the
  *    bucket key — same join shape, learned buckets.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, d: String) = {
    graft.GraftExtensions.ensure(s) // graft_dot for caller-built sessions
    Tables.load(s, d, "embeddings")
  }

  private val DIM = 64

  /** Quantize a float to exact 1e-8 units carried in a long via
    * `floor(double * 1e8)` — both the float→double widening and the
    * multiply-by-a-power-of-ten are bit-identical IEEE ops in every engine
    * (decimal casts are NOT: DuckDB truncates where Spark rounds), and all
    * subsequent arithmetic is exact integer math — order-independent and
    * whole-stage-codegen-friendly.
    */
  private def qfix(x: Column): Column =
    floor(x.cast("double") * lit(1e8)).cast("long")

  /** Exact dot product in 1e-16 units (64 products of |q|<2e8 fit a long).
    * Dispatches to the native codegen'd [[graft.functions.FixedPointDot]]
    * expression (registered by GraftExtensions) — the declarative
    * `aggregate(zip_with(...))` equivalent runs as interpreted lambdas and
    * is ~4× slower in the pair-scoring join.
    */
  private def dotFix(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** DuckDB replica of [[dotFix]] on `x.embedding` / `y.embedding`. */
  private def dotSql(x: String, y: String): String =
    s"""(SELECT CAST(SUM(CAST(floor(CAST($x.embedding[i] AS DOUBLE) * 100000000.0) AS BIGINT) *
       |                 CAST(floor(CAST($y.embedding[i] AS DOUBLE) * 100000000.0) AS BIGINT)) AS BIGINT)
       |    FROM UNNEST(generate_series(1, $DIM)) AS u(i))""".stripMargin

  /** dotSql for query-vs-corpus column names used by X6/X7 oracles. */
  private val qdotSql: String = {
    val s = dotSql("q", "v")
    s.replace("q.embedding", "q.q_emb")
  }

  private def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Per-vector self-dot (squared norm), computed once and joined — at
    * corpus scale this is one narrow pass, not recomputed per pair.
    */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", dotFix(col("embedding"), col("embedding")))

  private val normSql =
    s"""normed AS (SELECT vec_id, label, embedding,
       |  ${dotSql("embeddings", "embeddings").replace("embeddings.embedding", "embedding")} AS nrm
       |  FROM embeddings)""".stripMargin

  /** 8-bit sign bucket over the first 8 dimensions (hyperplane LSH). */
  private def signBucket(e: Column): Column =
    concat((1 to 8).map(i =>
      when(element_at(e, i) >= 0f, "1").otherwise("0")): _*)

  private val signBucketSql =
    (1 to 8).map(i => s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")

  /** X5 — embedding-cosine near-duplicate pairs, LSH-sign-bucketed. */
  val x5EmbeddingNearDup = QueryDef(
    "x5_dedup_embedding",
    "cosine >= 0.3 near-dup pairs within 8-bit sign buckets + label agreement",
    (s, d) => {
      val v = withNorm(emb(s, d))
        .withColumn("bucket", signBucket(col("embedding")))
      val pairs = v.as("a")
        .join(v.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(
          col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          cosine(dotFix(col("a.embedding"), col("b.embedding")),
            col("a.nrm"), col("b.nrm")).as("cos_sim"),
          (col("a.label") === col("b.label")).as("same_label"))
      pairs.filter(col("cos_sim") >= 0.3).orderBy("vec_a", "vec_b")
    },
    Some(s"""WITH $normSql,
            |v AS (SELECT *, $signBucketSql AS bucket FROM normed)
            |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            |       CAST(${dotSql("a", "b")} AS DOUBLE) /
            |         (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos_sim,
            |       a.label = b.label AS same_label
            |FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            |WHERE CAST(${dotSql("a", "b")} AS DOUBLE) /
            |        (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.3
            |ORDER BY vec_a, vec_b""".stripMargin))

  /** X5's edge set alone — (doc_a, doc_b) pairs with cosine ≥ 0.3 inside
    * the sign bucket — persisted once per corpus dir: x85 closes it into
    * connected components as the IMAGE side of the cross-modal pair
    * graph (the embeddings stand in for image embeddings — the LAION
    * shape), and the build is shared with any other consumer of the
    * cosine near-dup relation.
    */
  private[graft] def cosineEdges(s: SparkSession, d: String): DataFrame =
    graft.PlanCache.persisted(s, s"x5/edges/$d") {
      val v = withNorm(emb(s, d))
        .withColumn("bucket", signBucket(col("embedding")))
      v.as("a")
        .join(v.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .filter(cosine(dotFix(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")) >= 0.3)
        .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    }

  /** DuckDB CTE chain replaying [[cosineEdges]]; ends in `e_pairs
    * (doc_a, doc_b)`. CTE names (`normed`, `v`, `e_pairs`) are disjoint
    * from [[graft.dedup.DedupQueries.simHashSqlCtes]]'s so the x85
    * oracle composes both in one WITH.
    */
  private[graft] def cosineEdgesSqlCtes: String =
    s"""$normSql,
       |v AS MATERIALIZED (SELECT *, $signBucketSql AS bucket FROM normed),
       |e_pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE CAST(${dotSql("a", "b")} AS DOUBLE) /
       |        (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.3)"""
      .stripMargin

  /** X6 — brute-force cosine top-k (the exact baseline).
    * Query set (vec_id < 8) is broadcast; corpus is scanned once; row_number
    * keeps k=5 per query. On a cluster the corpus side never shuffles until
    * the tiny top-k rows.
    */
  val x6AnnTopK = QueryDef(
    "x6_ann_topk",
    "brute-force cosine top-5 per query vector (broadcast query set)",
    (s, d) => {
      val v = withNorm(emb(s, d))
      val q = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
      val scored = v.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(dotFix(col("q_emb"), col("embedding")),
            col("q_nrm"), col("nrm")).as("cos_sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rk"))
        .orderBy("q_id", "rk")
    },
    Some(s"""WITH $normSql,
            |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
            |      FROM normed WHERE vec_id < 8),
            |scored AS (
            |  SELECT q.q_id, v.vec_id,
            |         CAST(${qdotSql} AS DOUBLE) /
            |           (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))) AS cos_sim
            |  FROM normed v, q WHERE v.vec_id <> q.q_id),
            |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
            |           FROM scored)
            |SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 5
            |ORDER BY q_id, rk""".stripMargin))

  /** X7 — LSH-bucketed approximate top-k: only vectors in the query's sign
    * bucket are scored. The scale path: candidate set per query shrinks by
    * ~2^bits, and the join is a bucketed equi-join instead of a broadcast
    * cross product.
    */
  val x7AnnLshBucketed = QueryDef(
    "x7_ann_lsh_bucketed",
    "approximate top-3 per query within its 8-bit sign bucket",
    (s, d) => {
      val v = withNorm(emb(s, d))
        .withColumn("bucket", signBucket(col("embedding")))
      val q = v.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
      val scored = v.join(q,
          col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(dotFix(col("q_emb"), col("embedding")),
            col("q_nrm"), col("nrm")).as("cos_sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rk"))
        .orderBy("q_id", "rk")
    },
    Some(s"""WITH $normSql,
            |v AS (SELECT *, $signBucketSql AS bucket FROM normed),
            |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, bucket AS q_bucket
            |      FROM v WHERE vec_id < 50),
            |scored AS (
            |  SELECT q.q_id, v.vec_id,
            |         CAST(${qdotSql} AS DOUBLE) /
            |           (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))) AS cos_sim
            |  FROM v JOIN q ON v.bucket = q.q_bucket AND v.vec_id <> q.q_id),
            |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
            |           FROM scored)
            |SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 3
            |ORDER BY q_id, rk""".stripMargin))

  /** X9 — IVF approximate top-k, DuckDB-oracle-gated end to end: seed
    * assignment (`vec_id % 16`) → exact fixed-point centroid means → one
    * Lloyd reassignment round → probe the `nprobe=2` nearest centroid
    * lists → exact-cosine top-3. Every stage is deterministic (quantized
    * long sums, fixed-order double folds, id tie-breaks), so the oracle
    * replays the whole index build + probe and the row hashes match.
    * `IvfSpec` keeps the recall-vs-brute-force check and deeper Lloyd
    * rounds.
    */
  // The IVF index is BUILT ONCE per (session, dir) and probed repeatedly —
  // the ANN serving pattern (and the same amortization the persisted LSH
  // signature tables use). buildIndex truncates its frames, so the memo
  // stores the materialized lists + centroids as they are; one build
  // closure serves both keys (the pqBuild pattern).
  private[similarity] def ivfIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    var built: (DataFrame, DataFrame) = null
    def build(): (DataFrame, DataFrame) = {
      if (built == null)
        built = Ivf.buildIndex(emb(s, d), col("vec_id") % 16, iterations = 1)
      built
    }
    (graft.PlanCache.memoized(s, s"ivf/lists/$d")(build()._1),
      graft.PlanCache.memoized(s, s"ivf/cents/$d")(build()._2))
  }

  // exact replicas of Ivf's fixed-point stages, shared by the IVF oracles
  private def centSql(src: String): String = {
    val sums = (1 to DIM).map(i =>
      s"CAST(SUM(CAST(floor(CAST(embedding[$i] AS DOUBLE) * 100000000.0) AS BIGINT)) AS DOUBLE) / count(*) / 100000000.0 AS c$i")
      .mkString(", ")
    s"SELECT cid, $sums FROM $src GROUP BY cid"
  }

  private def distSql(e: String): String =
    (1 to DIM).map(i =>
      s"(CAST($e[$i] AS DOUBLE) - c.c$i) * (CAST($e[$i] AS DOUBLE) - c.c$i)")
      .mkString(" + ")

  val x9AnnIvf = QueryDef(
    "x9_ann_ivf",
    "IVF(k=16, 1 Lloyd round, nprobe=2) cosine top-3 per query",
    (s, d) => {
      val (index, cents) = ivfIndex(s, d)
      val q = emb(s, d).filter(col("vec_id") < 8)
      Ivf.topK(index, cents, q, nprobe = 2, k = 3)
        .select("q_id", "vec_id", "cos_sim", "rk")
        .orderBy("q_id", "rk")
    },
    Some {
      s"""WITH a0 AS (SELECT vec_id, embedding, vec_id % 16 AS cid FROM embeddings),
         |c0 AS (${centSql("a0")}),
         |d1 AS (SELECT v.vec_id, v.embedding, c.cid,
         |         ${distSql("v.embedding")} AS dist
         |       FROM embeddings v CROSS JOIN c0 c),
         |a1 AS (SELECT vec_id, embedding, cid FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
         |       WHERE rn = 1),
         |c1 AS (${centSql("a1")}),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |p AS (SELECT q_id, q_emb, cid FROM
         |        (SELECT q.q_id, q.q_emb, c.cid,
         |                ${distSql("q.q_emb")} AS dist,
         |                row_number() OVER (PARTITION BY q.q_id ORDER BY ${distSql("q.q_emb")}, c.cid) AS rn
         |         FROM q CROSS JOIN c1 c)
         |      WHERE rn <= 2),
         |scored AS (
         |  SELECT p.q_id, v.vec_id,
         |         CAST(${dotSql("p", "v").replace("p.embedding", "p.q_emb")} AS DOUBLE) /
         |           (sqrt(CAST(${dotSql("p", "p").replace("p.embedding", "p.q_emb")} AS DOUBLE)) *
         |            sqrt(CAST(${dotSql("v", "v")} AS DOUBLE))) AS cos_sim
         |  FROM p JOIN a1 v ON p.cid = v.cid AND v.vec_id <> p.q_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
         |           FROM scored)
         |SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin
    })

  /** X31 — hard-negative mining for contrastive training: per query
    * vector, the top-5 most-similar vectors with a DIFFERENT label — the
    * near-misses a contrastive/triplet objective learns the most from
    * (easy negatives are already far; hard ones define the margin).
    * Identical plan skeleton to x6 (broadcast query set, one corpus scan,
    * per-query top-k window); the label inequality is one extra join
    * predicate, so the scale posture is unchanged.
    */
  val x31HardNegatives = QueryDef(
    "x31_hard_negatives",
    "top-5 most-similar OTHER-label vectors per query (hard negatives)",
    (s, d) => {
      val v = withNorm(emb(s, d))
      val q = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val scored = v.join(broadcast(q), col("label") =!= col("q_label"))
        .select(col("q_id"), col("q_label"), col("vec_id"),
          col("label").as("neg_label"),
          cosine(dotFix(col("q_emb"), col("embedding")),
            col("q_nrm"), col("nrm")).as("cos_sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("q_label"), col("vec_id"),
          col("neg_label"), col("cos_sim"), col("rk"))
        .orderBy("q_id", "rk")
    },
    Some(s"""WITH $normSql,
            |q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb, nrm AS q_nrm
            |      FROM normed WHERE vec_id < 8),
            |scored AS (
            |  SELECT q.q_id, q.q_label, v.vec_id, v.label AS neg_label,
            |         CAST(${qdotSql} AS DOUBLE) /
            |           (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))) AS cos_sim
            |  FROM normed v, q WHERE v.label <> q.q_label),
            |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
            |           FROM scored)
            |SELECT q_id, q_label, vec_id, neg_label, cos_sim, rk
            |FROM ranked WHERE rk <= 5
            |ORDER BY q_id, rk""".stripMargin))

  /** X39 — ANN quality audit: recall@10 of the IVF index vs the exact
    * brute-force top-10, swept over nprobe ∈ {1,2,4,8} — the first
    * number a user of an approximate index asks for. Counts are exact
    * integers; `recall` is ONE IEEE division of them (portable).
    *
    * The sweep pays the index join and cosine kernel once
    * ([[Ivf.topKSweep]]), not once per sweep point. Because the approx
    * and exact paths rank by the same metric, a true top-10 member
    * inside the probed lists always survives the approx top-10 window —
    * so hits = |exactTop10 ∩ probed lists|, which is monotone in nprobe
    * (candidate lists only grow); `IvfSpec` pins the monotonicity.
    */
  val x39AnnRecall = QueryDef(
    "x39_ann_recall",
    "IVF recall@10 vs exact top-10 across nprobe in {1,2,4,8}",
    (s, d) => {
      import s.implicits._
      val (index, cents) = ivfIndex(s, d)
      val sweep = Ivf.topKSweep(index, cents,
        emb(s, d).filter(col("vec_id") < 8), Seq(1, 2, 4, 8), k = 10)
      val v = withNorm(emb(s, d))
      val q = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      // exact ground truth, cached: referenced by both the hit join and
      // the total count — static planning would otherwise re-scan the
      // corpus per branch
      val exactT = graft.PlanCache.checkpointed(s, s"x39/exact/$d")(
        v.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            cosine(dotFix(col("q_emb"), col("embedding")),
              col("q_nrm"), col("nrm")).as("cos_sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select(col("q_id"), col("vec_id")))
      val hits = sweep.select("nprobe", "q_id", "vec_id")
        .join(exactT, Seq("q_id", "vec_id"))
        .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
      val total = exactT.agg(count(lit(1)).as("total"))
      Seq(1, 2, 4, 8).toDF("nprobe")
        .crossJoin(broadcast(total))
        .join(hits, Seq("nprobe"), "left")
        .select(col("nprobe"), coalesce(col("hits"), lit(0L)).as("hits"),
          col("total"),
          (coalesce(col("hits"), lit(0L)).cast("double") /
            col("total").cast("double")).as("recall"))
        .orderBy("nprobe")
    },
    Some {
      s"""WITH $normSql,
         |a0 AS (SELECT vec_id, embedding, vec_id % 16 AS cid FROM embeddings),
         |c0 AS (${centSql("a0")}),
         |d1 AS (SELECT v.vec_id, v.embedding, c.cid,
         |         ${distSql("v.embedding")} AS dist
         |       FROM embeddings v CROSS JOIN c0 c),
         |a1 AS (SELECT vec_id, embedding, cid FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
         |       WHERE rn = 1),
         |c1 AS (${centSql("a1")}),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |pr AS (SELECT q_id, q_emb, cid, prn FROM
         |        (SELECT q.q_id, q.q_emb, c.cid,
         |                row_number() OVER (PARTITION BY q.q_id ORDER BY ${distSql("q.q_emb")}, c.cid) AS prn
         |         FROM q CROSS JOIN c1 c)
         |      WHERE prn <= 8),
         |scored AS (
         |  SELECT pr.q_id, v.vec_id, pr.prn,
         |         CAST(${dotSql("pr", "v").replace("pr.embedding", "pr.q_emb")} AS DOUBLE) /
         |           (sqrt(CAST(${dotSql("pr", "pr").replace("pr.embedding", "pr.q_emb")} AS DOUBLE)) *
         |            sqrt(CAST(${dotSql("v", "v")} AS DOUBLE))) AS cos_sim
         |  FROM pr JOIN a1 v ON pr.cid = v.cid AND v.vec_id <> pr.q_id),
         |np AS (SELECT nprobe FROM (VALUES (1),(2),(4),(8)) t(nprobe)),
         |approx AS (SELECT nprobe, q_id, vec_id FROM
         |            (SELECT np.nprobe, s2.q_id, s2.vec_id,
         |                    row_number() OVER (PARTITION BY np.nprobe, s2.q_id
         |                                       ORDER BY s2.cos_sim DESC, s2.vec_id) AS rk
         |             FROM scored s2 JOIN np ON s2.prn <= np.nprobe)
         |           WHERE rk <= 10),
         |qn AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         |       FROM normed WHERE vec_id < 8),
         |exact_scored AS (
         |  SELECT q.q_id, v.vec_id,
         |         CAST(${qdotSql} AS DOUBLE) /
         |           (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))) AS cos_sim
         |  FROM normed v, qn q WHERE v.vec_id <> q.q_id),
         |exact_t AS (SELECT q_id, vec_id FROM
         |             (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
         |              FROM exact_scored)
         |            WHERE rk <= 10),
         |tot AS (SELECT count(*) AS total FROM exact_t),
         |h AS (SELECT a.nprobe, count(*) AS hits
         |      FROM approx a JOIN exact_t e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |      GROUP BY a.nprobe)
         |SELECT np.nprobe, COALESCE(h.hits, 0) AS hits, tot.total AS total,
         |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(tot.total AS DOUBLE) AS recall
         |FROM np CROSS JOIN tot LEFT JOIN h ON np.nprobe = h.nprobe
         |ORDER BY np.nprobe""".stripMargin
    })

  /** Cosine threshold above which a vector is a semantic duplicate of an
    * earlier one in its cluster (x40). Corpus-calibrated: the synthetic
    * embeddings are near-orthogonal (within-cluster p99 cos ≈ 0.33, max
    * 0.45 at sf0.01), so 0.35 exercises the drop path; on real text
    * embeddings this knob sits at 0.9+.
    */
  private val SEMDEDUP_TAU = 0.35

  /** X40 — semantic dedup, the SemDeDup shape (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the corpus with k-means, then compare pairs
    * only WITHIN a cluster and drop every vector that has an
    * earlier-kept near-duplicate above τ. Complements x5 (static
    * sign-bucket LSH blocking): the blocking key here is LEARNED — the
    * same deterministic IVF index x9/x39 build (seed `vec_id % 16`,
    * exact fixed-point centroids, 1 Lloyd round), so the index cost is
    * shared with ANN serving and the oracle replays the whole build.
    *
    * Keep rule: a vector is dropped iff some LOWER-id vector in its
    * cluster has cosine ≥ τ (deterministic greedy keep-first — the
    * streaming-friendly variant of SemDeDup's keep-one-per-group; every
    * emitted row records its keeper `dup_of` and its nearest earlier
    * neighbor's similarity `nn_sim`).
    *
    * Scale posture: all-pairs never happens — the self-join is an
    * equi-join on `cid` (k-means lists ≈ corpus/k each, and a skewed
    * cluster is AQE-splittable); the per-vector verdict is one
    * map-side-combinable groupBy over the pair stream. At 100 TB this is
    * the published SemDeDup recipe: cluster count scales with the corpus
    * so list sizes stay bounded.
    */
  val x40SemanticDedup = QueryDef(
    "x40_semantic_dedup",
    s"SemDeDup: within-k-means-cluster cosine >= $SEMDEDUP_TAU keep-first dedup verdict per vector",
    (s, d) => {
      val (index, _) = ivfIndex(s, d)
      val v = index.withColumn("nrm", dotFix(col("embedding"), col("embedding")))
      val pairs = v.as("a")
        .join(v.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("cand"),
          cosine(dotFix(col("a.embedding"), col("b.embedding")),
            col("a.nrm"), col("b.nrm")).as("cos_sim"))
      val verdict = pairs.groupBy("vec_id")
        .agg(max(col("cos_sim")).as("nn_sim"),
          min(when(col("cos_sim") >= SEMDEDUP_TAU, col("cand"))).as("dup_of"))
      index.select(col("vec_id"), col("cid").cast("long").as("cid"))
        .join(verdict, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          col("dup_of").isNotNull.as("is_dup"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
          coalesce(col("nn_sim"), lit(-2.0)).as("nn_sim"))
        .orderBy("vec_id")
    },
    Some {
      s"""WITH a0 AS (SELECT vec_id, embedding, vec_id % 16 AS cid FROM embeddings),
         |c0 AS (${centSql("a0")}),
         |d1 AS (SELECT v.vec_id, v.embedding, c.cid,
         |         ${distSql("v.embedding")} AS dist
         |       FROM embeddings v CROSS JOIN c0 c),
         |a1 AS (SELECT vec_id, embedding, cid FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
         |       WHERE rn = 1),
         |n AS (SELECT a1.*, ${dotSql("a1", "a1").replace("a1.embedding", "embedding")} AS nrm FROM a1),
         |pairs AS (
         |  SELECT b.vec_id AS vec_id, a.vec_id AS cand,
         |         CAST(${dotSql("a", "b")} AS DOUBLE) /
         |           (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos_sim
         |  FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |verdict AS (
         |  SELECT vec_id, max(cos_sim) AS nn_sim,
         |         min(CASE WHEN cos_sim >= $SEMDEDUP_TAU THEN cand END) AS dup_of
         |  FROM pairs GROUP BY vec_id)
         |SELECT a1.vec_id, CAST(a1.cid AS BIGINT) AS cid,
         |       v.dup_of IS NOT NULL AS is_dup,
         |       COALESCE(v.dup_of, -1) AS dup_of,
         |       COALESCE(v.nn_sim, -2.0) AS nn_sim
         |FROM a1 LEFT JOIN verdict v ON a1.vec_id = v.vec_id
         |ORDER BY a1.vec_id""".stripMargin
    })

  /** ADC re-rank depth: how many lookup-table-scored candidates per query
    * get the exact-cosine second pass. The IVFADC+R accuracy/IO knob
    * (Jégou et al. 2011 §V): full vectors are read for R·|Q| rows only.
    */
  private[graft] val ADC_R = 20

  /** X54 — IVF-ADC with exact re-rank, the FAISS `IVFADC,R` serving recipe
    * (Jégou, Douze, Schmid 2011, "Product quantization for nearest
    * neighbor search"): probe the `nprobe=2` nearest IVF lists (x9's
    * index), score every candidate from its PQ CODES via a per-query
    * lookup table (asymmetric distance computation — the scan reads
    * M=4 byte-sized codes per vector, NOT the 64-float vector), keep the
    * best [[ADC_R]] by ADC distance, then re-rank just those with the
    * exact fixed-point cosine. The no-residual PQ variant (FAISS
    * `by_residual=false`) so the x19 codebook is reused verbatim.
    *
    * Scale posture — this is THE production ANN serving plan at 100 TB:
    * the per-query LUT is |Q|·M·K = 256 integer rows (broadcast), the
    * probed-list scan touches 32 bytes of codes per candidate instead of
    * 256 bytes of floats (8× less IO than x9's exact-cosine probe), and
    * full vectors are fetched for only R·|Q| rows. Every stage before the
    * final cosine is exact integer math (LUT entries and ADC sums are
    * fp²-unit longs), so ranking is bit-stable on any cluster layout and
    * the oracle replays the whole pipeline: IVF build + PQ build + LUT +
    * ADC + re-rank.
    */
  /** The IVFADC+R pipeline behind x54, parameterized so `AdcSpec` can
    * pin the R-covers-everything limit: with `r` at least the largest
    * probed-list candidate count, the output must equal `Ivf.topK` (same
    * lists, exact re-rank over the full candidate set — the ADC stage can
    * then only reorder the shortlist, never drop a winner).
    */
  private[graft] def adcTopK(s: SparkSession, d: String, queries: DataFrame,
      nprobe: Int, r: Int, k: Int): DataFrame = {
    val (index, cents) = ivfIndex(s, d)
    val (pqCents, pqScored) = QuantizationQueries.pqBuild(s, d)
    val codes = pqScored.select(col("vec_id"), col("sub"),
      col("cid").as("code"))
    // per-(query, sub, code) LUT: ||q_sub − codebook[sub][code]||² in
    // fp² units — exact longs, |Q|·M·K rows, broadcast
    val qElems = queries
      .select(col("vec_id").as("q_id"), posexplode(col("embedding")))
      .select(col("q_id"),
        expr(s"CAST(pos div ${QuantizationQueries.PQ_SUBDIM} AS INT)").as("sub"),
        (col("pos") + 1).as("dim"),
        floor(col("col").cast("double") * lit(1e6)).cast("long").as("qv"))
    val lut = qElems.join(broadcast(pqCents), Seq("sub", "dim"))
      .withColumn("dd", (col("qv") - col("cq")) * (col("qv") - col("cq")))
      .groupBy("q_id", "sub", "cid")
      .agg(sum(col("dd")).as("lut"))
      .select(col("q_id"), col("sub"), col("cid").as("code"), col("lut"))
    // candidate ids from the probed coarse lists — vectors NOT read here
    val cand = Ivf.probes(cents, queries, nprobe)
      .select("q_id", "cid")
      .join(index.select("vec_id", "cid"), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
    val adc = cand.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("lut")).as("adc_dist"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist"), col("vec_id"))
    val shortlist = adc.withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= r)
    // exact re-rank: full vectors are read for the r·|Q| shortlist only
    val v = withNorm(emb(s, d))
    val qn = v.join(queries.select("vec_id"), Seq("vec_id"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val rer = shortlist.join(v, Seq("vec_id")).join(broadcast(qn), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("adc_dist"),
        cosine(dotFix(col("q_emb"), col("embedding")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
    val wK = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    rer.withColumn("rk", row_number().over(wK)).filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("adc_dist"), col("cos_sim"),
        col("rk"))
  }

  val x54AnnIvfAdc = QueryDef(
    "x54_ann_ivf_adc",
    s"IVF-ADC serving: PQ lookup-table scan over nprobe=2 lists, top-$ADC_R ADC shortlist, exact cosine re-rank top-3",
    (s, d) =>
      adcTopK(s, d, emb(s, d).filter(col("vec_id") < 8),
        nprobe = 2, r = ADC_R, k = 3)
        .orderBy("q_id", "rk"),
    Some {
      val sd = QuantizationQueries.PQ_SUBDIM
      s"""WITH $normSql,
         |a0 AS (SELECT vec_id, embedding, vec_id % 16 AS cid FROM embeddings),
         |c0 AS (${centSql("a0")}),
         |d1 AS (SELECT v.vec_id, v.embedding, c.cid,
         |         ${distSql("v.embedding")} AS dist
         |       FROM embeddings v CROSS JOIN c0 c),
         |a1 AS (SELECT vec_id, embedding, cid FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
         |       WHERE rn = 1),
         |c1 AS (${centSql("a1")}),
         |${QuantizationQueries.pqSqlCtes("pq_")},
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |p AS (SELECT q_id, cid FROM
         |        (SELECT q.q_id, c.cid,
         |                row_number() OVER (PARTITION BY q.q_id ORDER BY ${distSql("q.q_emb")}, c.cid) AS rn
         |         FROM q CROSS JOIN c1 c)
         |      WHERE rn <= 2),
         |qe AS (SELECT q_id, CAST((i-1)//$sd AS INTEGER) AS sub, i AS dim,
         |              CAST(floor(CAST(q_emb[i] AS DOUBLE) * 1000000) AS BIGINT) AS qv
         |       FROM q, UNNEST(generate_series(1, len(q_emb))) AS u(i)),
         |lut AS (SELECT qe.q_id, qe.sub, c.cid AS code,
         |               CAST(sum((qe.qv - c.cq) * (qe.qv - c.cq)) AS BIGINT) AS lut
         |        FROM qe JOIN pq_c${QuantizationQueries.PQ_ROUNDS} c
         |          ON qe.sub = c.sub AND qe.dim = c.dim
         |        GROUP BY qe.q_id, qe.sub, c.cid),
         |cand AS (SELECT p.q_id, v.vec_id
         |         FROM p JOIN a1 v ON p.cid = v.cid AND v.vec_id <> p.q_id),
         |adc AS (SELECT cand.q_id, cand.vec_id,
         |               CAST(sum(l.lut) AS BIGINT) AS adc_dist
         |        FROM cand
         |        JOIN pq_afin k ON cand.vec_id = k.vec_id
         |        JOIN lut l ON l.q_id = cand.q_id AND l.sub = k.sub AND l.code = k.cid
         |        GROUP BY cand.q_id, cand.vec_id),
         |topr AS (SELECT q_id, vec_id, adc_dist FROM
         |          (SELECT *, row_number() OVER (PARTITION BY q_id
         |                                        ORDER BY adc_dist, vec_id) AS arn
         |           FROM adc)
         |         WHERE arn <= $ADC_R),
         |qn AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         |       FROM normed WHERE vec_id < 8),
         |rer AS (SELECT t.q_id, t.vec_id, t.adc_dist,
         |               CAST(${qdotSql} AS DOUBLE) /
         |                 (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))) AS cos_sim
         |        FROM topr t
         |        JOIN normed v ON t.vec_id = v.vec_id
         |        JOIN qn q ON t.q_id = q.q_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |                                        ORDER BY cos_sim DESC, vec_id) AS rk
         |           FROM rer)
         |SELECT q_id, vec_id, adc_dist, cos_sim, rk FROM ranked WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin
    })

  /** X73 — kNN label-agreement audit (confident-learning-style mislabel
    * detection): for a deterministic 1-in-17 sample of vectors, take the
    * exact cosine top-10 neighbors and measure how often they share the
    * query's label. Per label: audited count, mean agreement in exact
    * basis points, and suspected mislabels (minority agreement — fewer
    * than half the neighbors agree).
    *
    * Scale posture: sample-audit is the pattern — the query set is
    * broadcast and the corpus streams once (x6's shape), so cost is
    * |sample|-proportional map work, no corpus shuffle before the tiny
    * top-k rows. A per-row (every-vector) audit at 100 TB rides the IVF
    * buckets instead (x9's machinery: neighbors searched within the
    * probed lists), trading exactness for the same statistic at corpus
    * scale.
    */
  val x73KnnLabelAudit = QueryDef(
    "x73_knn_label_audit",
    "exact kNN label agreement per label over a 1-in-17 sample: mislabel audit",
    (s, d) => {
      val v = withNorm(emb(s, d))
      val q = v.filter(pmod(col("vec_id"), lit(17)) === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val scored = v.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("label"), col("vec_id"),
          cosine(dotFix(col("q_emb"), col("embedding")),
            col("q_nrm"), col("nrm")).as("cos_sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val perQ = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .groupBy("q_id", "q_label")
        .agg(sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
          .as("agree"))
      perQ.groupBy(col("q_label").cast("long").as("label"))
        .agg(
          count(lit(1)).as("n_audited"),
          expr("CAST(10000 * sum(agree) DIV (10 * count(1)) AS BIGINT)")
            .as("mean_agree_bp"),
          sum(when(col("agree") * 2 < 10, 1L).otherwise(0L)).as("n_suspect"))
        .orderBy("label")
    },
    Some(s"""WITH $normSql,
            |q AS (SELECT vec_id AS q_id, label AS q_label,
            |             embedding AS q_emb, nrm AS q_nrm
            |      FROM normed WHERE vec_id % 17 = 0),
            |scored AS (
            |  SELECT q.q_id, q.q_label, v.label, v.vec_id,
            |         CAST(${qdotSql} AS DOUBLE) /
            |           (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))) AS cos_sim
            |  FROM normed v, q WHERE v.vec_id <> q.q_id),
            |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
            |           FROM scored),
            |perq AS (SELECT q_id, q_label,
            |                CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS agree
            |         FROM ranked WHERE rk <= 10 GROUP BY 1, 2)
            |SELECT CAST(q_label AS BIGINT) AS label,
            |       CAST(count(*) AS BIGINT) AS n_audited,
            |       CAST(10000 * sum(agree) // (10 * count(*)) AS BIGINT) AS mean_agree_bp,
            |       CAST(sum(CASE WHEN agree * 2 < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
            |FROM perq GROUP BY 1 ORDER BY label""".stripMargin))

  /** Exact fixed-point dot over the first `w` dimensions only. */
  private def sliceDot(a: Column, b: Column, w: Column): Column =
    call_function("graft_dot",
      slice(a, lit(1), w), slice(b, lit(1), w))

  /** The x79 core over a generic embedding frame — exposed so the spec
    * can feed planted geometries (e.g. vectors whose tail dims are all
    * zero, where every truncation must preserve the ranking exactly).
    */
  private[similarity] def mrlOf(v: DataFrame, widths: Seq[Int],
      nQ: Int, k: Int): DataFrame = {
    graft.GraftExtensions.ensure(v.sparkSession)
    val wFrame = v.sparkSession.range(0, 1).select(
      explode(array(widths.map(lit): _*)).as("w"))
    // per-(vector, width) norms once — never recomputed per pair
    val vw = v.crossJoin(broadcast(wFrame))
      .select(col("w"), col("vec_id"), col("embedding"),
        sliceDot(col("embedding"), col("embedding"), col("w")).as("nrm"))
    val qw = vw.filter(col("vec_id") < nQ)
      .select(col("w").as("qwidth"), col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = vw.join(broadcast(qw),
        col("w") === col("qwidth") && col("vec_id") =!= col("q_id"))
      .select(col("w"), col("q_id"), col("vec_id"),
        cosine(sliceDot(col("q_emb"), col("embedding"), col("w")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
    val win = Window.partitionBy(col("w"), col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val topk = scored.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= k)
      .select("w", "q_id", "vec_id", "rk")
    val maxW = widths.max
    val base = topk.filter(col("w") === maxW)
      .select(col("q_id"), col("vec_id"), col("rk").as("base_rk"))
    val hits = topk.join(broadcast(base), Seq("q_id", "vec_id"))
      .groupBy("w")
      .agg(count(lit(1)).as("hits"),
        sum((col("rk") === 1 && col("base_rk") === 1).cast("long"))
          .as("top1_hits"))
    val nq = topk.filter(col("w") === maxW)
      .agg(countDistinct(col("q_id")).as("n_queries"))
    hits.crossJoin(broadcast(nq))
      .select(col("w").cast("long").as("width"), col("n_queries"),
        expr(s"(hits * 10000) div (n_queries * $k)").as("recall10_bp"),
        expr("(top1_hits * 10000) div n_queries").as("top1_bp"))
      .orderBy("width")
  }

  /** X79 — Matryoshka truncation audit: how much ANN fidelity survives
    * serving on a PREFIX of each embedding (the Matryoshka
    * representation-learning deployment pattern — store 64 dims, serve
    * 8/16/32 to cut memory and dot cost)? For each truncation width,
    * exact cosine top-k per query over the first w dims vs the
    * full-width baseline: top-10 recall and top-1 preservation in bp.
    * The decision artifact for "can the serving tier drop to width w".
    *
    * Exactness: width-sliced fixed-point dots (the x6 1e-8 quantization)
    * keep every score order-independent; ranks tie-break on vec_id; the
    * recalls are integer censuses — hash-exact oracle, which replays the
    * slice dots as width-bounded generate_series sums.
    *
    * Scale: the query set (nQ·|widths| rows) broadcasts onto ONE corpus
    * stream (the x6 shape, pair volume |corpus|·nQ·|widths|); per-pair
    * cost is ∝ w, so the ladder costs ~2× a single full-width pass, not
    * 4×; per-(vector,width) norms are one narrow pass; nothing but the
    * k·nQ·|widths| winner rows ever shuffles.
    */
  val x79MrlTruncation = QueryDef(
    "x79_mrl_truncation",
    "Matryoshka truncation audit: top-10 recall + top-1 preservation at dims 8/16/32 vs full width",
    (s, d) => mrlOf(emb(s, d), Seq(8, 16, 32, 64), nQ = 10, k = 10),
    Some {
      def wdot(x: String, y: String) =
        s"""(SELECT CAST(SUM(CAST(floor(CAST($x[i] AS DOUBLE) * 100000000.0) AS BIGINT) *
           |                 CAST(floor(CAST($y[i] AS DOUBLE) * 100000000.0) AS BIGINT)) AS BIGINT)
           |    FROM UNNEST(generate_series(1, w)) AS u(i))""".stripMargin
      s"""WITH widths AS (SELECT CAST(w AS INT) AS w
         |               FROM UNNEST([8, 16, 32, 64]) AS t(w)),
         |vw AS (SELECT w, vec_id, embedding,
         |         ${wdot("embedding", "embedding")} AS nrm
         |       FROM embeddings CROSS JOIN widths),
         |qw AS (SELECT w AS qwidth, vec_id AS q_id, embedding AS q_emb,
         |              nrm AS q_nrm
         |       FROM vw WHERE vec_id < 10),
         |scored AS (
         |  SELECT v.w, q.q_id, v.vec_id,
         |         CAST(${wdot("q.q_emb", "v.embedding")} AS DOUBLE) /
         |           (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(v.nrm AS DOUBLE))) AS cos_sim
         |  FROM vw v JOIN qw q ON v.w = q.qwidth AND v.vec_id <> q.q_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY w, q_id ORDER BY cos_sim DESC, vec_id) AS rk
         |  FROM scored),
         |topk AS (SELECT w, q_id, vec_id, rk FROM ranked WHERE rk <= 10),
         |base AS (SELECT q_id, vec_id, rk AS base_rk FROM topk WHERE w = 64),
         |hits AS (SELECT w, CAST(count(*) AS BIGINT) AS hits,
         |           CAST(SUM(CASE WHEN t.rk = 1 AND b.base_rk = 1
         |                         THEN 1 ELSE 0 END) AS BIGINT) AS top1_hits
         |         FROM topk t JOIN base b USING (q_id, vec_id) GROUP BY w),
         |nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries
         |       FROM topk WHERE w = 64)
         |SELECT CAST(w AS BIGINT) AS width, n_queries,
         |       (hits * 10000) // (n_queries * 10) AS recall10_bp,
         |       (top1_hits * 10000) // n_queries AS top1_bp
         |FROM hits CROSS JOIN nq ORDER BY width""".stripMargin
    })

  val defs: Seq[QueryDef] =
    Seq(x5EmbeddingNearDup, x6AnnTopK, x7AnnLshBucketed, x9AnnIvf,
      x31HardNegatives, x39AnnRecall, x40SemanticDedup, x54AnnIvfAdc,
      x73KnnLabelAudit, x79MrlTruncation)
}
