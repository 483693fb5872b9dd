package graft.dedup

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTER canonicalization: the step after pair
  * generation in every dedup pipeline. Pairwise near-dup relations are
  * not transitive-closed (A~B, B~C but A≁C), so "drop one of each pair"
  * under-deletes and order-dependent greedy passes are irreproducible —
  * the standard contract is: connected components over the near-dup
  * pair graph, keep one canonical doc (min id) per component.
  *
  * Components are computed by iterative min-label propagation: every
  * node starts as its own label, each round every node takes the min of
  * its own and its neighbors' labels, and the loop stops when a round
  * changes nothing. Each round is one shuffle join + one aggregation,
  * and the plain-round count is the graph diameter — near-dup components
  * are band-blocked near-cliques (diameter 1–3), so this converges in a
  * handful of rounds regardless of corpus size. For pathological shapes
  * (a chain of docs, each a near-dup of the next) the loop switches to
  * POINTER JUMPING after [[JUMP_AFTER]] rounds: each extra round also
  * replaces every label with its label's label, so label chains halve
  * per round and a diameter-D component converges in O(log D) instead of
  * O(D) — a degenerate corpus gets slower rounds, never a crash.
  *
  * Incremental maintenance (x18): a daily pipeline adds a batch of edges
  * and wants the existing assignment MERGED, not recomputed. Old labels
  * are replayed as star edges (member ↔ canonical), so every old
  * component re-enters the graph with diameter ≤ 2 regardless of its
  * original diameter, and propagation over (star edges ∪ new edges)
  * converges in ~diameter(new overlay) + 2 rounds — the full-corpus
  * history contributes O(|affected nodes|) state and no re-walk.
  *
  * Reference anchor: dedup extension per the training-data north star —
  * pair generation is x3's (SimHash, Hamming ≤ 2), so the DuckDB oracle
  * replays the identical edges and closes them with recursive CTEs; the
  * incremental posture mirrors the reference's own incremental marts
  * (dbt `is_incremental`, batch-analytics-layer/design.md:668-670).
  */
object ClusterQueries {

  /** Plain min-label rounds up to this many, then pointer jumping. */
  private val JUMP_AFTER = 8

  /** Hard backstop — with pointer jumping a component would need
    * diameter ≈ 2^56 to exhaust this.
    */
  private val MAX_ROUNDS = 64

  /** Min-label propagation to a fixpoint over an undirected adjacency
    * frame `und` (node, nbr — both directions present) from seed labels
    * (node, lbl). Returns (labels, rounds). Each round materializes via
    * `localCheckpoint` (the loop must not re-execute a growing lineage)
    * and evicts the previous round's RDD immediately.
    */
  private[graft] def propagate(und: DataFrame, seeds: DataFrame): (DataFrame, Int) = {
    var labels = seeds.select("node", "lbl").localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < MAX_ROUNDS) {
      val nbrMin = und
        .join(labels.select(col("node").as("nbr"), col("lbl").as("nlbl")),
          Seq("nbr"))
        .groupBy("node").agg(min(col("nlbl")).as("nmin"))
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      val next =
        if (iter < JUMP_AFTER) stepped.localCheckpoint(true)
        else {
          // pointer jumping: lbl := lbl(lbl). Every label is itself a
          // node id present in `labels`, so the self-join resolves each
          // label one more hop toward its component minimum — chains
          // halve per round.
          val base = stepped.localCheckpoint(true)
          val jumped = base
            .join(base.select(col("node").as("lbl"), col("lbl").as("jlbl")),
              Seq("lbl"), "left")
            .select(col("node"),
              least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"))
            .localCheckpoint(true)
          graft.similarity.Ivf.dropCheckpoint(base)
          jumped
        }
      changed = next
        .join(labels.select(col("node"), col("lbl").as("prev")), Seq("node"))
        .filter(col("lbl") < col("prev")).count()
      graft.similarity.Ivf.dropCheckpoint(labels)
      labels = next
      iter += 1
    }
    require(changed == 0, s"label propagation not converged after $iter rounds")
    (labels, iter)
  }

  /** Damped quality propagation over an undirected doc graph — the
    * PageRank-with-source-term recurrence in EXACT integers:
    *
    *   q₀(v)   = seed quality (ppm)
    *   qₜ₊₁(v) = (15·q₀(v) + 85·Σ_{(u,v)∈E} (qₜ(u) div deg(u))) div 100
    *
    * `und` must carry both edge directions PLUS a self-loop per node: the
    * self-loop gives every node an incoming term, and makes an isolated
    * node an EXACT fixed point (deg = 1 ⇒ qₜ₊₁ = (15q₀ + 85qₜ) div 100 =
    * q₀ at qₜ = q₀ — no drift, truncation cancels). Integer div truncates
    * toward zero identically in Spark (`div`) and DuckDB (`//`), and all
    * terms are non-negative, so the fixed-round result is bit-identical
    * across engines and partitionings (the order-free-sum argument of
    * Parity, applied to a graph recurrence).
    *
    * Scale posture: each round is one join against the (node-count-sized)
    * quality frame + one map-combinable sum keyed by neighbor — x15's
    * propagate() shape with a sum instead of a min; rounds are FIXED
    * (data-independent), each round `localCheckpoint`s and evicts its
    * predecessor so lineage stays constant-depth.
    */
  private[graft] def propagateQuality(und: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    // r19 round-fusion (guide §5, fewer materializations per round):
    //  - deg is LOOP-INVARIANT, so it is joined into the edge frame ONCE
    //    (undDeg carries each edge's source degree) — each round pays one
    //    join against q instead of two (q, then deg);
    //  - the seed frame is checkpointed ONCE — the old shape re-ran the
    //    seeds plan (documents scan + quality-score expression chain)
    //    inside every round's damping join, 5 extra corpus scans per x53;
    //  - rounds checkpoint every 2nd step (and the last) instead of every
    //    step — lineage stays ≤ 2 rounds deep, half the materializations.
    // Arithmetic per round is untouched (same joins on the same keys,
    // same exact-integer damping), so the fixed-round result is
    // bit-identical to the unfused form.
    // rounds = 0 would return the unmaterialized seed projection after
    // dropping the checkpoint it reads from
    require(rounds >= 1, s"propagateQuality needs rounds >= 1, got $rounds")
    val undCk = und.localCheckpoint(true)
    val deg = undCk.groupBy("node").agg(count(lit(1)).as("deg"))
    val undDeg = undCk.join(deg, Seq("node")).localCheckpoint(true)
    graft.similarity.Ivf.dropCheckpoint(undCk)
    val seedCk = seeds.select(col("node"), col("q0")).localCheckpoint(true)
    var q = seedCk.select(col("node"), col("q0").as("q"))
    var lastCk: DataFrame = seedCk
    for (r <- 1 to rounds) {
      val inc = undDeg.join(q, Seq("node"))
        .select(col("nbr"), expr("q div deg").as("c"))
        .groupBy("nbr").agg(sum(col("c")).as("c"))
        .withColumnRenamed("nbr", "node")
      val next = seedCk.join(inc, Seq("node"), "left")
        .select(col("node"),
          expr("(15 * q0 + 85 * coalesce(c, 0L)) div 100").as("q"))
      q = if (r % 2 == 0 || r == rounds) {
        val ck = next.localCheckpoint(true)
        // the previous checkpoint is no longer referenced once this one
        // is materialized (seedCk stays: every round's damping joins it)
        if (lastCk ne seedCk) graft.similarity.Ivf.dropCheckpoint(lastCk)
        lastCk = ck
        ck
      } else next
    }
    graft.similarity.Ivf.dropCheckpoint(undDeg)
    graft.similarity.Ivf.dropCheckpoint(seedCk)
    q
  }

  /** X53 — link-graph quality propagation: t21's per-doc quality score
    * diffused over the x4 near-dup graph (jaccard ≥ 0.5 edges) for 5
    * damped rounds ([[propagateQuality]]) — the CommonCrawl-lineage
    * recipe where a document's curation weight reflects its NEIGHBORS'
    * quality, not just its own text: a low-scoring doc inside a
    * high-quality template cluster is rescued, a high-scoring doc
    * embedded in a spam mirror farm is demoted. t21/t28 score docs in
    * isolation; this is the graph-structured signal the suite lacked.
    *
    * Output: per doc, its near-dup degree, the isolated t21 seed (ppm),
    * and the propagated score — all exact integers, oracle-replayed by
    * five unrolled join/agg rounds in DuckDB over the SAME edge CTEs as
    * x4's oracle.
    */
  val x53QualityPropagation = QueryDef(
    "x53_quality_propagation",
    "damped quality propagation over the near-dup graph (5 exact-integer rounds)",
    (s, d) => {
      val pairs = DedupQueries.cachedJaccardEdges(s, d)
      val seeds = graft.sources.Tables.load(s, d, "documents")
        .select(col("doc_id").as("node"),
          graft.text.TextQueries.qualityScore6.as("q0"))
      val nbrs = bothDirections(pairs)
        .groupBy("node").agg(count(lit(1)).as("n_neighbors"))
      val und = bothDirections(pairs)
        .unionByName(seeds.select(col("node"), col("node").as("nbr")))
      val q = propagateQuality(und, seeds, rounds = 5)
      seeds.join(nbrs, Seq("node"), "left")
        .join(q, Seq("node"))
        .select(col("node").as("doc_id"),
          coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
          col("q0").as("q_seed"), col("q").as("q_prop"))
        .orderBy("doc_id")
    },
    Some {
      // CAST per round: DuckDB's sum(BIGINT) widens to HUGEINT, which
      // would surface q as DOUBLE through pandas at the gate
      val round = (t: Int) =>
        s"""q$t AS (SELECT s.node, s.q0,
           |         CAST((15 * s.q0 + 85 * coalesce(inc.c, 0)) // 100 AS BIGINT) AS q
           |       FROM allq s LEFT JOIN (
           |         SELECT u.nbr AS node, sum(p.q // d.deg) AS c
           |         FROM q${t - 1} p JOIN deg d ON p.node = d.node
           |                          JOIN und u ON p.node = u.node
           |         GROUP BY u.nbr) inc ON s.node = inc.node)""".stripMargin
      // MATERIALIZED on every CTE the 5 rounds re-reference: DuckDB
      // inlines plain CTEs per reference, so an un-materialized `und`
      // re-ran the ENTIRE shingle self-join once per round — at sf1 that
      // five-fold replay exhausted the 79 GB temp disk (the r15
      // VerifyHeavy capacity hole). Materialized, the edge set builds
      // once and each round is one |E|-sized join, matching the engine's
      // own localCheckpointed-rounds shape.
      s"""WITH ${DedupQueries.ngramPairsSqlCtes},
         |allq AS MATERIALIZED (SELECT doc_id AS node,
         |           ${graft.text.TextQueries.qualityScore6Sql} AS q0
         |         FROM documents),
         |und AS MATERIALIZED (
         |        SELECT doc_a AS node, doc_b AS nbr FROM jpairs
         |        UNION ALL SELECT doc_b AS node, doc_a AS nbr FROM jpairs
         |        UNION ALL SELECT node, node AS nbr FROM allq),
         |deg AS MATERIALIZED (
         |        SELECT node, CAST(count(*) AS BIGINT) AS deg
         |        FROM und GROUP BY node),
         |nbrs AS (SELECT node, CAST(count(*) AS BIGINT) AS n_neighbors
         |         FROM (SELECT doc_a AS node FROM jpairs
         |               UNION ALL SELECT doc_b AS node FROM jpairs)
         |         GROUP BY node),
         |q0 AS (SELECT node, q0, q0 AS q FROM allq),
         |${(1 to 5).map(round).mkString(",\n")}
         |SELECT s.node AS doc_id,
         |       coalesce(nbrs.n_neighbors, 0) AS n_neighbors,
         |       s.q0 AS q_seed, q5.q AS q_prop
         |FROM allq s LEFT JOIN nbrs ON s.node = nbrs.node
         |            JOIN q5 ON s.node = q5.node
         |ORDER BY doc_id""".stripMargin
    })

  private def bothDirections(edges: DataFrame): DataFrame =
    edges
      .select(col("doc_a").as("node"), col("doc_b").as("nbr"))
      .union(edges.select(col("doc_b").as("node"), col("doc_a").as("nbr")))

  /** X59 — triangle census of the near-dup graph: exact triangle count,
    * wedge count, and global transitivity (3·triangles/wedges) over the
    * same jaccard ≥ 0.5 edge set as x4/x53. The structural audit behind
    * the cluster machinery: x15 says WHICH docs connect; transitivity
    * says whether components are dense duplicate families (template
    * farms — triangles everywhere, transitivity → 10000 bp) or fragile
    * near-dup CHAINS (A≈B≈C with A̸≈C — transitivity → 0) that a single
    * spurious edge glued together. Low transitivity on a big component
    * is the signal to re-examine τ before survivorship collapses
    * unrelated docs (x34's assumption).
    *
    * Scale posture: the textbook degree-ordered wedge join (each edge
    * directed from lower (deg, id) rank to higher), so a node's
    * out-degree — and therefore the wedge fan-out per node — is bounded
    * by O(√E) REGARDLESS of raw degree skew: a hub of degree D
    * contributes D wedges as the cheap endpoint, never C(D,2) as the
    * center (the Ortmann/Cohen MapReduce-triangles bound). Triangles
    * close with one equi-join back onto the directed edges; wedges are a
    * map-combinable Σ C(deg,2). No node ever enumerates its full
    * neighborhood square.
    */
  /** The x59 census over an arbitrary (doc_a, doc_b) edge frame —
    * factored so specs can drive planted graph shapes (cliques, paths,
    * stars) through the same degree-ordered plan.
    */
  private[graft] def triangleCensus(pairs: DataFrame): DataFrame = {
      val deg = bothDirections(pairs)
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val e = pairs
        .join(deg.select(col("node").as("doc_a"), col("deg").as("da")),
          Seq("doc_a"))
        .join(deg.select(col("node").as("doc_b"), col("deg").as("db")),
          Seq("doc_b"))
      val aLow = col("da") < col("db") ||
        (col("da") === col("db") && col("doc_a") < col("doc_b"))
      val dir = e.select(
        when(aLow, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(aLow, col("doc_b")).otherwise(col("doc_a")).as("dst"),
        when(aLow, col("db")).otherwise(col("da")).as("ddst"))
      val d1 = dir.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
      val d2 = dir.select(col("src"), col("dst").as("w"), col("ddst").as("dw"))
      val wedges = d1.join(d2, Seq("src"))
        .filter(col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w")))
      // rank(v) < rank(w), so a {v,w} edge — if present — is directed v→w
      val tri = wedges
        .join(dir.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
        .agg(count(lit(1)).as("n_triangles"))
      val totals = deg.agg(
        count(lit(1)).as("n_nodes"),
        expr("sum(deg * (deg - 1) div 2)").as("n_wedges"))
      val ne = pairs.agg(count(lit(1)).as("n_edges"))
      totals.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
        .withColumn("transitivity_bp",
          expr("(3 * n_triangles * 10000) div greatest(n_wedges, 1L)"))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
          "transitivity_bp")
  }

  val x59DedupTriangles = QueryDef(
    "x59_dedup_triangles",
    "near-dup graph triangle census: exact triangles, wedges, transitivity (degree-ordered wedge join)",
    (s, d) => triangleCensus(DedupQueries.cachedJaccardEdges(s, d)),
    Some(s"""WITH ${DedupQueries.ngramPairsSqlCtes},
            |und AS (SELECT doc_a AS node FROM jpairs
            |        UNION ALL SELECT doc_b AS node FROM jpairs),
            |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
            |        FROM und GROUP BY node),
            |dir AS MATERIALIZED (
            |  SELECT CASE WHEN (a.deg, j.doc_a) < (b.deg, j.doc_b)
            |              THEN j.doc_a ELSE j.doc_b END AS src,
            |         CASE WHEN (a.deg, j.doc_a) < (b.deg, j.doc_b)
            |              THEN j.doc_b ELSE j.doc_a END AS dst,
            |         CASE WHEN (a.deg, j.doc_a) < (b.deg, j.doc_b)
            |              THEN b.deg ELSE a.deg END AS ddst
            |  FROM jpairs j JOIN deg a ON j.doc_a = a.node
            |                JOIN deg b ON j.doc_b = b.node),
            |tri AS (
            |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
            |  FROM dir e1 JOIN dir e2 ON e1.src = e2.src
            |       AND ((e1.ddst, e1.dst) < (e2.ddst, e2.dst))
            |       JOIN dir e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
            |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
            |               CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
            |        FROM deg),
            |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM jpairs)
            |SELECT n_nodes, n_edges, n_wedges, n_triangles,
            |       CAST(3 * n_triangles * 10000 // greatest(n_wedges, 1)
            |            AS BIGINT) AS transitivity_bp
            |FROM tot CROSS JOIN ne CROSS JOIN tri""".stripMargin))

  /** Connected components from scratch. `edges` is (doc_a, doc_b);
    * returns (node, lbl) with lbl = min doc_id of the node's component.
    */
  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    val und = bothDirections(edges).localCheckpoint(true)
    val seeds = und.select("node").distinct().withColumn("lbl", col("node"))
    val (labels, _) = propagate(und, seeds)
    graft.similarity.Ivf.dropCheckpoint(und)
    labels
  }

  /** Incremental maintenance: merge a new batch's edges into an existing
    * (node, lbl) assignment without re-walking history. Old labels are
    * replayed as star edges member ↔ canonical (diameter ≤ 2 per old
    * component), seeds start from the old labels, and only the new
    * overlay needs propagating. Returns (labels, rounds).
    */
  private[graft] def mergeIncremental(oldLabels: DataFrame,
      newEdges: DataFrame): (DataFrame, Int) = {
    val star = oldLabels.filter(col("node") =!= col("lbl"))
      .select(col("node").as("doc_a"), col("lbl").as("doc_b"))
    val und = bothDirections(newEdges.select("doc_a", "doc_b").union(star))
      .localCheckpoint(true)
    val seeds = und.select("node").distinct()
      .join(oldLabels.select(col("node"), col("lbl").as("olbl")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("olbl"), col("node")).as("lbl"))
    val out = propagate(und, seeds)
    graft.similarity.Ivf.dropCheckpoint(und)
    out
  }

  // Cluster frames are COMPUTED ONCE per (session, key) and the tiny
  // (node, lbl) results kept checkpointed — same memo + cleanup pattern
  // as the IVF index. The global map lock covers only map reads/inserts;
  // the heavy multi-job build runs under the per-key holder's own lock,
  // so concurrent invocations for DIFFERENT keys never serialize behind
  // one build (same-key callers block, as they must).
  private final class Holder(build: () => DataFrame) {
    @volatile private var built: DataFrame = _
    def get: DataFrame = {
      if (built == null) synchronized { if (built == null) built = build() }
      built
    }
    /** The frame iff the build has completed (for cleanup). */
    def peek: Option[DataFrame] = Option(built)
  }

  private val ccMemo =
    new java.util.HashMap[SparkSession, Map[String, Holder]]()

  graft.PlanCache.registerCleanupHook { s =>
    val dropped = ccMemo.synchronized(Option(ccMemo.remove(s)))
    dropped.foreach(_.values.flatMap(_.peek)
      .foreach(graft.similarity.Ivf.dropCheckpoint))
  }

  /** Evict one memo entry (and its checkpoint), forcing the next call to
    * rebuild — test seam for cold-build assertions; the memo itself has
    * no other per-key lifecycle.
    */
  private[graft] def evictMemo(s: SparkSession, key: String): Unit = {
    val dropped = ccMemo.synchronized {
      Option(ccMemo.get(s)).flatMap { m =>
        // only evict COMPLETED builds: removing a Holder whose build is
        // in flight would orphan it — the finished frame's checkpoint
        // would be reachable by no cleanup path for the session lifetime
        val hit = m.get(key).filter(_.peek.isDefined)
        if (hit.isDefined) ccMemo.put(s, m - key)
        hit
      }
    }
    dropped.flatMap(_.peek).foreach(graft.similarity.Ivf.dropCheckpoint)
  }

  private def memoized(s: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    val h = ccMemo.synchronized {
      val m = Option(ccMemo.get(s)).getOrElse(Map.empty[String, Holder])
      m.get(key) match {
        case Some(hit) => hit
        case None =>
          graft.PlanCache.track(s)
          val nh = new Holder(() => build)
          ccMemo.put(s, m.updated(key, nh))
          nh
      }
    }
    h.get
  }

  private def simHashEdges(s: SparkSession, d: String): DataFrame =
    DedupQueries.simHashPairs(s, d, DedupQueries.BAND_DF_CAP)
      .select("doc_a", "doc_b")

  private def clusters(s: SparkSession, d: String): DataFrame =
    memoized(s, s"x15/$d")(connectedComponents(simHashEdges(s, d)))

  /** The memoized x15 SimHash cluster assignment `(node, lbl)` — the
    * TEXT side of x85's cross-modal pair audit.
    */
  private[graft] def textClusterMap(s: SparkSession, d: String): DataFrame =
    clusters(s, d)

  /** Memoized connected components over a caller-supplied edge build —
    * x85's embedding-side clusters ride the same Holder + cleanup
    * lifecycle as the x15/x18 frames.
    */
  private[graft] def memoizedComponents(s: SparkSession, key: String)(
      edges: => DataFrame): DataFrame =
    memoized(s, key)(connectedComponents(edges))

  /** X15 — near-dup cluster membership: every doc in a SimHash near-dup
    * component, its cluster id (= component min doc_id), whether it is
    * the canonical survivor, and the cluster size.
    */
  val x15DedupClusters = QueryDef(
    "x15_dedup_clusters",
    "connected-component dedup clusters (SimHash pairs), canonical per cluster",
    (s, d) => {
      val cc = clusters(s, d)
      val sizes = cc.groupBy("lbl").agg(count(lit(1)).as("n_docs"))
      cc.join(sizes, Seq("lbl"))
        .select(col("lbl").as("cluster_id"), col("node").as("doc_id"),
          when(col("node") === col("lbl"), 1).otherwise(0).as("is_canonical"),
          col("n_docs"))
        .orderBy("cluster_id", "doc_id")
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.simHashSqlCtes(DedupQueries.BAND_DF_CAP)},
            |und AS MATERIALIZED (SELECT doc_a AS node, doc_b AS nbr FROM sim_pairs
            |        UNION ALL
            |        SELECT doc_b AS node, doc_a AS nbr FROM sim_pairs),
            |reach AS (SELECT node, node AS lbl FROM und
            |          UNION
            |          SELECT u.nbr AS node, r.lbl
            |          FROM reach r JOIN und u ON r.node = u.node),
            |cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id
            |       FROM reach GROUP BY node),
            |sized AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
            |          FROM cc GROUP BY cluster_id)
            |SELECT cc.cluster_id, cc.doc_id,
            |       CAST(CASE WHEN cc.doc_id = cc.cluster_id THEN 1 ELSE 0 END AS INTEGER) AS is_canonical,
            |       s.n_docs
            |FROM cc JOIN sized s ON cc.cluster_id = s.cluster_id
            |ORDER BY cc.cluster_id, cc.doc_id""".stripMargin))

  /** X18 — incremental cluster maintenance: the corpus's near-dup edges
    * split into a historical batch (both endpoints in history, same
    * doc_id % 10 < 8 split as x13) and a new batch; history is clustered
    * once, then the new batch MERGES into the existing assignment via
    * [[mergeIncremental]] — no full-corpus re-propagation. Output is the
    * x15 schema plus a per-doc `status` audit: `kept` (label unchanged),
    * `relabeled` (component grew/merged), `new` (doc entered the graph
    * with this batch). The merged assignment provably equals a full
    * recompute over all edges (min-label is order-insensitive), which is
    * exactly what the oracle checks with two recursive closures.
    */
  val x18ClustersIncremental = QueryDef(
    "x18_clusters_incremental",
    "incremental cluster merge of a new edge batch into existing labels",
    (s, d) => {
      val assembled = memoized(s, s"x18/$d") {
        val pairs = simHashEdges(s, d).localCheckpoint(true)
        val isOld = (col("doc_a") % 10 < 8) && (col("doc_b") % 10 < 8)
        val oldLabels = connectedComponents(pairs.filter(isOld))
        val (merged, _) = mergeIncremental(oldLabels, pairs.filter(!isOld))
        graft.similarity.Ivf.dropCheckpoint(pairs)
        val sizes = merged.groupBy("lbl").agg(count(lit(1)).as("n_docs"))
        val audit = merged.join(sizes, Seq("lbl"))
          .join(oldLabels.select(col("node"), col("lbl").as("old_lbl")),
            Seq("node"), "left")
          .select(col("lbl").as("cluster_id"), col("node").as("doc_id"),
            when(col("node") === col("lbl"), 1).otherwise(0).as("is_canonical"),
            col("n_docs"),
            when(col("old_lbl").isNull, "new")
              .when(col("old_lbl") === col("lbl"), "kept")
              .otherwise("relabeled").as("status"))
          // the assembled audit is a few hundred rows; checkpoint it so
          // the memoized frame holds no lineage into the build frames
          .localCheckpoint(true)
        // audit is materialized: the corpus-sized (node, lbl) build frames
        // are no longer reachable — release their pinned RDDs now instead
        // of holding both until session end
        graft.similarity.Ivf.dropCheckpoint(oldLabels)
        graft.similarity.Ivf.dropCheckpoint(merged)
        audit
      }
      assembled.orderBy("cluster_id", "doc_id")
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.simHashSqlCtes(DedupQueries.BAND_DF_CAP)},
            |old_edges AS (SELECT doc_a, doc_b FROM sim_pairs
            |              WHERE doc_a % 10 < 8 AND doc_b % 10 < 8),
            |old_und AS MATERIALIZED (SELECT doc_a AS node, doc_b AS nbr FROM old_edges
            |            UNION ALL
            |            SELECT doc_b AS node, doc_a AS nbr FROM old_edges),
            |old_reach AS (SELECT node, node AS lbl FROM old_und
            |              UNION
            |              SELECT u.nbr AS node, r.lbl
            |              FROM old_reach r JOIN old_und u ON r.node = u.node),
            |old_cc AS (SELECT node, min(lbl) AS lbl FROM old_reach GROUP BY node),
            |und AS MATERIALIZED (SELECT doc_a AS node, doc_b AS nbr FROM sim_pairs
            |        UNION ALL
            |        SELECT doc_b AS node, doc_a AS nbr FROM sim_pairs),
            |reach AS (SELECT node, node AS lbl FROM und
            |          UNION
            |          SELECT u.nbr AS node, r.lbl
            |          FROM reach r JOIN und u ON r.node = u.node),
            |cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id
            |       FROM reach GROUP BY node),
            |sized AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
            |          FROM cc GROUP BY cluster_id)
            |SELECT cc.cluster_id, cc.doc_id,
            |       CAST(CASE WHEN cc.doc_id = cc.cluster_id THEN 1 ELSE 0 END AS INTEGER) AS is_canonical,
            |       s.n_docs,
            |       CASE WHEN o.lbl IS NULL THEN 'new'
            |            WHEN o.lbl = cc.cluster_id THEN 'kept'
            |            ELSE 'relabeled' END AS status
            |FROM cc JOIN sized s ON cc.cluster_id = s.cluster_id
            |     LEFT JOIN old_cc o ON cc.doc_id = o.node
            |ORDER BY cc.cluster_id, cc.doc_id""".stripMargin))

  /** X34 — survivorship merge (golden-record consolidation): every
    * near-dup cluster from x15 collapses to ONE canonical record with
    * field-level survivorship rules — the cluster's min doc_id as the
    * stable record id (x15's canonical rule), `max_by(lang, doc_id)` as
    * latest-wins for mutable fields, the distinct source set merged into
    * one sorted list, and exact char totals for the content the merge
    * absorbs. This is the metadata half of dedup: x15 says WHICH records
    * form a duplicate group, x34 says what the surviving record LOOKS
    * like — the consolidation step every entity-resolution pipeline runs
    * after clustering.
    *
    * Scale posture: the cluster assignment is the memoized x15 frame
    * (pair-graph sized — tiny next to the corpus), broadcast onto ONE
    * documents scan, then a single hash aggregate keyed by cluster.
    * min/max/max_by carry constant state per group through partial
    * aggregation, and collect_set(source) is bounded by the source
    * vocabulary, not cluster size. No window, no self-join.
    */
  val x34Survivorship = QueryDef(
    "x34_survivorship",
    "golden-record consolidation per near-dup cluster (latest-wins + source merge)",
    (s, d) => {
      val cc = clusters(s, d)
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      val docs = graft.sources.Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.join(broadcast(cc), Seq("doc_id"))
        .groupBy("cluster_id")
        .agg(
          count(lit(1)).as("n_records"),
          max(col("doc_id")).as("last_id"),
          max_by(col("lang"), col("doc_id")).as("survivor_lang"),
          array_join(array_sort(collect_set(col("source"))), ",").as("sources"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("cluster_id")
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.simHashSqlCtes(DedupQueries.BAND_DF_CAP)},
            |und AS MATERIALIZED (SELECT doc_a AS node, doc_b AS nbr FROM sim_pairs
            |        UNION ALL
            |        SELECT doc_b AS node, doc_a AS nbr FROM sim_pairs),
            |reach AS (SELECT node, node AS lbl FROM und
            |          UNION
            |          SELECT u.nbr AS node, r.lbl
            |          FROM reach r JOIN und u ON r.node = u.node),
            |cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id
            |       FROM reach GROUP BY node)
            |SELECT cc.cluster_id,
            |       CAST(count(*) AS BIGINT) AS n_records,
            |       CAST(max(d.doc_id) AS BIGINT) AS last_id,
            |       arg_max(d.lang, d.doc_id) AS survivor_lang,
            |       array_to_string(list_sort(list(DISTINCT d.source)), ',') AS sources,
            |       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
            |FROM cc JOIN documents d ON cc.doc_id = d.doc_id
            |GROUP BY cc.cluster_id
            |ORDER BY cluster_id""".stripMargin))

  /** X37 — duplicate-aware loss weighting: instead of DELETING near-dups
    * (x15's canonical-only cut), weight every document by the inverse of
    * its cluster size — each near-dup family contributes ONE document's
    * worth of gradient however many copies exist (the soft-dedup
    * alternative when provenance requires keeping all copies). Output is
    * the per-source audit: raw docs, clustered docs, and the effective
    * corpus size in exact basis points (`Σ 10000 div cluster_size`;
    * singletons contribute 10000).
    *
    * Scale posture: same broadcast shape as x34 — the pair-graph-sized
    * cluster map broadcasts onto ONE documents scan, one hash aggregate
    * by source. Integer division keeps the audit hash-gateable; the real
    * trainer would emit `1.0 / n` per row with the same plan.
    */
  val x37DedupWeights = QueryDef(
    "x37_dedup_weights",
    "inverse-cluster-size loss weights: effective corpus size per source (bp)",
    (s, d) => {
      val cc = clusters(s, d)
      val sizes = cc.groupBy("lbl").agg(count(lit(1)).as("csize"))
      val sized = cc.join(sizes, Seq("lbl"))
        .select(col("node").as("doc_id"), col("csize"))
      graft.sources.Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"))
        .join(broadcast(sized), Seq("doc_id"), "left")
        .withColumn("w_bp",
          coalesce(expr("10000 DIV csize"), lit(10000L)))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("csize")).as("n_clustered"),
          sum(col("w_bp")).as("effective_docs_bp"))
        .orderBy("source")
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.simHashSqlCtes(DedupQueries.BAND_DF_CAP)},
            |und AS MATERIALIZED (SELECT doc_a AS node, doc_b AS nbr FROM sim_pairs
            |        UNION ALL
            |        SELECT doc_b AS node, doc_a AS nbr FROM sim_pairs),
            |reach AS (SELECT node, node AS lbl FROM und
            |          UNION
            |          SELECT u.nbr AS node, r.lbl
            |          FROM reach r JOIN und u ON r.node = u.node),
            |cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id
            |       FROM reach GROUP BY node),
            |sized AS (SELECT cc.doc_id, s.csize
            |          FROM cc JOIN (SELECT cluster_id, count(*) AS csize
            |                        FROM cc GROUP BY 1) s
            |            ON cc.cluster_id = s.cluster_id)
            |SELECT d.source,
            |       CAST(count(*) AS BIGINT) AS n_docs,
            |       CAST(count(sized.csize) AS BIGINT) AS n_clustered,
            |       CAST(sum(coalesce(10000 // sized.csize, 10000)) AS BIGINT) AS effective_docs_bp
            |FROM documents d LEFT JOIN sized ON d.doc_id = sized.doc_id
            |GROUP BY d.source ORDER BY d.source""".stripMargin))

  val defs: Seq[QueryDef] = Seq(x53QualityPropagation, x59DedupTriangles,
    x15DedupClusters, x18ClustersIncremental,
    x34Survivorship, x37DedupWeights)
}
