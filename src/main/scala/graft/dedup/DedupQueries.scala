package graft.dedup

import graft.QueryDef
import graft.functions.CrossHash
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Every algorithm here is expressed as a declarative DataFrame plan over
  * engine-portable md5 hashing ([[CrossHash]]) so the DuckDB oracle can
  * replay it bit-for-bit. Scale posture (100 TB):
  *  - no all-pairs comparisons: candidate generation is always a *blocked*
  *    equi-join (LSH band buckets, SimHash bands, shingle inverted index,
  *    sign buckets) that Catalyst executes as a shuffle hash/sort-merge join
  *    on the block key;
  *  - signatures are fixed-width per document (16 minhashes / 4 simhash
  *    bands), so signature state is O(docs), never O(docs²);
  *  - hot blocking keys (stopword shingles, degenerate band signatures)
  *    would otherwise make a quadratic bucket: every candidate join here
  *    applies a DOC-FREQUENCY CAP first — bucket keys matched by more
  *    than `BAND_DF_CAP`/`SHINGLE_DF_CAP` docs are dropped from candidate
  *    generation (a >cap bucket is a boilerplate/templated cluster, the
  *    job of exact dedup, not near-dup search). The hot-key set is found
  *    with a map-side-combinable groupBy (≤ n/cap keys by construction)
  *    and removed with a broadcast anti-join — no window sort over the
  *    full index. Caps sit far above every real bucket in the test corpus
  *    (measured max band df 174, shingle df 25 at sf≤0.1... band df 1534
  *    at sf0.1 is the one degenerate hot band the cap exists to kill), so
  *    recall on normal corpora is untouched; `DedupSkewSpec` pins both
  *    properties. The DuckDB oracles apply the identical cap.
  */
object DedupQueries {

  /** Bucket keys matched by more docs than this are dropped from LSH/band
    * candidate generation (x2/x3).
    */
  val BAND_DF_CAP = 256

  /** Shingles appearing in more docs than this are dropped from the x4
    * inverted-index join (and excluded from intersection counts only —
    * set sizes keep every shingle).
    */
  val SHINGLE_DF_CAP = 128

  /** Drop rows whose `keys` bucket exceeds `cap` docs: the hot-key set
    * comes from a partial-aggregated count and is removed with an
    * anti-join. No broadcast hint — the set is bounded by n/cap, which
    * is usually tiny but GROWS with corpus size (a fully templated
    * corpus can exceed any driver's memory); AQE broadcasts it at
    * runtime when it is actually small and shuffles otherwise.
    */
  private def dfCap(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__df")).filter(col("__df") > cap)
      .select(keys.map(col): _*)
    df.join(hot, keys, "left_anti")
  }

  private def dfCapSql(rel: String, keys: Seq[String], cap: Int): String = {
    val grp = keys.mkString(", ")
    val eq = keys.map(k => s"h.$k = r.$k").mkString(" AND ")
    s"""(SELECT r.* FROM $rel r WHERE NOT EXISTS (
       |   SELECT 1 FROM (SELECT $grp FROM $rel GROUP BY $grp
       |                  HAVING count(*) > $cap) h WHERE $eq))""".stripMargin
  }

  private def docs(s: SparkSession, d: String) = {
    graft.GraftExtensions.ensure(s) // graft_md5u60 for caller-built sessions
    Tables.load(s, d, "documents")
  }

  /** Documents spread across the cluster before a shingle/token explode.
    * The test corpus parquet is a single row group — Spark scans it as ONE
    * task, so without this the expensive explode in every signature/index
    * BUILD runs serially (measured: x4 index build 9.5 s → ~3 s). Only the
    * cached builders use it: for scan→agg queries like x1 an extra shuffle
    * would be pure loss.
    */
  private[graft] def docsWide(s: SparkSession, d: String) =
    docs(s, d).repartition(col("doc_id"))

  /** Hot-path 60-bit hash: the codegen [[graft.functions.Md5U60]] kernel
    * (numerically identical to `CrossHash.md5u60`, ~one digest call per
    * row instead of hex substrings + conv).
    */
  private def md5u60(c: Column): Column = call_function("graft_md5u60", c)

  private val K = 16 // minhash signature width
  private val BANDS = 4 // LSH bands (4 rows per band)
  private val MOD_P = 1073741789L // largest prime < 2^30

  /** Every 3-token shingle occurrence per `keyCols` row (bag semantics —
    * one output row per position). The tokenization contract lives HERE
    * only: the dedup operators (x2/x3/x4), the contamination screen
    * (x11), and the text-analysis repetition/boilerplate queries
    * (t24/t25) all derive from this one definition, Spark-side and via
    * the matching SQL CTE below.
    */
  private[graft] def shingleRows(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.select(keyCols.map(col) :+ split(col("text"), " ").as("toks"): _*)
      .where(size(col("toks")) >= 3)
      .select(keyCols.map(col) ++ Seq(
        explode(expr("sequence(1, size(toks) - 2)")).as("i"),
        col("toks")): _*)
      .select(keyCols.map(col) :+
        expr("concat_ws(' ', toks[i-1], toks[i], toks[i+1])").as("shingle"): _*)

  /** Distinct shingles per `keyCol` (set semantics for Jaccard). */
  private[graft] def shingleSet(df: DataFrame, keyCol: String): DataFrame =
    shingleRows(df, Seq(keyCol)).distinct()

  private def shingles(df: DataFrame): DataFrame = shingleSet(df, "doc_id")

  /** DuckDB CTEs `toks`/`sh` replicating [[shingleRows]]/[[shingleSet]]
    * over `documents`.
    */
  private def shingleCtes(keyCols: Seq[String], distinct: Boolean): String = {
    val ks = keyCols.mkString(", ")
    val d = if (distinct) "DISTINCT " else ""
    s"""toks AS (SELECT $ks, string_split(text, ' ') AS t FROM documents
       |          WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT $d$ks, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |       FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i))""".stripMargin
  }

  private[graft] def shingleRowsSql(keyCols: Seq[String]): String =
    shingleCtes(keyCols, distinct = false)

  private[graft] def shingleSetSql(keyCol: String): String =
    shingleCtes(Seq(keyCol), distinct = true)

  private val shinglesSql = shingleSetSql("doc_id")

  /** X1 — exact + normalized-text dedup audit per source.
    * Exact dedup is the hash-groupBy pattern: identical bytes → identical
    * md5 → one group; at scale this is a single shuffle on the 128-bit
    * fingerprint (no text comparison ever crosses the wire).
    */
  val x1DedupExact = QueryDef(
    "x1_dedup_exact",
    "exact + normalized-text duplicate counts per source (hash-groupBy dedup)",
    (s, d) => {
      val norm = regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")
      docs(s, d)
        .select(col("source"), md5(col("text")).as("fp"),
          md5(trim(norm)).as("nfp"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dupes"),
          (count(lit(1)) - countDistinct(col("nfp"))).as("n_norm_dupes"))
        .orderBy("source")
    },
    Some("""SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
                   CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dupes,
                   CAST(count(*) - count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS BIGINT) AS n_norm_dupes
            FROM documents GROUP BY source ORDER BY source"""))

  /** X2 — MinHash + LSH near-duplicate candidate pairs.
    * shingle → 16 min-hashes → 4 bands of 4 → band-bucket equi-join →
    * candidate pairs + estimated Jaccard (matching minhash fraction).
    *
    * The permutation family is the standard 2-hash affine construction
    * (Broder): `m_k = (h1 + k·h2) mod p` with h1/h2 carved from ONE md5
    * per shingle — 8× less hashing than k independent salted digests, and
    * every value stays far inside a signed long (h1,h2 < 2^30, k ≤ 15).
    * The signature table is persisted: it is O(docs) — 16 longs per doc —
    * and feeds three consumers (bands, and both sides of the similarity
    * join), so at 100 TB recomputing it three times would triple the
    * corpus scans. The only shuffles are the signature groupBy (keyed by
    * doc_id) and the band join (keyed by band signature).
    */
  /** Uncapped band rows (doc_id, band, sig, m0..m15) behind X2. */
  private[graft] def minHashBandsUncapped(s: SparkSession, d: String): DataFrame =
    minHashBandsOf(s, docsWide(s, d), s"x2_sig/$d")

  /** The same band builder over an arbitrary `(doc_id, text)` frame —
    * x2 feeds it the corpus; x48 feeds it the corpus + planted mutants.
    */
  private[graft] def minHashBandsOf(s: SparkSession, docFrame: DataFrame,
      sigCacheKey: String): DataFrame = {
    val sh = shingles(docFrame)
    val u60 = md5u60(col("shingle"))
    val hashed = sh.select(col("doc_id"),
      shiftright(u60, 30).as("h1"),
      u60.bitwiseAND(lit((1L << 30) - 1)).as("h2"))
    val sig = graft.PlanCache.checkpointed(s, sigCacheKey) {
      hashed
        .groupBy("doc_id")
        .agg(min((col("h1") + col("h2") * 0) % MOD_P).as("m0"),
          (1 until K).map(k =>
            min((col("h1") + col("h2") * k) % MOD_P).as(s"m$k")): _*)
    }
    // x4's fused trick, applied to signatures: each band row carries the
    // doc's WHOLE 16-minhash signature (16 longs — fixed width, O(docs·4)
    // band rows total), so the band self-join scores est_jaccard directly
    // and the pair dedup is a groupBy — no joins back to the signature
    // table (two fewer shuffles; the score is identical from every band
    // that discovers a pair, so max() under the groupBy is exact).
    val bandCols = (0 until BANDS).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(":",
          (0 until 4).map(j => col(s"m${4 * b + j}").cast("string")): _*))
          .as("sig"))
    }
    sig.select(col("doc_id") +: explode(array(bandCols: _*)).as("bs") +:
      (0 until K).map(k => col(s"m$k")): _*)
      .select(col("doc_id") +: col("bs.band").as("band") +:
        col("bs.sig").as("sig") +: (0 until K).map(k => col(s"m$k")): _*)
  }

  def minHashLshPairs(s: SparkSession, d: String, cap: Int): DataFrame =
    pairsFromBands(dfCap(minHashBandsUncapped(s, d), Seq("band", "sig"), cap))

  /** Candidate-pair join + signature scoring over a (possibly capped)
    * band frame from [[minHashBandsOf]].
    */
  private def pairsFromBands(bands: DataFrame): DataFrame = {
    val matches = (0 until K)
      .map(k => when(col(s"a.m$k") === col(s"b.m$k"), 1).otherwise(0))
      .reduce(_ + _)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (matches.cast("double") / K).as("est"))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("est")).as("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val x2MinHashLsh = QueryDef(
    "x2_dedup_minhash_lsh",
    "MinHash(16)+LSH(4x4) candidate pairs with estimated Jaccard",
    (s, d) => minHashLshPairs(s, d, BAND_DF_CAP),
    Some {
      val mins = (0 until K).map(k =>
        s"min((h1 + $k * h2) % $MOD_P) AS m$k")
        .mkString(",\n         ")
      val bandSigs = (0 until BANDS).map { b =>
        val parts = (0 until 4).map(j => s"CAST(m${4 * b + j} AS VARCHAR)")
          .mkString(" || ':' || ")
        s"SELECT doc_id, $b AS band, md5($parts) AS sig FROM mh"
      }.mkString("\n       UNION ALL ")
      val matchSum = (0 until K)
        .map(k => s"(CASE WHEN x.m$k = y.m$k THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shinglesSql,
         |hashed AS (SELECT doc_id,
         |             CAST((md5_number_lower(shingle) >> 4) >> 30 AS BIGINT) AS h1,
         |             CAST((md5_number_lower(shingle) >> 4) & ${(1L << 30) - 1} AS BIGINT) AS h2
         |           FROM sh),
         |mh AS (SELECT doc_id,
         |         $mins
         |       FROM hashed GROUP BY doc_id),
         |bands AS ($bandSigs),
         |capped AS ${dfCapSql("bands", Seq("band", "sig"), BAND_DF_CAP)},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM capped a JOIN capped b
         |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST($matchSum AS DOUBLE) / $K AS est_jaccard
         |FROM cand JOIN mh x ON doc_a = x.doc_id JOIN mh y ON doc_b = y.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    })

  /** X3 — SimHash near-dup pairs. 60-bit token-set simhash kept as 4×15-bit
    * bands; band-equality blocking, then exact Hamming distance ≤ 2.
    *
    * The bit-majority fold is ONE hash aggregation with 60 sum expressions
    * (`sum(((h>>b)&1)*2-1)` per bit) — no 60× row explosion, so the only
    * shuffle carries one 60-counter record per doc regardless of corpus
    * size (Catalyst computes all 60 partials map-side in a single pass).
    */
  /** Cached 4×15-bit simhash signature table behind X3 (one corpus pass,
    * three consumers: bands + both Hamming sides).
    */
  private[graft] def simSignature(s: SparkSession, d: String): DataFrame = {
    val toks = docsWide(s, d)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
    val bitSums = toks
      .select(col("doc_id"), md5u60(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(
        sum(expr("CAST((h >> 0) & 1 AS INT) * 2 - 1")).as("sv0"),
        (1 until 60).map(b =>
          sum(expr(s"CAST((h >> $b) & 1 AS INT) * 2 - 1")).as(s"sv$b")): _*)
    graft.PlanCache.checkpointed(s, s"x3_sim/$d") {
      bitSums.select(
        col("doc_id") +:
          (0 until 4).map { j =>
            (0 until 15).map(i =>
              when(col(s"sv${j * 15 + i}") > 0, lit(1L << i)).otherwise(0L))
              .reduce(_ + _).as(s"s$j")
          }: _*)
    }
  }

  /** Uncapped band rows (doc_id, band, bv, s0..s3) behind X3. */
  private[graft] def simHashBandsUncapped(s: SparkSession, d: String): DataFrame = {
    val sim = simSignature(s, d)
    val bandCols = (0 until 4).map(j =>
      struct(lit(j).as("band"), col(s"s$j").as("bv")))
    sim.select(col("doc_id") +: explode(array(bandCols: _*)).as("bs") +:
      (0 until 4).map(j => col(s"s$j")): _*)
      .select(col("doc_id") +: col("bs.band").as("band") +:
        col("bs.bv").as("bv") +: (0 until 4).map(j => col(s"s$j")): _*)
  }

  def simHashPairs(s: SparkSession, d: String, cap: Int): DataFrame = {
    // fused like x2: each band row carries the full 4-word simhash, so the
    // band join computes the exact Hamming distance directly and pairs
    // dedup through a groupBy — no joins back to the signature table
    val bands = dfCap(simHashBandsUncapped(s, d), Seq("band", "bv"), cap)
    val hamming = (0 until 4)
      .map(j => expr(s"bit_count(a.s$j ^ b.s$j)"))
      .reduce(_ + _)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.cast("int").as("ham"))
      .filter(col("ham") <= 2)
      .groupBy("doc_a", "doc_b")
      .agg(max(col("ham")).as("hamming"))
  }

  /** DuckDB CTE chain replaying [[simHashPairs]]; ends in `sim_pairs
    * (doc_a, doc_b, hamming)`. Shared by x3's oracle and the x15
    * cluster oracle.
    */
  private[graft] def simHashSqlCtes(cap: Int): String = {
    val bandVals = (0 until 4).map(j =>
      s"""CAST(sum(CASE WHEN b >= ${j * 15} AND b < ${(j + 1) * 15}
         |  THEN CAST(bit AS BIGINT) << (b - ${j * 15}) ELSE 0 END) AS BIGINT) AS s$j"""
        .stripMargin.replaceAll("\n", " "))
      .mkString(",\n         ")
    val bandSel = (0 until 4).map(j =>
      s"SELECT doc_id, $j AS band, s$j AS bv FROM sim").mkString("\n       UNION ALL ")
    val ham = (0 until 4).map(j => s"bit_count(xor(x.s$j, y.s$j))").mkString(" + ")
    s"""toks AS (SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |              FROM documents),
       |bits AS (SELECT doc_id, b,
       |           CASE WHEN sum(CAST((h >> b) & 1 AS INT) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit
       |         FROM (SELECT doc_id, CAST(md5_number_lower(tok) >> 4 AS BIGINT) AS h FROM toks),
       |              UNNEST(generate_series(0, 59)) AS u(b)
       |         GROUP BY doc_id, b),
       |sim AS MATERIALIZED (SELECT doc_id,
       |         $bandVals
       |        FROM bits GROUP BY doc_id),
       |bands AS ($bandSel),
       |capped AS ${dfCapSql("bands", Seq("band", "bv"), cap)},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM capped a JOIN capped b
       |           ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |sim_pairs AS MATERIALIZED (
       |              SELECT doc_a, doc_b, CAST($ham AS INT) AS hamming
       |              FROM cand JOIN sim x ON doc_a = x.doc_id
       |                        JOIN sim y ON doc_b = y.doc_id
       |              WHERE $ham <= 2)""".stripMargin
  }

  val x3SimHash = QueryDef(
    "x3_dedup_simhash",
    "SimHash(60-bit, 4-band blocking) pairs with Hamming distance <= 2",
    (s, d) => simHashPairs(s, d, BAND_DF_CAP).orderBy("doc_a", "doc_b"),
    Some(s"""WITH ${simHashSqlCtes(BAND_DF_CAP)}
            |SELECT doc_a, doc_b, hamming FROM sim_pairs
            |ORDER BY doc_a, doc_b""".stripMargin))

  /** X4 — exact n-gram Jaccard via shingle inverted index.
    * Candidate pairs are generated by self-joining the (shingle → doc)
    * index, so only pairs that share ≥1 shingle are ever scored — the
    * classic set-similarity join. Jaccard = |A∩B| / (|A|+|B|−|A∩B|).
    *
    * The index is ONE cached table `(doc_id, shingle, sz)`: `sz` is the
    * doc's FULL distinct-shingle count (the Jaccard denominator, computed
    * before capping), rows are df-capped (candidate generation and
    * intersection only — a dropped shingle can only LOWER similarity,
    * never fabricate it). Carrying `sz` on every index row lets the
    * self-join emit it through the pair groupBy as a grouping column, so
    * the runtime plan is join → agg → filter → sort with NO separate
    * sizes aggregation and NO per-side sizes joins: intersection counting
    * (the "verify" step of a set-similarity join) is fused into candidate
    * generation — each pair is scored by the same hash aggregate that
    * discovers it.
    *
    * A PPJoin-style prefix filter (index only each doc's df-rarest
    * capN−⌈sz/2⌉+1 shingles, verify survivors against full sets) was
    * implemented and MEASURED WORSE here, like the length filter before
    * it (NOTES.md): at sf0.1 it cut the index 572k→134k rows but still
    * emitted 409k candidate pairs, and re-deriving their intersections
    * outside the join (pair × doc-shingles expansion) cost 4.1 s where
    * the fused groupBy scores pairs for free. Prefix filtering pays off
    * only when verification is array-local (a native PPJoin) or τ is
    * high; at τ=0.5 the prefix is half the doc and prunes little.
    */
  /** Shared pair-counting core: every co-shingled pair with its
    * intersection size and both full set sizes (x4 scores these as
    * Jaccard; x27 sweeps thresholds over the SAME frame).
    */
  private def ngramPairCounts(s: SparkSession, d: String, cap: Int): DataFrame = {
    // the scored PAIR frame is memoized too (not just the index): four
    // queries (x4/x27/x35/x42) consume these counts, and re-executing
    // the 572k-row index self-join + pair groupBy per run was ~2.2 s of
    // each one's warm cost (measured r17). The frame is band-bounded
    // (df-capped candidate generation), so its size scales with the
    // pair graph, not the corpus square; content is deterministic.
    graft.PlanCache.checkpointed(s, s"x4_paircounts/$d/$cap") {
      val idx = graft.PlanCache.checkpointed(s, s"x4_idx/$d/$cap") {
        val sized = shingles(docsWide(s, d)).withColumn("sz",
          count(lit(1)).over(Window.partitionBy("doc_id")))
        dfCap(sized, Seq("shingle"), cap)
      }
      idx.as("a")
        .join(idx.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sz").as("sza"), col("b.sz").as("szb"))
        .agg(count(lit(1)).as("inter"))
    }
  }

  def ngramJaccardPairs(s: SparkSession, d: String, cap: Int): DataFrame =
    ngramPairCounts(s, d, cap)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")

  /** The τ=0.5 near-dup EDGE SET as a PlanCache'd frame — the graph
    * consumers (x53 propagation, x59 triangles) reference the pair
    * frame many times per plan (degrees, adjacency, closing joins), and
    * only the inverted INDEX is cached above: without this, each
    * reference re-executes the index self-join (measured: x59 14.3 s →
    * the same census in ~1 s once the edges are a cached scan).
    */
  private[graft] def cachedJaccardEdges(s: SparkSession, d: String): DataFrame =
    graft.PlanCache.checkpointed(s, s"x4_jpairs/$d") {
      ngramJaccardPairs(s, d, SHINGLE_DF_CAP).select("doc_a", "doc_b")
    }

  /** DuckDB CTE chain replaying [[ngramJaccardPairs]] at τ = 0.5; ends in
    * `jpairs(doc_a, doc_b, jaccard)`. Shared by x4's oracle and the x53
    * quality-propagation oracle (same edge set, one definition).
    */
  private[graft] def ngramPairsSqlCtes: String =
    s"""$shinglesSql,
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
       |capped AS ${dfCapSql("sh", Seq("shingle"), SHINGLE_DF_CAP)},
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
       |          FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |jpairs AS MATERIALIZED (
       |           SELECT doc_a, doc_b,
       |                  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
       |           FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       |                      JOIN sizes sb ON doc_b = sb.doc_id
       |           WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)""".stripMargin

  val x4NgramJaccard = QueryDef(
    "x4_dedup_ngram_jaccard",
    "exact 3-gram Jaccard >= 0.5 pairs via shingle inverted-index join",
    (s, d) => ngramJaccardPairs(s, d, SHINGLE_DF_CAP),
    Some(s"""WITH $ngramPairsSqlCtes
            |SELECT doc_a, doc_b, jaccard FROM jpairs
            |ORDER BY doc_a, doc_b""".stripMargin))

  /** X27 — dedup-rate sensitivity sweep: for each Jaccard threshold τ ∈
    * {0.3 … 0.9}, the number of near-dup pairs at ≥ τ and the number of
    * distinct higher-id docs with at least one such pair (the docs a
    * keep-lowest-id dedup pass would examine at that setting). The
    * curation knob-tuning query: one run shows how aggressive each
    * threshold is before committing a full dedup at corpus scale.
    *
    * Exactness: τ comparison is cross-multiplied into integers
    * (`inter/union ≥ t/10` ⇔ `10·inter ≥ t·union`), so the sweep has no
    * float-boundary risk in either engine. Runtime: the SAME cached
    * fused index/pair plan as x4 (one join + one agg); the 7-way
    * threshold expansion happens on the tiny pair set, not the index.
    */
  val x27DedupSweep = QueryDef(
    "x27_dedup_sweep",
    "near-dup pair / affected-doc counts per Jaccard threshold 0.3-0.9",
    (s, d) =>
      ngramPairCounts(s, d, SHINGLE_DF_CAP)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          (col("sza") + col("szb") - col("inter")).as("un"))
        .select(col("doc_b"), col("inter"), col("un"),
          explode(expr("sequence(3, 9)")).as("t"))
        .filter(col("inter") * 10 >= col("t") * col("un"))
        .groupBy("t")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_b")).as("n_docs_affected"))
        .select((col("t").cast("double") / 10.0).as("tau"),
          col("n_pairs"), col("n_docs_affected"))
        .orderBy("tau"),
    Some(s"""WITH $shinglesSql,
            |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
            |capped AS ${dfCapSql("sh", Seq("shingle"), SHINGLE_DF_CAP)},
            |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
            |          FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            |          GROUP BY 1, 2),
            |pairs AS (SELECT doc_b, i, sa.sz + sb.sz - i AS un
            |          FROM inter JOIN sizes sa ON doc_a = sa.doc_id
            |                     JOIN sizes sb ON doc_b = sb.doc_id),
            |sw AS (SELECT t, doc_b FROM pairs, UNNEST(generate_series(3, 9)) AS g(t)
            |       WHERE i * 10 >= t * un)
            |SELECT CAST(t AS DOUBLE) / 10.0 AS tau,
            |       CAST(count(*) AS BIGINT) AS n_pairs,
            |       CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_affected
            |FROM sw GROUP BY t ORDER BY tau""".stripMargin))

  /** X35 — asymmetric containment dedup: pairs where the smaller doc's
    * shingle set is ≥ 80% contained in the larger's
    * (`inter / min(|A|,|B|)`). Symmetric Jaccard misses subset
    * duplication — a short doc quoted whole inside a long one scores
    * `|A|/|B|` ≈ 0 on Jaccard but 1.0 on containment — and quote/
    * boilerplate inclusion is a dominant near-dup mode in web training
    * corpora. Output carries both scores plus the `is_near_dup` flag, so
    * the delta (contained but NOT Jaccard-caught) is directly visible.
    *
    * Exactness: the 0.8 threshold is cross-multiplied into integers
    * (`5·inter ≥ 4·min(sz)`) — no float-boundary risk; the emitted
    * doubles are single divisions of identical integers on both engines.
    * Runtime: the SAME PlanCache'd inverted-index pair plan as x4/x27 —
    * the containment filter is free once the pair counts exist.
    */
  val x35Containment = QueryDef(
    "x35_dedup_containment",
    "asymmetric shingle containment >= 0.8 (subset/quote inclusion Jaccard misses)",
    (s, d) =>
      ngramPairCounts(s, d, SHINGLE_DF_CAP)
        .filter(col("inter") * 5 >= least(col("sza"), col("szb")) * 4)
        .select(col("doc_a"), col("doc_b"), col("inter").as("n_shared"),
          (col("inter").cast("double") / least(col("sza"), col("szb")))
            .as("containment"),
          (col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
            .as("jaccard"))
        .withColumn("is_near_dup", (col("jaccard") >= 0.5).cast("int"))
        .orderBy("doc_a", "doc_b"),
    Some(s"""WITH $shinglesSql,
            |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
            |capped AS ${dfCapSql("sh", Seq("shingle"), SHINGLE_DF_CAP)},
            |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
            |          FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            |          GROUP BY 1, 2),
            |p AS (SELECT doc_a, doc_b, i, sa.sz AS sza, sb.sz AS szb
            |      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
            |                 JOIN sizes sb ON doc_b = sb.doc_id)
            |SELECT doc_a, doc_b, i AS n_shared,
            |       CAST(i AS DOUBLE) / least(sza, szb) AS containment,
            |       CAST(i AS DOUBLE) / (sza + szb - i) AS jaccard,
            |       CAST(CASE WHEN CAST(i AS DOUBLE) / (sza + szb - i) >= 0.5
            |            THEN 1 ELSE 0 END AS INTEGER) AS is_near_dup
            |FROM p WHERE i * 5 >= least(sza, szb) * 4
            |ORDER BY doc_a, doc_b""".stripMargin))

  /** Fixed segment grid width for X41 (words per segment). Real substring
    * dedup runs 50-token windows; 8 keeps the demo corpus's drop path
    * exercised (175/3,609 segments recur at sf0.01) at the same shape.
    */
  val SEGMENT_WORDS = 8

  /** X41 — segment-level exact dedup: substring-granular deduplication on
    * a fixed word grid (the within-document counterpart of x1's doc-level
    * hash dedup, after the exact-substring dedup of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * re-expressed as a grid approximation Spark can run as joins/aggs
    * instead of a distributed suffix array). Each document is cut into
    * consecutive [[SEGMENT_WORDS]]-word segments; a segment whose text
    * already occurred earlier in the corpus (global first-occurrence
    * order = (doc_id, seg_idx)) is DROPPED; survivors are reassembled in
    * order into the deduplicated text. This removes repeated boilerplate
    * *inside* otherwise-unique documents — the dominant duplication mode
    * doc-level dedup cannot touch.
    *
    * Scale posture: the first-occurrence decision is a map-side-combinable
    * `min` groupBy over the segment's md5 (segment TEXT never shuffles in
    * the decision path — 32-byte fingerprints do); survivors are a
    * semi-join on (fp, first_key); reassembly sorts each doc's OWN
    * bounded segment list (`array_sort`, ≤ words/SEGMENT_WORDS elements)
    * — a per-row expression, not a corpus window. Nothing is O(corpus²).
    * First-occurrence keys encode as `doc_id·100000 + seg_idx` (exact
    * while doc_id < 9.2e13 and docs < 100k·SEGMENT_WORDS words — both
    * hold with huge margin at 100 TB).
    */
  /** x41's fixed-grid cutter: consecutive [[SEGMENT_WORDS]]-word cells at
    * position-determined offsets (position-aligned, NOT alignment-free —
    * contrast [[anchoredSegments]]).
    */
  private[graft] def gridSegments(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, cast(ceil(size(toks) / ${SEGMENT_WORDS}.0) as int) - 1)"))
          .as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        array_join(
          slice(col("toks"), col("seg_idx") * SEGMENT_WORDS + 1, lit(SEGMENT_WORDS)),
          " ").as("seg"))

  val x41SegmentDedup = QueryDef(
    "x41_dedup_segments",
    s"drop corpus-duplicated $SEGMENT_WORDS-word segments, rebuild docs (substring-granular dedup)",
    (s, d) => {
      // segment frame memoized per corpus dir (deterministic segmentation
      // of a fixed corpus — re-tokenizing per run was pure warm cost)
      val segs = graft.PlanCache.checkpointed(s, s"x41-segs/$d")(
        gridSegments(docsWide(s, d)))
      val keyed = segs
        .withColumn("fp", md5(col("seg")))
        .withColumn("k", col("doc_id") * 100000L + col("seg_idx"))
      val first = keyed.groupBy("fp").agg(min(col("k")).as("k"))
      val kept = keyed.join(first, Seq("fp", "k"), "left_semi")
      val rebuilt = kept.groupBy("doc_id")
        .agg(
          count(lit(1)).as("kept_segs"),
          array_join(
            transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
              x => x.getField("seg")), " ").as("dedup_text"))
      docs(s, d)
        .select(col("doc_id"),
          ceil(size(split(col("text"), " ")).cast("double") / SEGMENT_WORDS)
            .cast("long").as("n_segs"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("kept_segs"), lit(0L)).as("kept_segs"),
          coalesce(col("dedup_text"), lit("")).as("dedup_text"),
          (coalesce(col("kept_segs"), lit(0L)).cast("double") / col("n_segs"))
            .as("retention"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            |segs AS (SELECT doc_id, i AS seg_idx,
            |           array_to_string(list_slice(t, i*$SEGMENT_WORDS+1, i*$SEGMENT_WORDS+$SEGMENT_WORDS), ' ') AS seg
            |         FROM w, UNNEST(generate_series(0, CAST(ceil(len(t)/$SEGMENT_WORDS.0) AS INT) - 1)) AS u(i)),
            |keyed AS (SELECT doc_id, seg_idx, seg, md5(seg) AS fp,
            |                 doc_id*100000 + seg_idx AS k FROM segs),
            |firsts AS (SELECT fp, min(k) AS k FROM keyed GROUP BY fp),
            |kept AS (SELECT keyed.* FROM keyed JOIN firsts USING (fp, k)),
            |rebuilt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_segs,
            |                   string_agg(seg, ' ' ORDER BY seg_idx) AS dedup_text
            |            FROM kept GROUP BY doc_id),
            |n AS (SELECT doc_id, CAST(ceil(len(string_split(text, ' '))/$SEGMENT_WORDS.0) AS BIGINT) AS n_segs
            |      FROM documents)
            |SELECT n.doc_id, n.n_segs,
            |       COALESCE(kept_segs, 0) AS kept_segs,
            |       COALESCE(dedup_text, '') AS dedup_text,
            |       CAST(COALESCE(kept_segs, 0) AS DOUBLE) / n.n_segs AS retention
            |FROM n LEFT JOIN rebuilt USING (doc_id)
            |ORDER BY doc_id""".stripMargin))

  /** Content-defined segmentation (the rsync/CDC chunking rule, applied
    * to tokens): token `i` (i ≥ 2) STARTS a new segment iff its 60-bit
    * md5 ≡ 0 (mod 8); segment 1 starts at token 1. Expected segment
    * length is the modulus (≈ [[SEGMENT_WORDS]]), but boundaries are a
    * function of token CONTENT, not position — so a passage duplicated
    * at ANY word offset chunks into identical interior segments, the
    * alignment-freeness x41's fixed grid lacks (Lee et al. use suffix
    * arrays for the same reason). Pure per-row array expressions
    * (filter/transform/slice): map-only, nothing corpus-shaped.
    */
  private[graft] def anchoredSegments(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("bnd", expr(
        "concat(array(1), filter(sequence(2, size(toks)), " +
          "i -> graft_md5u60(element_at(toks, i)) % 8 = 0))"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(bnd)), j -> array_join(slice(toks, " +
          "element_at(bnd, j), coalesce(try_element_at(bnd, j + 1), " +
          "size(toks) + 1) - element_at(bnd, j)), ' '))")))
      .select(col("doc_id"), col("pos").as("seg_idx"), col("col").as("seg"))

  /** Shared first-occurrence drop + reassembly over a (doc_id, seg_idx,
    * seg) frame — x41's tail, factored so the fixed-grid and the
    * content-defined segmenters report identically. Decision path
    * shuffles 32-byte fingerprints (min-groupBy + semi-join); reassembly
    * sorts each doc's OWN bounded list.
    */
  private[graft] def segmentDedupReport(segs0: DataFrame,
      cacheKey: Option[String] = None): DataFrame = {
    // the segment frame is read twice below (fingerprint path + census),
    // so an un-memoized segmenter re-tokenizes the corpus twice per run;
    // callers with a stable corpus dir pass a key (x41/x52 — measured
    // ~1.3 s of warm cost each), spec callers with planted frames don't
    val segs = cacheKey
      .map(k => graft.PlanCache.checkpointed(segs0.sparkSession, k)(segs0))
      .getOrElse(segs0)
    val keyed = segs
      .withColumn("fp", md5(col("seg")))
      .withColumn("k", col("doc_id") * 100000L + col("seg_idx"))
    val first = keyed.groupBy("fp").agg(min(col("k")).as("k"))
    val kept = keyed.join(first, Seq("fp", "k"), "left_semi")
    val rebuilt = kept.groupBy("doc_id")
      .agg(
        count(lit(1)).as("kept_segs"),
        array_join(
          transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            x => x.getField("seg")), " ").as("dedup_text"))
    segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("kept_segs"), lit(0L)).as("kept_segs"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"),
        (coalesce(col("kept_segs"), lit(0L)).cast("double") / col("n_segs"))
          .as("retention"))
      .orderBy("doc_id")
  }

  /** X52 — alignment-free segment dedup: x41 on content-defined anchors
    * ([[anchoredSegments]]) instead of a fixed grid. Closes x41's known
    * blindspot — a boilerplate passage duplicated at a word offset that
    * straddles grid cells is invisible to the grid but chunks into the
    * SAME segments here, so its interior drops corpus-wide. Same
    * first-occurrence semantics, same joins/aggs shape, same 100 TB
    * posture as x41 ([[segmentDedupReport]]).
    */
  val x52SegmentDedupAnchored = QueryDef(
    "x52_dedup_segments_anchored",
    "drop corpus-duplicated content-defined segments (alignment-free substring dedup)",
    (s, d) => segmentDedupReport(anchoredSegments(docsWide(s, d)),
      cacheKey = Some(s"x52-segs/$d")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |b AS (SELECT doc_id, t,
           |        list_prepend(1, list_filter(generate_series(2, len(t)),
           |          i -> CAST(md5_number_lower(t[i]) >> 4 AS BIGINT) % 8 = 0)) AS bnd
           |      FROM w),
           |segs AS (SELECT doc_id, j - 1 AS seg_idx,
           |           array_to_string(list_slice(t, bnd[j],
           |             coalesce(bnd[j + 1], len(t) + 1) - 1), ' ') AS seg
           |         FROM b, UNNEST(generate_series(1, len(bnd))) AS u(j)),
           |keyed AS (SELECT doc_id, seg_idx, seg, md5(seg) AS fp,
           |                 doc_id * 100000 + seg_idx AS k FROM segs),
           |firsts AS (SELECT fp, min(k) AS k FROM keyed GROUP BY fp),
           |kept AS (SELECT keyed.* FROM keyed JOIN firsts USING (fp, k)),
           |rebuilt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_segs,
           |                   string_agg(seg, ' ' ORDER BY seg_idx) AS dedup_text
           |            FROM kept GROUP BY doc_id),
           |census AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs
           |           FROM segs GROUP BY doc_id)
           |SELECT census.doc_id, n_segs,
           |       COALESCE(kept_segs, 0) AS kept_segs,
           |       COALESCE(dedup_text, '') AS dedup_text,
           |       CAST(COALESCE(kept_segs, 0) AS DOUBLE) / n_segs AS retention
           |FROM census LEFT JOIN rebuilt USING (doc_id)
           |ORDER BY doc_id""".stripMargin))

  /** X42 — cross-source overlap matrix: which sources mirror which. The
    * corpus-curation triage view over the near-dup pair set — mirrored/
    * scraped-twice sources show up as off-diagonal cells, templated
    * sources as heavy diagonals — that decides which SOURCE to drop
    * before any per-document dedup runs. Cells aggregate the SAME
    * cached x4/x27/x35 inverted-index pair frame (marginal cost ≈ one
    * tiny join + agg); overlap strength is Σinter/Σunion in EXACT
    * integers with one final division (a mean of per-pair Jaccard
    * doubles would depend on partial-agg order).
    */
  val x42SourceOverlap = QueryDef(
    "x42_source_overlap",
    "source x source near-dup matrix: pair counts + weighted Jaccard (>= 0.5 pairs)",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"))
      ngramPairCounts(s, d, SHINGLE_DF_CAP)
        .filter(col("inter") * 2 >= col("sza") + col("szb") - col("inter"))
        // no broadcast hint: the doc→source map is corpus-sized at scale
        // while the ≥τ pair set is small — AQE broadcasts the PAIR side
        // at runtime when it is, and shuffles otherwise
        .join(src.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(src.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(
          least(col("sa.source"), col("sb.source")).as("source_a"),
          greatest(col("sa.source"), col("sb.source")).as("source_b"),
          col("inter"),
          (col("sza") + col("szb") - col("inter")).as("un"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("inter")).as("sum_inter"),
          sum(col("un")).as("sum_union"))
        .select(col("source_a"), col("source_b"), col("n_pairs"),
          col("sum_inter"), col("sum_union"),
          (col("sum_inter").cast("double") / col("sum_union"))
            .as("weighted_jaccard"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""WITH $shinglesSql,
            |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
            |capped AS ${dfCapSql("sh", Seq("shingle"), SHINGLE_DF_CAP)},
            |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
            |          FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            |          GROUP BY 1, 2),
            |p AS (SELECT doc_a, doc_b, i, sa.sz + sb.sz - i AS un
            |      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
            |                 JOIN sizes sb ON doc_b = sb.doc_id
            |      WHERE i * 2 >= sa.sz + sb.sz - i),
            |lab AS (SELECT least(da.source, db.source) AS source_a,
            |               greatest(da.source, db.source) AS source_b, i, un
            |        FROM p JOIN documents da ON doc_a = da.doc_id
            |               JOIN documents db ON doc_b = db.doc_id)
            |SELECT source_a, source_b,
            |       CAST(count(*) AS BIGINT) AS n_pairs,
            |       CAST(sum(i) AS BIGINT) AS sum_inter,
            |       CAST(sum(un) AS BIGINT) AS sum_union,
            |       CAST(sum(i) AS DOUBLE) / sum(un) AS weighted_jaccard
            |FROM lab GROUP BY 1, 2
            |ORDER BY source_a, source_b""".stripMargin))

  /** X47 — blocked edit-distance near-dup: the character-level family
    * member the signature detectors miss. MinHash/Jaccard (x2/x4) see
    * token SETS and SimHash (x3) token frequencies — two docs differing
    * by a few character edits inside many tokens (OCR noise, template
    * fill-ins, encoding mojibake) can diverge in every shingle while
    * staying a few edits apart. Levenshtein is the standard measure for
    * that regime, but it is O(len²) per PAIR and unindexable directly —
    * so candidate generation is blocked exactly like the other
    * detectors: a (first-token, length-band) blocking key, df-capped
    * (> [[BAND_DF_CAP]] docs = templated cluster, exact dedup's job),
    * pairs only within a block, and the quadratic distance computed on
    * fixed 80-char heads so per-pair cost is a constant, not doc-length².
    *
    * Portability: Spark's `levenshtein` and DuckDB's `levenshtein` are
    * both the classic Wagner–Fischer unit-cost DP — exact integers, no
    * FP anywhere; the corpus is ASCII so code-unit vs code-point
    * semantics cannot diverge. Similarity is exact integer basis points
    * of the longer head.
    *
    * Scale posture: one scan builds the blocking frame; the pair join is
    * an equi-join on the block key with pair volume ≤ Σ block² bounded
    * by the df-cap; no all-pairs, no window over the corpus.
    */
  val x47DedupEdit = QueryDef(
    "x47_dedup_edit",
    "blocked levenshtein near-dup on 80-char heads ((first-token, length-band) blocks)",
    (s, d) => {
      val blocked = graft.PlanCache.checkpointed(s, s"x47-blocked/$d") {
        val dd = docs(s, d).select(
          col("doc_id"),
          element_at(split(col("text"), " "), 1).as("b1"),
          expr("size(split(text, ' ')) div 8").cast("long").as("b2"),
          substring(col("text"), 1, 80).as("head"))
        dfCap(dd, Seq("b1", "b2"), BAND_DF_CAP)
      }
      val a = blocked.select(col("doc_id").as("doc_a"), col("b1"),
        col("b2"), col("head").as("head_a"))
      val b = blocked.select(col("doc_id").as("doc_b"), col("b1"),
        col("b2"), col("head").as("head_b"))
      a.join(b, Seq("b1", "b2"))
        .filter(col("doc_a") < col("doc_b"))
        // the DP below is the expensive part (O(80²) per pair) and the
        // block shuffle that feeds it is tiny — AQE coalesces it to ~1
        // partition and the distance computation runs serially. The
        // explicit-count repartition is exempt from AQE coalescing, so
        // the pair stream spreads across the cluster first (measured at
        // sf0.1: 4.8 s → ~1 s on local[32]).
        .repartition(32, col("doc_a"), col("doc_b"))
        // banded threshold DP: O(len·τ) per pair instead of O(len²), and
        // pairs past τ return -1 instead of finishing the matrix — the
        // exact distance is still computed for every pair the query keeps
        .withColumn("edit_dist",
          levenshtein(col("head_a"), col("head_b"), 20).cast("long"))
        .filter(col("edit_dist") >= 0 && col("edit_dist") <= 20)
        .select(col("doc_a"), col("doc_b"), col("edit_dist"),
          expr("10000 - (edit_dist * 10000) div greatest(length(head_a), length(head_b), 1)")
            .cast("long").as("sim_bp"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH d AS (
           |  SELECT doc_id,
           |         string_split(text, ' ')[1] AS b1,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) // 8 AS b2,
           |         substr(text, 1, 80) AS head
           |  FROM documents),
           |capped AS ${dfCapSql("d", Seq("b1", "b2"), BAND_DF_CAP)},
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |             CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist,
           |             a.head AS ha, b.head AS hb
           |      FROM capped a JOIN capped b
           |        ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, edit_dist,
           |       CAST(10000 - (edit_dist * 10000) //
           |            greatest(len(ha), len(hb), 1) AS BIGINT) AS sim_bp
           |FROM p WHERE edit_dist <= 20 ORDER BY doc_a, doc_b""".stripMargin))

  /** X48 — detector-recall calibration: plant a LADDER of known near-dup
    * mutations into the corpus IN-PLAN (every 5th doc gets a copy with
    * every 25th / 13th / 7th token dropped — descending true Jaccard)
    * and measure what fraction of the planted (original, mutant) pairs
    * the x2 MinHash+LSH detector actually surfaces. This is the number a
    * dedup rollout decision needs: x27 sweeps the THRESHOLD on found
    * pairs, x48 measures what the bucketing NEVER FINDS (LSH recall is
    * probabilistic in the signature: with 4 bands of 4, a pair at
    * Jaccard J collides with probability 1−(1−J⁴)⁴, so the ladder traces
    * the detector's sensitivity curve on this corpus's own text).
    *
    * Everything is deterministic — the mutation is a positional token
    * filter (identical in both engines), the detector is the md5-based
    * x2 chain — so recall itself is oracle-replayable bit-for-bit, not a
    * sampled estimate.
    *
    * Scale posture: the augmented frame is ≤ 1.6× the corpus (3 mutant
    * families × 20% of docs), the detector chain is the production x2
    * plan (banded, df-capped), and the truth join is an equi-join on the
    * planted pair keys — O(planted), never O(pairs²).
    */
  val x48DedupRecall = QueryDef(
    "x48_dedup_recall",
    "MinHash LSH recall against a planted mutation ladder (detector calibration)",
    (s, d) => {
      val levels = Seq((1L, 25), (2L, 13), (3L, 7))
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val aug = levels.map { case (lvl, p) =>
        base.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + lit(lvl * 1000000L)).as("doc_id"),
            concat_ws(" ",
              expr(s"filter(split(text, ' '), (t, i) -> (i + 1) % $p != 0)"))
              .as("text"))
      }.foldLeft(base)(_ unionByName _)
      val bands = dfCap(
        minHashBandsOf(s, aug.repartition(col("doc_id")), s"x48_sig/$d"),
        Seq("band", "sig"), BAND_DF_CAP)
      val pairs = pairsFromBands(bands)
      val planted = levels.map { case (lvl, p) =>
        base.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id").as("doc_a"),
            (col("doc_id") + lit(lvl * 1000000L)).as("doc_b"),
            lit(lvl).as("level"), lit(p.toLong).as("drop_every"))
      }.reduce(_ unionByName _)
      planted.join(pairs, Seq("doc_a", "doc_b"), "left")
        .groupBy("level", "drop_every")
        .agg(
          count(lit(1)).as("n_planted"),
          sum(when(col("est_jaccard").isNotNull, 1L).otherwise(0L)).as("n_found"),
          // est is an exact multiple of 1/16 → ×16 sums as exact longs
          sum(when(col("est_jaccard").isNotNull,
            (col("est_jaccard") * K).cast("long")).otherwise(0L))
            .as("sum_sixteenths"))
        .withColumn("recall_bp", expr("n_found * 10000 DIV n_planted"))
        .orderBy("level")
    },
    Some {
      val mins = (0 until K).map(k =>
        s"min((h1 + $k * h2) % $MOD_P) AS m$k")
        .mkString(",\n         ")
      val bandSigs = (0 until BANDS).map { b =>
        val parts = (0 until 4).map(j => s"CAST(m${4 * b + j} AS VARCHAR)")
          .mkString(" || ':' || ")
        s"SELECT doc_id, $b AS band, md5($parts) AS sig FROM mh"
      }.mkString("\n       UNION ALL ")
      val matchSum = (0 until K)
        .map(k => s"(CASE WHEN x.m$k = y.m$k THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val mutant = (lvl: Int, p: Int) =>
        s"""SELECT doc_id + ${lvl}000000 AS doc_id,
           |  array_to_string(list_filter(string_split(text, ' '),
           |                              (t, i) -> i % $p != 0), ' ') AS text
           |FROM documents WHERE doc_id % 5 = 0""".stripMargin
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL ${mutant(1, 25)}
         |  UNION ALL ${mutant(2, 13)}
         |  UNION ALL ${mutant(3, 7)}),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug
         |          WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
         |hashed AS (SELECT doc_id,
         |             CAST((md5_number_lower(shingle) >> 4) >> 30 AS BIGINT) AS h1,
         |             CAST((md5_number_lower(shingle) >> 4) & ${(1L << 30) - 1} AS BIGINT) AS h2
         |           FROM sh),
         |mh AS (SELECT doc_id,
         |         $mins
         |       FROM hashed GROUP BY doc_id),
         |bands AS ($bandSigs),
         |capped AS ${dfCapSql("bands", Seq("band", "sig"), BAND_DF_CAP)},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM capped a JOIN capped b
         |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |pairs AS (SELECT doc_a, doc_b, CAST($matchSum AS DOUBLE) / $K AS est_jaccard
         |          FROM cand JOIN mh x ON doc_a = x.doc_id JOIN mh y ON doc_b = y.doc_id),
         |planted AS (
         |  SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
         |         CAST(1 AS BIGINT) AS level, CAST(25 AS BIGINT) AS drop_every
         |  FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, doc_id + 2000000, 2, 13 FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, doc_id + 3000000, 3, 7 FROM documents WHERE doc_id % 5 = 0)
         |SELECT level, drop_every,
         |       CAST(count(*) AS BIGINT) AS n_planted,
         |       CAST(count(p.est_jaccard) AS BIGINT) AS n_found,
         |       CAST(COALESCE(sum(CAST(p.est_jaccard * $K AS BIGINT)), 0) AS BIGINT)
         |         AS sum_sixteenths,
         |       (CAST(count(p.est_jaccard) AS BIGINT) * 10000) // count(*) AS recall_bp
         |FROM planted t LEFT JOIN pairs p USING (doc_a, doc_b)
         |GROUP BY level, drop_every ORDER BY level""".stripMargin
    })

  val defs: Seq[QueryDef] = Seq(x1DedupExact, x2MinHashLsh, x3SimHash,
    x4NgramJaccard, x27DedupSweep, x35Containment, x41SegmentDedup,
    x42SourceOverlap, x47DedupEdit, x48DedupRecall,
    x52SegmentDedupAnchored)
}
