package graft.text

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All per-document work is pure column expressions (codegen'd, no UDFs),
  * so each operator is one scan + one aggregation — embarrassingly parallel
  * at 100 TB. Ratio aggregates go through exact decimals (see
  * [[graft.Parity]] rationale) so results don't depend on partial-agg
  * ordering.
  */
object TextQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // Marker vocabularies for the n-gram/stopword language heuristic. On a
  // real corpus these are per-language frequency dictionaries; the mechanism
  // (token-set hit counts + deterministic argmax) is what the operator
  // defines.
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("hash", "customer", "join", "row"),
    "en" -> Seq("the", "a", "of", "order", "window"),
    "es" -> Seq("slow", "agg", "merge", "vector"),
    "fr" -> Seq("scan", "data", "query", "batch"),
    "zh" -> Seq("join", "small", "column", "value"))

  /** T20 — language identification (token-profile heuristic) vs the
    * labeled `lang` column: confusion-matrix counts.
    */
  val t20LangId = QueryDef(
    "t20_langid",
    "heuristic language-ID vs labeled lang — confusion matrix counts",
    (s, d) => {
      val toks = split(col("text"), " ")
      val scores = profiles.map { case (l, ws) =>
        size(filter(toks, t => t.isInCollection(ws))).as(s"s_$l")
      }
      val langs = profiles.map(_._1)
      // deterministic argmax: first lang (alphabetical) wins ties
      val predicted = langs.zipWithIndex.init.foldRight(
        lit(langs.last): Column) { case ((l, i), elsePart) =>
        val rest = langs.drop(i + 1)
        when(rest.map(r => col(s"s_$l") >= col(s"s_$r")).reduce(_ && _), l)
          .otherwise(elsePart)
      }
      docs(s, d)
        .select(col("lang") +: scores: _*)
        .withColumn("predicted", predicted)
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "predicted")
    },
    Some {
      val scoreExprs = profiles.map { case (l, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), t -> t IN ($inList))) AS s_$l"
      }.mkString(",\n       ")
      val langs = profiles.map(_._1)
      val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
        val conds = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }.mkString(" ")
      s"""WITH scored AS (SELECT lang,
         |       $scoreExprs
         |     FROM documents)
         |SELECT lang,
         |       CASE $caseChain ELSE '${langs.last}' END AS predicted,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
    })

  /** T21's per-document quality score as a 1e-6 fixed-point long column
    * over `text` — factored so the corpus-curation pipeline (x25) filters
    * on the identical definition. Floor is the only engine-portable snap
    * (decimal casts round HALF_UP in Spark but not DuckDB).
    */
  private[graft] def qualityScore6: Column = {
    val stop = Seq("the", "a", "of", "and")
    val toks = split(col("text"), " ")
    val nToks = size(toks).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    val nStop = size(filter(toks, t => t.isInCollection(stop))).cast("double")
    val nLetters = length(regexp_replace(col("text"), " ", "")).cast("double")
    floor((nDistinct / nToks * 0.4 +
      (lit(1.0) - nStop / nToks) * 0.3 +
      least(nLetters / nToks / 10.0, lit(1.0)) * 0.3) * lit(1e6)).cast("long")
  }

  /** SQL mirror of [[qualityScore6]] (expects `text` in scope). */
  private[graft] val qualityScore6Sql: String =
    """CAST(floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) * 0.4 +
      |     (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE) / len(string_split(text, ' '))) * 0.3 +
      |     least(CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) / 10.0, 1.0) * 0.3) * 1000000.0) AS BIGINT)"""
      .stripMargin.replaceAll("\n", "\n      ")

  /** T21 — document quality scoring: lexical-diversity / stopword-ratio /
    * length components folded into one score, bucketed. Per-doc scores are
    * snapped to 1e-6 fixed point (floor) before aggregation so the bucket
    * sums are exact integer math (see Parity; floor is the only
    * engine-portable snap — see SimilarityQueries.qfix).
    */
  /** The t21 per-doc heuristic score — (doc_id, score6), 1e-6 fixed
    * point — factored out so x78 can correlate it against the t28
    * learned score.
    */
  private[graft] def heuristicScores(s: SparkSession, d: String) = {
    val stop = Seq("the", "a", "of", "and")
    val toks = split(col("text"), " ")
    docs(s, d)
      .select(col("doc_id"), col("source"),
        size(toks).cast("double").as("n_toks"),
        size(array_distinct(toks)).cast("double").as("n_distinct"),
        size(filter(toks, t => t.isInCollection(stop))).cast("double").as("n_stop"),
        length(regexp_replace(col("text"), " ", "")).cast("double").as("n_letters"))
      // snap to 1e-6 fixed point with floor (portable: decimal casts
      // round HALF_UP in Spark but not in DuckDB, and dyadic-rational
      // scores DO land exactly on midpoints at corpus scale)
      .select(col("doc_id"),
        floor((col("n_distinct") / col("n_toks") * 0.4 +
          (lit(1.0) - col("n_stop") / col("n_toks")) * 0.3 +
          least(col("n_letters") / col("n_toks") / 10.0, lit(1.0)) * 0.3)
          * lit(1e6)).cast("long").as("score6"))
  }

  val t21Quality = QueryDef(
    "t21_quality",
    "quality score (diversity + stopword + length) bucketed low/medium/high",
    (s, d) => {
      heuristicScores(s, d)
        .select(col("doc_id"), col("score6"),
          when(col("score6") >= 550000L, "high")
            .when(col("score6") >= 450000L, "medium")
            .otherwise("low").as("bucket"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("score6")).cast("double") / 1e6).as("sum_score"),
          (min(col("score6")).cast("double") / 1e6).as("min_score"),
          (max(col("score6")).cast("double") / 1e6).as("max_score"))
        .orderBy("bucket")
    },
    Some("""WITH f AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks,
                     CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct,
                     CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE) AS n_stop,
                     CAST(len(replace(text, ' ', '')) AS DOUBLE) AS n_letters
              FROM documents),
            scored AS (
              SELECT doc_id,
                     CAST(floor((n_distinct / n_toks * 0.4 + (1.0 - n_stop / n_toks) * 0.3 +
                          least(n_letters / n_toks / 10.0, 1.0) * 0.3) * 1000000.0) AS BIGINT) AS score6
              FROM f)
            SELECT CASE WHEN score6 >= 550000 THEN 'high'
                        WHEN score6 >= 450000 THEN 'medium'
                        ELSE 'low' END AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(score6) AS DOUBLE) / 1000000.0 AS sum_score,
                   CAST(min(score6) AS DOUBLE) / 1000000.0 AS min_score,
                   CAST(max(score6) AS DOUBLE) / 1000000.0 AS max_score
            FROM scored GROUP BY 1 ORDER BY bucket"""))

  /** T22 — token counting: whitespace tokens vs BPE-ish regex tokens
    * (letter runs / digit runs / single symbols) per source.
    */
  val t22TokenCount = QueryDef(
    "t22_token_count",
    "whitespace vs regex (BPE-ish) token counts per source",
    (s, d) =>
      docs(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("ws_toks"),
          expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
            .cast("long").as("re_toks"),
          length(col("text")).cast("long").as("n_chars"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ws_toks")).as("sum_ws_toks"),
          sum(col("re_toks")).as("sum_re_toks"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("source"),
    Some("""SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_toks,
                   CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS sum_re_toks,
                   CAST(sum(len(text)) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source ORDER BY source"""))

  /** T23 — document fingerprinting: md5 over whitespace-normalized
    * lowercase text (the content-defined identity used by X1 dedup),
    * emitted per-doc for a bounded id range.
    */
  val t23Fingerprint = QueryDef(
    "t23_fingerprint",
    "normalized-text md5 fingerprint per document (doc_id < 100)",
    (s, d) =>
      docs(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          md5(trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
            .as("fingerprint"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint,
                   CAST(len(text) AS BIGINT) AS n_chars
            FROM documents WHERE doc_id < 100 ORDER BY doc_id"""))

  /** X26 — token-window chunking (RAG / context-window prep): each
    * document splits into 32-token chunks on a 24-token stride (8-token
    * overlap between neighbors), emitted with token offsets and a content
    * fingerprint. Chunk counts and bounds are pure integer arithmetic —
    * `nChunks = 1 + ceil((n - C) / S)` for n > C — so the chunking is
    * reproducible across engines and cluster layouts (no float window
    * math). Scale posture: one scan + a per-row `sequence`/`explode` (the
    * fan-out is ≤ n/S per doc, data-proportional), no shuffle at all
    * except the bounded-output sort; at 100 TB this is the map-only job
    * it should be. Output gated to doc_id < 50 to keep the verify dump
    * bounded; the plan is identical without the gate.
    */
  val x26Chunking = QueryDef(
    "x26_chunking",
    "32-token / stride-24 overlapping chunks with offsets + fingerprints",
    (s, d) => {
      val C = 32
      val S = 24
      docs(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("nc",
          when(col("n") <= C, lit(1L))
            .otherwise(expr(s"1 + (n - $C + ${S - 1}) div $S")))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(expr("sequence(0L, nc - 1)")).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * S).as("start_tok"),
          least(lit(C.toLong), col("n") - col("chunk_id") * S).as("n_toks"),
          md5(array_join(
            expr(s"slice(toks, chunk_id * $S + 1, least($C, n - chunk_id * $S))"),
            " ")).as("fp"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           |  FROM documents WHERE doc_id < 50),
           |c AS (
           |  SELECT doc_id, toks, n,
           |         CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 23) // 24 END AS nc
           |  FROM t)
           |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           |       CAST(i * 24 AS BIGINT) AS start_tok,
           |       CAST(least(32, n - i * 24) AS BIGINT) AS n_toks,
           |       md5(array_to_string(
           |         list_slice(toks, i * 24 + 1, i * 24 + least(32, n - i * 24)),
           |         ' ')) AS fp
           |FROM c, UNNEST(generate_series(0, nc - 1)) AS u(i)
           |ORDER BY doc_id, chunk_id""".stripMargin))

  /** T27 — rule-card quality audit (Gopher/C4-style hard filters): each
    * document is checked against five independent rules — too short,
    * too long, repetitive (distinct/total token ratio < 0.5), no
    * stopword, mean word length outside [3, 7] — and the per-source
    * violation counts plus the fully-clean count are reported. Distinct
    * from t21 (a blended score): this is the per-RULE accounting a
    * curation pipeline uses to tune individual filters. Every rule is an
    * integer comparison (ratio thresholds cross-multiplied: `distinct/n
    * < 0.5` ⇔ `2·distinct < n`), so the audit is exact and
    * engine-portable with no float snapping at all. One scan + one
    * map-side-combinable aggregation keyed by source.
    */
  val t27QualityRules = QueryDef(
    "t27_quality_rules",
    "per-rule quality-filter violation counts per source (Gopher-style rule card)",
    (s, d) => {
      val stop = Seq("the", "a", "of", "and")
      val toks = split(col("text"), " ")
      docs(s, d)
        .select(col("source"),
          size(toks).cast("long").as("n_toks"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          size(filter(toks, t => t.isInCollection(stop))).cast("long").as("n_stop"),
          length(regexp_replace(col("text"), " ", "")).cast("long").as("n_letters"))
        .select(col("source"),
          (col("n_toks") < 20).cast("long").as("v_short"),
          (col("n_toks") > 80).cast("long").as("v_long"),
          (col("n_distinct") * 2 < col("n_toks")).cast("long").as("v_rep"),
          (col("n_stop") === 0).cast("long").as("v_nostop"),
          (col("n_letters") < col("n_toks") * 3 ||
            col("n_letters") > col("n_toks") * 7).cast("long").as("v_mwl"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("v_short").as("v_short"),
          sum("v_long").as("v_long"),
          sum("v_rep").as("v_rep"),
          sum("v_nostop").as("v_nostop"),
          sum("v_mwl").as("v_mwl"),
          sum(when(col("v_short") + col("v_long") + col("v_rep") +
            col("v_nostop") + col("v_mwl") === 0, 1L).otherwise(0L))
            .as("n_clean"))
        .orderBy("source")
    },
    Some("""WITH f AS (
           |  SELECT source,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
           |         CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
           |         CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_letters
           |  FROM documents),
           |v AS (
           |  SELECT source,
           |         CAST(n_toks < 20 AS BIGINT) AS v_short,
           |         CAST(n_toks > 80 AS BIGINT) AS v_long,
           |         CAST(n_distinct * 2 < n_toks AS BIGINT) AS v_rep,
           |         CAST(n_stop = 0 AS BIGINT) AS v_nostop,
           |         CAST(n_letters < n_toks * 3 OR n_letters > n_toks * 7 AS BIGINT) AS v_mwl
           |  FROM f)
           |SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(v_short) AS BIGINT) AS v_short,
           |       CAST(sum(v_long) AS BIGINT) AS v_long,
           |       CAST(sum(v_rep) AS BIGINT) AS v_rep,
           |       CAST(sum(v_nostop) AS BIGINT) AS v_nostop,
           |       CAST(sum(v_mwl) AS BIGINT) AS v_mwl,
           |       CAST(sum(CASE WHEN v_short + v_long + v_rep + v_nostop + v_mwl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
           |FROM v GROUP BY source ORDER BY source""".stripMargin))

  /** T24 — within-document repetition: total vs distinct 3-gram counts per
    * doc (ratio ≥ 1 — how much the doc repeats itself), rolled up per
    * source. The standard boilerplate/low-quality signal next to T21's
    * lexical score. Per-doc ratios snap to 1e-8 fixed point (floor) so the
    * source-level average is exact integer math (Parity rationale); the
    * average divides an exact long sum, never a partial-ordered double sum.
    */
  val t24Repetition = QueryDef(
    "t24_repetition",
    "within-doc 3-gram repetition ratio stats per source",
    (s, d) => {
      // tokenization contract shared with the dedup/contamination ops
      val sh = graft.dedup.DedupQueries
        .shingleRows(docs(s, d), Seq("doc_id", "source"))
      sh.groupBy("doc_id", "source")
        .agg(count(lit(1)).as("total"), countDistinct(col("shingle")).as("uniq"))
        .select(col("source"),
          floor(col("total").cast("double") / col("uniq") * lit(1e8))
            .cast("long").as("rep8"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          round(sum(col("rep8")).cast("double") / count(lit(1)) / 1e8, 4)
            .as("avg_repetition"),
          round(max(col("rep8")).cast("double") / 1e8, 4).as("max_repetition"),
          sum(when(col("rep8") >= 150000000L, 1L).otherwise(0L)).as("n_repetitive"))
        .orderBy("source")
    },
    Some(s"""WITH ${graft.dedup.DedupQueries.shingleRowsSql(Seq("doc_id", "source"))},
           |per_doc AS (SELECT doc_id, source,
           |              CAST(floor(CAST(count(*) AS DOUBLE) / count(DISTINCT shingle) * 100000000.0) AS BIGINT) AS rep8
           |            FROM sh GROUP BY doc_id, source)
           |SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       round(CAST(sum(rep8) AS DOUBLE) / count(*) / 100000000.0, 4) AS avg_repetition,
           |       round(CAST(max(rep8) AS DOUBLE) / 100000000.0, 4) AS max_repetition,
           |       CAST(sum(CASE WHEN rep8 >= 150000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
           |FROM per_doc GROUP BY source ORDER BY source""".stripMargin))

  /** T25 — corpus boilerplate mining: the 3 most frequent 3-grams per
    * source (occurrence-counted, deterministic ties on the shingle text).
    * At scale the count groupBy is the only full shuffle; the top-3 is a
    * bounded [[graft.functions.TopKTerms]] aggregate (map tasks reduce to
    * ≤ 3 rows per source pre-shuffle) — NOT a per-source window, which
    * would funnel each source's entire shingle vocabulary (corpus-growing
    * at 100 TB) through one task.
    */
  val t25TopShingles = QueryDef(
    "t25_top_shingles",
    "top-3 most frequent 3-grams per source with occurrence counts",
    (s, d) => {
      import s.implicits._
      import graft.functions.{KeyedTermRow, TopKTerms}
      // tokenization contract shared with the dedup/contamination ops
      val sh = graft.dedup.DedupQueries.shingleRows(docs(s, d), Seq("source"))
      val counts = sh.groupBy("source", "shingle").agg(count(lit(1)).as("n"))
      counts
        .select(col("source").as("g"), col("n").as("rank"),
          col("shingle").as("term"), col("n").as("v1"), lit(0L).as("v2"))
        .as[KeyedTermRow]
        .groupByKey(_.g)
        .agg(new TopKTerms(3).toColumn.name("top"))
        .flatMap { case (g, top) =>
          top.rows.zipWithIndex.map { case (r, i) => (g, i + 1, r.term, r.v1) }
        }
        .toDF("source", "rk", "shingle", "n")
        .orderBy("source", "rk")
    },
    Some(s"""WITH ${graft.dedup.DedupQueries.shingleRowsSql(Seq("source"))},
           |counts AS (SELECT source, shingle, CAST(count(*) AS BIGINT) AS n
           |           FROM sh GROUP BY source, shingle),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY n DESC, shingle) AS rk
           |           FROM counts)
           |SELECT source, CAST(rk AS INTEGER) AS rk, shingle, n
           |FROM ranked WHERE rk <= 3 ORDER BY source, rk""".stripMargin))

  /** T26 — PII detection + redaction. The corpus is synthetic word-salad
    * with no real PII, so the query plants it deterministically (email /
    * phone / IPv4 derived from doc_id — a doc gets each kind only on its
    * id's residue class), then detects and masks with patterns valid in
    * BOTH regex dialects (Java and RE2) — the oracle replays the planting
    * AND the redaction, so a dialect divergence or masking bug flips the
    * fingerprint. Pure per-row column expressions: embarrassingly parallel
    * at 100 TB, and the real-corpus version is this same plan minus the
    * planting step.
    */
  val t26PiiRedaction = QueryDef(
    "t26_pii_redaction",
    "plant-and-redact PII audit: email/phone/IP counts + redacted fingerprint",
    (s, d) => {
      val reEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val rePhone = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
      val reIp = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      val payload = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" user"), col("doc_id"), lit("@mail-"), col("source"),
            lit(".org"))).otherwise(""),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" call +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(""),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" from 10."), pmod(col("doc_id"), lit(256)), lit(".0.1")))
          .otherwise(""))
      docs(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), payload.as("payload"))
        .select(col("doc_id"),
          regexp_count(col("payload"), lit(reEmail)).cast("long").as("n_emails"),
          regexp_count(col("payload"), lit(rePhone)).cast("long").as("n_phones"),
          regexp_count(col("payload"), lit(reIp)).cast("long").as("n_ips"),
          md5(regexp_replace(
            regexp_replace(
              regexp_replace(col("payload"), reEmail, "<EMAIL>"),
              rePhone, "<PHONE>"),
            reIp, "<IP>")).as("redacted_fp"))
        .orderBy("doc_id")
    },
    Some("""WITH planted AS (
           |  SELECT doc_id,
           |         text ||
           |         CASE WHEN doc_id % 3 = 0
           |              THEN ' user' || doc_id || '@mail-' || source || '.org'
           |              ELSE '' END ||
           |         CASE WHEN doc_id % 4 = 0
           |              THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |              ELSE '' END ||
           |         CASE WHEN doc_id % 5 = 0
           |              THEN ' from 10.' || (doc_id % 256) || '.0.1'
           |              ELSE '' END AS payload
           |  FROM documents WHERE doc_id < 200)
           |SELECT doc_id,
           |       CAST(len(regexp_extract_all(payload, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
           |       CAST(len(regexp_extract_all(payload, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
           |       CAST(len(regexp_extract_all(payload, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
           |       md5(regexp_replace(regexp_replace(regexp_replace(payload,
           |             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           |             '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
           |             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS redacted_fp
           |FROM planted ORDER BY doc_id""".stripMargin))

  /** T29 — HTML boilerplate stripping (plant-and-strip, the t26 audit
    * shape): the corpus has no markup, so the query wraps every document
    * in deterministic page chrome — head/title/style, a nav link bar, an
    * entity (`&amp;`) injected INTO the content paragraph, a related-links
    * aside, and a copyright footer — then runs [[HtmlStrip.mainContent]]
    * and proves per row that exactly the content paragraph survives
    * (`recovered` = the stripped page equals `text || ' & fin'`).
    *
    * Identical synthesis + strip semantics on both engines; all block
    * decisions are integer comparisons ([[HtmlStrip]]), so the md5
    * fingerprint is gate-exact. One scan, zero shuffles (per-row
    * expressions + final sort): the 100 TB posture of a markup front
    * door is map-only by construction.
    */
  val t29HtmlStrip: QueryDef = {
    // DuckDB-side mirror of HtmlStrip.cleanBlock / anchorLen / keepBlock,
    // generated per call site because list lambdas cannot bind shared
    // subexpressions
    def sqlClean(x: String): String =
      "trim(regexp_replace(replace(replace(replace(replace(replace(replace(" +
        s"regexp_replace($x, '<[^>]*>', ' ', 'g'), " +
        "'&quot;', '\"'), '&#39;', ''''), '&lt;', '<'), '&gt;', '>'), " +
        "'&nbsp;', ' '), '&amp;', '&'), ' +', ' ', 'g'))"
    def sqlAnchorLen(x: String): String =
      "coalesce(list_sum(list_transform(regexp_extract_all(" +
        s"$x, '<a[^>]*>([^<]*)</a>', 1), t -> len(t))), 0)"
    def sqlKeep(x: String): String =
      s"(len(${sqlClean(x)}) >= ${HtmlStrip.MinBlockLen} AND " +
        s"${sqlAnchorLen(x)} * 4 <= len(${sqlClean(x)}) AND " +
        s"NOT regexp_matches(${sqlClean(x)}, '${HtmlStrip.MarkerPattern}'))"
    val sqlHtml =
      "'<html><head><title>Doc ' || doc_id || '</title>" +
        "<style>p{margin:0}</style></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/cat\">Section ' || " +
        "(doc_id % 7) || '</a> <a href=\"/tags\">Tags</a></nav>" +
        "<div id=\"m\"><p>' || text || ' &amp; fin</p></div>" +
        "<aside><ul><li><a href=\"/r1\">Related article one</a></li>" +
        "<li><a href=\"/r2\">Trending now today</a></li></ul></aside>" +
        "<footer><a href=\"/privacy\">Privacy</a> " +
        "<a href=\"/terms\">Terms</a> Copyright 2024 site-' || " +
        "(doc_id % 50) || '. All rights reserved.</footer></body></html>'"
    QueryDef(
      "t29_html_strip",
      "plant-and-strip HTML boilerplate: main-content extraction audit",
      (s, d) => {
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style>p{margin:0}</style></head><body>"),
          lit("<nav><a href=\"/\">Home</a> <a href=\"/cat\">Section "),
          (col("doc_id") % 7).cast("string"),
          lit("</a> <a href=\"/tags\">Tags</a></nav>"),
          lit("<div id=\"m\"><p>"), col("text"), lit(" &amp; fin</p></div>"),
          lit("<aside><ul><li><a href=\"/r1\">Related article one</a></li>"),
          lit("<li><a href=\"/r2\">Trending now today</a></li></ul></aside>"),
          lit("<footer><a href=\"/privacy\">Privacy</a> "),
          lit("<a href=\"/terms\">Terms</a> Copyright 2024 site-"),
          (col("doc_id") % 50).cast("string"),
          lit(". All rights reserved.</footer></body></html>"))
        // one clean pass per page: the pair array is a withColumn
        // boundary CollapseProject keeps (non-cheap, referenced twice),
        // so n_blocks / n_kept / main all read the SAME cleaned blocks.
        // widen: the strip chain is the heaviest per-row work in the
        // suite and ran as ONE scan task on the single-row-group corpus
        // (guide §2.5 unsplittable-input rescue; identity at scale)
        graft.sources.Tables.widen(docs(s, d))
          .select(col("doc_id"), col("text"), html.as("html"))
          .withColumn("pairs", HtmlStrip.blockPairs(col("html")))
          .withColumn("kept", HtmlStrip.keptPairs(col("pairs")))
          .select(col("doc_id"),
            length(col("html")).cast("long").as("raw_len"),
            size(filter(col("pairs"),
              p => length(p.getField("v")) > 0)).cast("long").as("n_blocks"),
            size(col("kept")).cast("long").as("n_kept"),
            array_join(transform(col("kept"), p => p.getField("v")), " ")
              .as("main"),
            col("text"))
          .select(col("doc_id"), col("raw_len"), col("n_blocks"),
            col("n_kept"),
            length(col("main")).cast("long").as("main_len"),
            (col("main") === concat(col("text"), lit(" & fin")))
              .cast("long").as("recovered"),
            md5(col("main")).as("main_fp"))
          .orderBy("doc_id")
      },
      Some(s"""WITH pages AS (
             |  SELECT doc_id, text, $sqlHtml AS html FROM documents),
             |segs AS (
             |  SELECT doc_id, text, html,
             |         regexp_split_to_array(
             |           regexp_replace(html,
             |             '${HtmlStrip.ScriptStylePattern}', ' ', 'g'),
             |           '${HtmlStrip.BlockTagPattern}') AS blocks
             |  FROM pages)
             |SELECT doc_id,
             |       CAST(len(html) AS BIGINT) AS raw_len,
             |       CAST(len(list_filter(blocks,
             |         x -> len(${sqlClean("x")}) > 0)) AS BIGINT) AS n_blocks,
             |       CAST(len(list_filter(blocks,
             |         x -> ${sqlKeep("x")})) AS BIGINT) AS n_kept,
             |       CAST(len(array_to_string(list_transform(
             |         list_filter(blocks, x -> ${sqlKeep("x")}),
             |         x -> ${sqlClean("x")}), ' ')) AS BIGINT) AS main_len,
             |       CAST(array_to_string(list_transform(
             |         list_filter(blocks, x -> ${sqlKeep("x")}),
             |         x -> ${sqlClean("x")}), ' ') = text || ' & fin'
             |         AS BIGINT) AS recovered,
             |       md5(array_to_string(list_transform(
             |         list_filter(blocks, x -> ${sqlKeep("x")}),
             |         x -> ${sqlClean("x")}), ' ')) AS main_fp
             |FROM segs ORDER BY doc_id""".stripMargin))
  }

  /** X20 — salient-term mining per source: tf·(N/df) term weighting (the
    * linear-idf variant of TF-IDF, chosen because tf·N·10⁴ div df is
    * EXACT integer math on both engines — ln() is a libm call whose last
    * ulp is not portable, and a fixed-point floor at an ulp boundary
    * would flip the gate). Top-3 terms per source, deterministic ties on
    * the term. Shuffles: the tf groupBy and the corpus-wide df groupBy
    * (both map-side combinable, vocabulary-bounded); the per-source top-3
    * is a bounded [[graft.functions.TopKTerms]] aggregate — ≤ 3 rows per
    * (task, source) move, never a vocabulary-wide window sort.
    */
  val x20SalientTerms = QueryDef(
    "x20_salient_terms",
    "top-3 tf*(N/df)-salient terms per source (exact integer weighting)",
    (s, d) => {
      import s.implicits._
      import graft.functions.{KeyedTermRow, TopKTerms}
      val toks = docs(s, d).select(col("source"), col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val tf = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
      val dfreq = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val total = docs(s, d).agg(count(lit(1)).as("n_corpus"))
      val scored = tf
        .join(dfreq, Seq("term"))
        .crossJoin(broadcast(total))
        .withColumn("score4", expr("tf * n_corpus * 10000 DIV df"))
      scored
        .select(col("source").as("g"), col("score4").as("rank"),
          col("term"), col("tf").as("v1"), col("df").as("v2"))
        .as[KeyedTermRow]
        .groupByKey(_.g)
        .agg(new TopKTerms(3).toColumn.name("top"))
        .flatMap { case (g, top) =>
          top.rows.zipWithIndex.map { case (r, i) =>
            (g, i + 1, r.term, r.v1, r.v2, r.rank / 1e4)
          }
        }
        .toDF("source", "rk", "term", "tf", "df", "salience")
        .orderBy("source", "rk")
    },
    Some("""WITH toks AS (
           |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
           |  FROM documents),
           |tfq AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
           |        FROM toks GROUP BY source, term),
           |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           |          FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
           |total AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
           |scored AS (
           |  SELECT source, tfq.term, tf, df, tf * n_corpus * 10000 // df AS score4
           |  FROM tfq JOIN dfreq ON tfq.term = dfreq.term CROSS JOIN total),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY source
           |            ORDER BY score4 DESC, term) AS rk
           |  FROM scored)
           |SELECT source, CAST(rk AS INTEGER) AS rk, term, tf, df,
           |       CAST(score4 AS DOUBLE) / 10000.0 AS salience
           |FROM ranked WHERE rk <= 3 ORDER BY source, rk""".stripMargin))

  /** X24 — vocabulary drift monitor: the corpus split into two halves
    * (interleaved by doc_id — on a dated corpus the split key is the
    * ingestion date), per-term usage share compared across halves, top
    * drifted terms reported. This is the data-drift check a continuously
    * ingested training corpus runs per batch. The statistic is the L1
    * share difference |ca·10⁶ div ta − cb·10⁶ div tb| — exact integer
    * math (a chi-square needs squares that overflow longs at corpus
    * scale and engine-variant division; the L1 form ranks the same
    * offenders). Two token-keyed aggregations, vocabulary-bounded.
    */
  val x24VocabDrift = QueryDef(
    "x24_vocab_drift",
    "top-10 L1 usage-share drifted terms between corpus halves",
    (s, d) => {
      import s.implicits._
      import graft.functions.{KeyedTermRow, TopKTerms}
      val toks = docs(s, d).select(
        (pmod(col("doc_id"), lit(2)) === 0).as("is_a"),
        explode(split(col("text"), " ")).as("term"))
      val counts = toks.groupBy("term")
        .agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      val totals = counts.agg(
        sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
      val scored = counts.crossJoin(broadcast(totals))
        .withColumn("drift6",
          abs(expr("ca * 1000000 DIV ta") - expr("cb * 1000000 DIV tb")))
      // global top-10 via the bounded aggregate (single group): each map
      // task contributes ≤ 10 rows — an unpartitioned row_number window
      // would sort the whole vocabulary in one task
      scored
        .select(lit("").as("g"), col("drift6").as("rank"), col("term"),
          col("ca").as("v1"), col("cb").as("v2"))
        .as[KeyedTermRow]
        .groupByKey(_.g)
        .agg(new TopKTerms(10).toColumn.name("top"))
        .flatMap { case (_, top) =>
          top.rows.zipWithIndex.map { case (r, i) =>
            (i + 1, r.term, r.v1, r.v2, r.rank / 1e6)
          }
        }
        .toDF("rk", "term", "ca", "cb", "share_drift")
        .orderBy("rk")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id % 2 = 0 AS is_a, unnest(string_split(text, ' ')) AS term
           |  FROM documents),
           |counts AS (
           |  SELECT term,
           |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           |         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
           |  FROM toks GROUP BY term),
           |totals AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
           |                  CAST(sum(cb) AS BIGINT) AS tb FROM counts),
           |scored AS (
           |  SELECT term, ca, cb,
           |         abs(ca * 1000000 // ta - cb * 1000000 // tb) AS drift6
           |  FROM counts CROSS JOIN totals),
           |ranked AS (
           |  SELECT *, row_number() OVER (ORDER BY drift6 DESC, term) AS rk
           |  FROM scored)
           |SELECT CAST(rk AS INTEGER) AS rk, term, ca, cb,
           |       CAST(drift6 AS DOUBLE) / 1000000.0 AS share_drift
           |FROM ranked WHERE rk <= 10 ORDER BY rk""".stripMargin))

  /** X28 — unigram-surprisal scoring (the perplexity-proxy quality
    * filter): each token's surprisal under the corpus unigram model,
    * averaged per document, rolled up per source. High mean surprisal =
    * rare-token-heavy outlier docs; low = templated/common-token docs —
    * the cheap LM-free stand-in for perplexity filtering at corpus scale.
    *
    * Portability: real surprisal is −log p, and libm's `log` differs in
    * the last ulp across engines — so the metric is defined DIRECTLY in
    * integers as `bitlen(N_total div c) − 1` (floor-log2 of the inverse
    * frequency, via the binary-string length both engines produce
    * identically), and per-doc means are 1e-6 fixed-point integer
    * division. Exact end to end; the only doubles are final display
    * divisions of exact longs.
    *
    * Scale: one explode → one token-keyed agg (map-combinable vocabulary
    * build) → token join (vocab ≪ corpus; AQE broadcasts when small) →
    * doc-keyed agg → source-keyed agg. No window over the corpus, no
    * driver-side vocabulary.
    */
  val x28UnigramSurprisal = QueryDef(
    "x28_unigram_surprisal",
    "per-source mean unigram surprisal (integer floor-log2 perplexity proxy)",
    (s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val total = vocab.agg(sum(col("c")).as("n_total"))
      toks.join(vocab, "tok")
        .crossJoin(broadcast(total))
        .withColumn("surp",
          (length(bin(expr("n_total div c"))) - 1).cast("long"))
        .groupBy("doc_id", "source")
        .agg(sum(col("surp")).as("ssum"), count(lit(1)).as("n"))
        .withColumn("mean6", expr("(ssum * 1000000) div n"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("mean6")).as("sum_mean6"),
          min(col("mean6")).as("min_mean6"),
          max(col("mean6")).as("max_mean6"))
        .withColumn("avg_surprisal",
          col("sum_mean6").cast("double") / col("n_docs") / 1e6)
        .orderBy("source")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
           |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
           |scored AS (
           |  SELECT doc_id, source, CAST(len(bin(n_total // c)) - 1 AS BIGINT) AS surp
           |  FROM toks JOIN vocab USING (tok) CROSS JOIN tot),
           |per_doc AS (
           |  SELECT doc_id, source, sum(surp) AS ssum, CAST(count(*) AS BIGINT) AS n
           |  FROM scored GROUP BY 1, 2),
           |m AS (SELECT source, (ssum * 1000000) // n AS mean6 FROM per_doc)
           |SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(mean6) AS BIGINT) AS sum_mean6,
           |       CAST(min(mean6) AS BIGINT) AS min_mean6,
           |       CAST(max(mean6) AS BIGINT) AS max_mean6,
           |       CAST(sum(mean6) AS DOUBLE) / count(*) / 1000000.0 AS avg_surprisal
           |FROM m GROUP BY source ORDER BY source""".stripMargin))

  /** X45 — bigram conditional-surprisal scoring: the CCNet/KenLM
    * perplexity-filter shape (Wenzek et al. 2020 filter CommonCrawl by
    * LM perplexity) with the n-gram LM trained ON the corpus in the same
    * plan. Each bigram event's surprisal is the floor-log2 of the inverse
    * CONDITIONAL frequency `count(prev,*) / count(prev,tok)` — how
    * unpredictable each token is given its predecessor — averaged per
    * document and rolled up per source. Complements x28 (unigram): a doc
    * of common words in an incoherent ORDER scores low on x28 but high
    * here, which is exactly the word-salad signal perplexity filtering
    * exists to catch.
    *
    * Portability: same no-libm discipline as x28 — surprisal is
    * `bitlen(cc div bc) − 1` in exact integers; per-doc means are 1e-6
    * fixed-point; the only doubles are display divisions of exact longs.
    *
    * Scale posture: token positions come from one posexplode; the
    * predecessor is a `lag` window PARTITIONED BY doc_id (state bounded
    * by the longest document, never the corpus); the bigram model is two
    * map-combinable aggs over the bigram stream (model size ≤ distinct
    * bigrams ≪ corpus at 100 TB after the token join AQE-broadcasts when
    * small); scoring is an equi-join of the event stream against the
    * model. No all-pairs, no driver state.
    */
  /** The x45 per-document surprisal stage — (doc_id, source, mean6),
    * mean bigram conditional surprisal per doc in 1e-6 fixed point.
    * Shared by x45 (per-source rollup) and x60 (domain proxy loss).
    */
  private[text] def bigramDocSurprisal(s: SparkSession, d: String) = {
    val toks = docs(s, d)
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("source"), col("pos"), col("col").as("tok"))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val big = toks
      .withColumn("prev", lag(col("tok"), 1).over(wd))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"), col("source"), col("prev"), col("tok"))
    val bg = big.groupBy("prev", "tok").agg(count(lit(1)).as("bc"))
    val ctx = bg.groupBy("prev").agg(sum(col("bc")).as("cc"))
    big.join(bg, Seq("prev", "tok")).join(ctx, Seq("prev"))
      .withColumn("surp",
        (length(bin(expr("cc div bc"))) - 1).cast("long"))
      .groupBy("doc_id", "source")
      .agg(sum(col("surp")).as("ssum"), count(lit(1)).as("n"))
      .withColumn("mean6", expr("(ssum * 1000000) div n"))
      .select("doc_id", "source", "mean6")
  }

  /** DuckDB CTEs toks/b2/bg/ctx/scored/per_doc/m replicating
    * [[bigramDocSurprisal]] → `m(doc_id, source, mean6)`.
    */
  private[text] val bigramDocSurprisalSql =
    """toks AS (
      |  SELECT doc_id, source,
      |         unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |b2 AS (
      |  SELECT doc_id, source, tok, prev FROM (
      |    SELECT doc_id, source, tok,
      |           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |    FROM toks)
      |  WHERE prev IS NOT NULL),
      |bg AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS bc
      |       FROM b2 GROUP BY 1, 2),
      |ctx AS (SELECT prev, CAST(sum(bc) AS BIGINT) AS cc FROM bg GROUP BY 1),
      |scored AS (
      |  SELECT doc_id, source, CAST(len(bin(cc // bc)) - 1 AS BIGINT) AS surp
      |  FROM b2 JOIN bg USING (prev, tok) JOIN ctx USING (prev)),
      |per_doc AS (
      |  SELECT doc_id, source, sum(surp) AS ssum, CAST(count(*) AS BIGINT) AS n
      |  FROM scored GROUP BY 1, 2),
      |m AS (SELECT doc_id, source, (ssum * 1000000) // n AS mean6 FROM per_doc)""".stripMargin

  val x45BigramSurprisal = QueryDef(
    "x45_bigram_surprisal",
    "per-source mean bigram conditional surprisal (integer floor-log2 LM proxy)",
    (s, d) => {
      graft.PlanCache.checkpointed(s, s"x45-perdoc/$d")(bigramDocSurprisal(s, d))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("mean6")).as("sum_mean6"),
          min(col("mean6")).as("min_mean6"),
          max(col("mean6")).as("max_mean6"))
        .withColumn("avg_surprisal",
          col("sum_mean6").cast("double") / col("n_docs") / 1e6)
        .orderBy("source")
    },
    Some(s"""WITH $bigramDocSurprisalSql
           |SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(mean6) AS BIGINT) AS sum_mean6,
           |       CAST(min(mean6) AS BIGINT) AS min_mean6,
           |       CAST(max(mean6) AS BIGINT) AS max_mean6,
           |       CAST(sum(mean6) AS DOUBLE) / count(*) / 1000000.0 AS avg_surprisal
           |FROM m GROUP BY source ORDER BY source""".stripMargin))

  /** X36 — vocabulary coverage: what fraction of each source's token
    * mass the GLOBAL top-100 vocabulary covers — the tokenizer-sizing
    * diagnostic (a vocab that covers 95% of tokens leaves 5% to subword
    * fallback; per-source coverage exposes domains the vocab underserves).
    *
    * One corpus scan builds the (source, term) tf table
    * ([[graft.PlanCache]]'d — the global ranking, per-source coverage,
    * and totals all derive from it, and static planning cannot reuse the
    * exchange across those subtrees). Everything downstream is
    * vocabulary-bounded, never corpus-bounded. The global top-100 is
    * `orderBy(n desc, term).limit(100)` — Spark compiles that to
    * TakeOrderedAndProject, the heap-based bounded top-k (k rows per
    * partition move, no vocabulary-wide sort; plan-pinned). Coverage is
    * a broadcast membership join + exact integer basis points.
    */
  val x36VocabCoverage = QueryDef(
    "x36_vocab_coverage",
    "per-source token coverage of the global top-100 vocabulary (exact bp)",
    (s, d) => {
      val tf = graft.PlanCache.checkpointed(s, s"x36-tf/$d") {
        docs(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("c"))
      }
      val top = tf.groupBy("term").agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("term")).limit(100)
        .select(col("term"))
      val cov = tf.join(broadcast(top), Seq("term"))
        .groupBy("source").agg(sum(col("c")).as("covered"))
      tf.groupBy("source").agg(sum(col("c")).as("n_tokens"))
        .join(cov, Seq("source"), "left")
        .select(col("source"), col("n_tokens"),
          coalesce(col("covered"), lit(0L)).as("n_covered"))
        .withColumn("coverage_bp", expr("n_covered * 10000 DIV n_tokens"))
        .orderBy("source")
    },
    Some("""WITH toks AS (
           |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
           |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
           |       FROM toks GROUP BY 1, 2),
           |g AS (SELECT term, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1),
           |top AS (SELECT term FROM g ORDER BY n DESC, term LIMIT 100),
           |cov AS (SELECT source AS csource, CAST(sum(c) AS BIGINT) AS covered
           |        FROM tf JOIN top USING (term) GROUP BY 1),
           |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens
           |        FROM tf GROUP BY 1)
           |SELECT t.source, t.n_tokens,
           |       CAST(coalesce(covered, 0) AS BIGINT) AS n_covered,
           |       CAST(coalesce(covered, 0) * 10000 // t.n_tokens AS BIGINT) AS coverage_bp
           |FROM tot t LEFT JOIN cov ON t.source = cov.csource
           |ORDER BY source""".stripMargin))

  /** Curated-seed sources for the T28 model-based scorer (stand-in for
    * "known-good corpus" — Wikipedia/books in the published recipes).
    */
  private[graft] val CURATED_SOURCES = Seq("src0", "src1", "src2", "src3", "src4")

  /** T28 — MODEL-BASED quality scoring: train a linear scorer that
    * contrasts a curated seed corpus against the background, then score
    * every document with it — the GPT-3/CCNet data-filtering pattern
    * (classifier trained "curated vs web", documents kept by score),
    * complementing t21/t27's hand-written heuristics with a LEARNED
    * signal. The model is a Rocchio/class-centroid contrast: per token,
    * weight = rate_ppm(curated) − rate_ppm(background) (class-conditional
    * token rates in exact integer ppm); a document's score is its mean
    * token weight. Positive score ⇒ the doc's unigram profile sits closer
    * to the curated centroid ⇒ selected.
    *
    * Training is ONE distributed pass (token explode → two
    * map-side-combinable groupBys); the model is vocabulary-bounded and
    * broadcast for scoring, so scoring is a map-side join at any corpus
    * size. Exactness: weights and per-doc sums are integer ppm all the
    * way (no transcendental log-likelihoods, which quantize differently
    * across engines); the emitted `score_ppm` is ONE IEEE division of
    * identical integers.
    */
  /** The trained t28 model as data: (tok, w_ppm) — one distributed pass.
    * Shared by the batch query below and the streaming
    * [[graft.streaming.QualityGate]] (which snapshots the top-M weights
    * as its scoring map).
    */
  private[graft] def qualityWeights(s: SparkSession, d: String) = {
    val labeled = docs(s, d).select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("tok"))
      .withColumn("cls",
        col("source").isInCollection(CURATED_SOURCES).cast("int"))
    val counts = labeled.groupBy("tok", "cls").agg(count(lit(1)).as("c"))
    val totals = labeled.groupBy("cls").agg(count(lit(1)).as("tot"))
    val rates = counts.join(broadcast(totals), "cls")
      .withColumn("rate_ppm", expr("(c * 1000000) div tot"))
    rates.groupBy("tok")
      .agg((coalesce(max(when(col("cls") === 1, col("rate_ppm"))), lit(0L)) -
        coalesce(max(when(col("cls") === 0, col("rate_ppm"))), lit(0L)))
        .as("w_ppm"))
  }

  /** The scored-doc frame behind t28 — (doc_id, source, wsum, n_toks) —
    * shared with x77's calibration/AUC audit of the same scorer.
    * PlanCache'd: x77 references it four times (score histogram, doc
    * count, decile boundaries, decile census) and each uncached
    * reference would re-run the explode/train/join chain (the
    * lineage-reexecution lesson, NOTES r13).
    */
  private[graft] def scoredQuality(s: SparkSession, d: String) =
    graft.PlanCache.checkpointed(s, s"t28-scored/$d")(scoredQualityPlan(s, d))

  /** The pure (uncached) t28 scoring plan — exposed so QualityModelSpec
    * can pin the broadcast of the vocabulary-bounded model (the
    * lineage-truncated memo hides this build from consumers' plans).
    */
  private[graft] def scoredQualityPlan(s: SparkSession, d: String) = {
    val labeled = docs(s, d).select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("tok"))
    labeled.join(broadcast(qualityWeights(s, d)), Seq("tok"))
      .groupBy("doc_id", "source")
      .agg(sum(col("w_ppm")).as("wsum"), count(lit(1)).as("n_toks"))
  }

  val t28QualityModel = QueryDef(
    "t28_quality_model",
    "learned quality score per doc: curated-vs-background token-rate contrast (ppm)",
    (s, d) => {
      scoredQuality(s, d)
        .select(col("doc_id"), col("source"),
          col("source").isInCollection(CURATED_SOURCES).as("is_curated"),
          col("n_toks"), col("wsum"),
          (col("wsum").cast("double") / col("n_toks")).as("score_ppm"),
          (col("wsum") > 0).as("selected"))
        .orderBy("doc_id")
    },
    Some {
      val curatedIn = CURATED_SOURCES.map(x => s"'$x'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |lab AS (SELECT doc_id, source, tok,
         |          CASE WHEN source IN ($curatedIn) THEN 1 ELSE 0 END AS cls
         |        FROM toks),
         |counts AS (SELECT tok, cls, CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY 1, 2),
         |totals AS (SELECT cls, CAST(count(*) AS BIGINT) AS tot FROM lab GROUP BY 1),
         |r AS (SELECT tok, cls, (c * 1000000) // tot AS rate_ppm
         |      FROM counts JOIN totals USING (cls)),
         |w AS (SELECT tok,
         |        COALESCE(max(CASE WHEN cls = 1 THEN rate_ppm END), 0) -
         |        COALESCE(max(CASE WHEN cls = 0 THEN rate_ppm END), 0) AS w_ppm
         |      FROM r GROUP BY tok),
         |sc AS (SELECT doc_id, source, CAST(sum(w_ppm) AS BIGINT) AS wsum,
         |              CAST(count(*) AS BIGINT) AS n_toks
         |       FROM lab JOIN w USING (tok) GROUP BY 1, 2)
         |SELECT doc_id, source,
         |       source IN ($curatedIn) AS is_curated,
         |       n_toks, wsum,
         |       CAST(wsum AS DOUBLE) / n_toks AS score_ppm,
         |       wsum > 0 AS selected
         |FROM sc ORDER BY doc_id""".stripMargin
    })

  /** The x77 core over a generic `(pos, score)` frame (pos ∈ {0,1} long,
    * score long): exact tie-aware ROC-AUC in basis points plus a 10-row
    * decile calibration census. Exposed so the spec can feed planted
    * score distributions with closed-form AUCs.
    *
    * AUC without pairs: AUC = [2·#(score⁺>score⁻) + #(ties)] / (2·n⁺·n⁻).
    * Both counts come from per-distinct-score class counts and a
    * negatives-below prefix sum — computed hierarchically the a13 way
    * (bin = top 16 sortable-double bits → the only global window runs
    * over ≤ 2¹⁶ bin rows; per-score prefixes are windows PARTITIONED by
    * bin), so no corpus-sized range exchange exists in the plan.
    * Decile boundaries are tie-inclusive k-th-largest order statistics
    * from [[graft.operators.RadixSelect.kthLargest]] (k_i = ⌊i·n/10⌋) —
    * value-deterministic across engines, unlike `ntile`, which splits
    * ties arbitrarily and can never hash-match.
    *
    * All arithmetic is integer; divisions truncate toward zero on both
    * engines (Spark `div` ≡ DuckDB BIGINT/HUGEINT `//`, both measured;
    * the only negative-capable quotient is score_mean). Products run in
    * DECIMAL(38,0)/HUGEINT so 2·n⁺·n⁻ survives 10¹⁰-doc corpora.
    */
  private[text] def calibrationOf(scored: org.apache.spark.sql.DataFrame) = {
    graft.GraftExtensions.ensure(scored.sparkSession)
    val sb = scored.groupBy("score")
      .agg(sum(col("pos")).as("pos_s"), sum(lit(1L) - col("pos")).as("neg_s"))
      .withColumn("bin", shiftrightunsigned(
        call_function("graft_sortable_bits", col("score").cast("double")), 48))
    val wBins = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    val bstar = sb.groupBy("bin").agg(sum(col("neg_s")).as("bneg"))
      .withColumn("negb_bin", coalesce(sum(col("bneg")).over(wBins), lit(0L)))
      .select("bin", "negb_bin")
    val wIn = Window.partitionBy("bin").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val aucRow = sb.join(broadcast(bstar), "bin")
      .withColumn("negb",
        col("negb_bin") + coalesce(sum(col("neg_s")).over(wIn), lit(0L)))
      .agg(
        sum(col("pos_s").cast(DecimalType(38, 0)) *
          (lit(2L) * col("negb") + col("neg_s"))).as("w2"),
        sum(col("pos_s")).cast(DecimalType(38, 0)).as("npos"),
        sum(col("neg_s")).cast(DecimalType(38, 0)).as("nneg"))
      .select(expr(
        "CAST((w2 * 10000) div greatest(2 * npos * nneg, 1) AS BIGINT)")
        .as("auc_bp"))
    val ranks = scored.agg(count(lit(1)).as("n"))
      .select(explode(expr(
        "array(1L,2L,3L,4L,5L,6L,7L,8L,9L)")).as("rank_id"), col("n"))
      .select(col("rank_id"),
        greatest(expr("(rank_id * n) div 10"), lit(1L)).as("k"))
    val cells = (1 to 9).map(i =>
      max(when(col("rank_id") === i, col("kth"))).as(s"t$i"))
    val thr = graft.operators.RadixSelect.kthLargest(scored, "score", ranks)
      .agg(cells.head, cells.tail: _*)
    val decile = (lit(10L) - (1 to 9).map(i =>
      (col("score") < col(s"t$i")).cast("long")).reduce(_ + _)).as("decile")
    scored.crossJoin(broadcast(thr))
      .select(decile, col("pos"), col("score"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_curated"),
        sum(col("score").cast(DecimalType(38, 0))).as("ssum"))
      .select(col("decile"), col("n_docs"), col("n_curated"),
        expr("(n_curated * 10000) div n_docs").as("curated_bp"),
        expr("ssum div CAST(n_docs AS DECIMAL(38,0))").as("score_mean"))
      .crossJoin(broadcast(aucRow))
      .orderBy("decile")
  }

  /** X77 — scorer calibration/AUC audit: does the t28 learned quality
    * score actually RANK curated above background? The two standard
    * classifier audits as one oracle-gated operator: (1) exact tie-aware
    * ROC-AUC (Mann–Whitney U over the score histogram — the
    * probability a random curated doc outscores a random background
    * doc), and (2) a decile calibration table (docs bucketed by
    * value-deterministic score deciles; curated share per decile in bp —
    * a well-ranked scorer shows curated_bp rising monotonically with
    * the decile). This is the audit every data-filtering pipeline runs
    * before trusting a learned quality gate (CCNet/GPT-3 style) with a
    * selection threshold.
    *
    * Scale: per-doc scores from the PlanCache'd t28 frame; AUC from
    * per-distinct-score counts with bin-hierarchical prefix sums (no
    * global sort); decile boundaries from one bounded-histogram
    * radix-select pass; census is one groupBy. Every number integer →
    * hash-exact oracle.
    */
  val x77ScorerCalibration = QueryDef(
    "x77_scorer_calibration",
    "t28 scorer audit: exact tie-aware ROC-AUC (bp) + decile calibration census",
    (s, d) => {
      val scored = scoredQuality(s, d).select(
        col("source").isInCollection(CURATED_SOURCES).cast("long").as("pos"),
        expr("(wsum * CAST(1000000 AS BIGINT)) div n_toks").as("score"))
      calibrationOf(scored)
    },
    Some {
      val curatedIn = CURATED_SOURCES.map(x => s"'$x'").mkString(", ")
      val decSub = (1 to 9).map(i =>
        s"(CASE WHEN score < t$i THEN 1 ELSE 0 END)").mkString(" - ")
      val tCells = (1 to 9).map(i =>
        s"max(CASE WHEN i = $i THEN t END) AS t$i").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |lab AS (SELECT doc_id, source, tok,
         |          CASE WHEN source IN ($curatedIn) THEN 1 ELSE 0 END AS cls
         |        FROM toks),
         |counts AS (SELECT tok, cls, CAST(count(*) AS BIGINT) AS c
         |           FROM lab GROUP BY 1, 2),
         |totals AS (SELECT cls, CAST(count(*) AS BIGINT) AS tot
         |           FROM lab GROUP BY 1),
         |r AS (SELECT tok, cls, (c * 1000000) // tot AS rate_ppm
         |      FROM counts JOIN totals USING (cls)),
         |w AS (SELECT tok,
         |        COALESCE(max(CASE WHEN cls = 1 THEN rate_ppm END), 0) -
         |        COALESCE(max(CASE WHEN cls = 0 THEN rate_ppm END), 0) AS w_ppm
         |      FROM r GROUP BY tok),
         |sc AS (SELECT doc_id, source, CAST(sum(w_ppm) AS BIGINT) AS wsum,
         |              CAST(count(*) AS BIGINT) AS n_toks
         |       FROM lab JOIN w USING (tok) GROUP BY 1, 2),
         |scored AS (SELECT CASE WHEN source IN ($curatedIn)
         |                       THEN 1 ELSE 0 END AS pos,
         |                  (wsum * 1000000) // n_toks AS score FROM sc),
         |g AS (SELECT score, CAST(SUM(pos) AS BIGINT) AS pos_s,
         |             CAST(SUM(1 - pos) AS BIGINT) AS neg_s
         |      FROM scored GROUP BY 1),
         |cum AS (SELECT *, COALESCE(SUM(neg_s) OVER (ORDER BY score
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negb
         |        FROM g),
         |auc AS (SELECT
         |    CAST(SUM(CAST(pos_s AS HUGEINT) * (2 * negb + neg_s)) AS HUGEINT)
         |      AS w2,
         |    CAST(SUM(pos_s) AS HUGEINT) AS npos,
         |    CAST(SUM(neg_s) AS HUGEINT) AS nneg FROM cum),
         |aucbp AS (SELECT CAST((w2 * 10000) //
         |            GREATEST(2 * npos * nneg, 1) AS BIGINT) AS auc_bp
         |          FROM auc),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
         |ks AS (SELECT CAST(i AS BIGINT) AS i, GREATEST((i * n) // 10, 1) AS k
         |       FROM nn, UNNEST([1,2,3,4,5,6,7,8,9]) AS u(i)),
         |tr AS (SELECT i, q.score AS t FROM ks JOIN
         |        (SELECT score, row_number() OVER (ORDER BY score DESC) AS rn
         |         FROM scored) q ON q.rn = ks.k),
         |tp AS (SELECT $tCells FROM tr),
         |db AS (SELECT CAST(10 - $decSub AS BIGINT) AS decile, pos, score
         |       FROM scored CROSS JOIN tp)
         |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(pos) AS BIGINT) AS n_curated,
         |       (CAST(SUM(pos) AS BIGINT) * 10000) //
         |         CAST(count(*) AS BIGINT) AS curated_bp,
         |       CAST(SUM(CAST(score AS HUGEINT)) //
         |         CAST(count(*) AS HUGEINT) AS BIGINT) AS score_mean,
         |       (SELECT auc_bp FROM aucbp) AS auc_bp
         |FROM db GROUP BY 1 ORDER BY 1""".stripMargin
    })

  /** X80 — source-pair unigram cross-entropy matrix: for every ordered
    * source pair (A, B), the mean surprisal of A's tokens under B's
    * add-one-smoothed unigram LM — the domain-mismatch measurement
    * behind "which held-out domain does this training mix actually
    * cover" (the cheap LM-free form of the perplexity-by-domain audits
    * in the Pile/DoReMi analyses, and the pairwise generalization of
    * x28's single-corpus surprisal). `fit_rank` orders each row's
    * modeling sources; the diagonal winning its row means every source
    * is best modeled by itself — a mix whose row is won by ANOTHER
    * source is redundant with it.
    *
    * Portability: surprisal is the x28 integer floor-log2 —
    * `bitlen((tot_B + |V|) div (c_B + 1)) − 1` with add-one smoothing
    * over the GLOBAL vocabulary, so tokens B never saw get a finite,
    * engine-identical ceiling. The per-pair mean is 1e-6 fixed point
    * with the Σc·surp sum carried in DECIMAL(38,0)/HUGEINT (a 10¹³-token
    * source would overflow a long at the ×10⁶ step).
    *
    * Scale: one token-keyed combinable agg builds (source, tok, c); the
    * grid and surprisal tables are vocabulary×|S|-bounded (never
    * corpus-sized); the cross-scoring join is token-type-keyed. Output
    * is |S|² rows.
    */
  val x80SourceCrossEntropy = QueryDef(
    "x80_source_crossentropy",
    "source-pair unigram cross-entropy matrix (add-one smoothed floor-log2) with per-row fit ranks",
    (s, d) => {
      val toks = docs(s, d).select(col("source"),
        explode(split(col("text"), " ")).as("tok"))
      crossEntropyOf(toks, cacheKey = Some(s"x80-counts/$d"))
    },
    Some(x80OracleSql))

  /** The x80 core over a generic `(source, tok)` token stream — exposed
    * so the spec can feed planted vocabularies with closed-form
    * surprisal matrices.
    */
  private[text] def crossEntropyOf(toks: org.apache.spark.sql.DataFrame,
      cacheKey: Option[String] = None) = {
      val s = toks.sparkSession
      val built = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val counts = cacheKey.fold(built)(k =>
        graft.PlanCache.checkpointed(s, k)(built))
      val vocabN = counts.select("tok").distinct().agg(count(lit(1)).as("v"))
      val totB = counts.groupBy(col("source").as("src_b"))
        .agg(sum(col("c")).as("tot_b"))
      val surpB = counts.select(col("tok")).distinct()
        .crossJoin(broadcast(totB))
        .join(counts.select(col("source").as("src_b"), col("tok"),
          col("c").as("c_b")), Seq("src_b", "tok"), "left")
        .na.fill(0L, Seq("c_b"))
        .crossJoin(broadcast(vocabN))
        .withColumn("surp_b",
          (length(bin(expr("(tot_b + v) div (c_b + 1)"))) - 1).cast("long"))
        .select("src_b", "tok", "surp_b")
      val m = counts
        .select(col("source").as("src_a"), col("tok"), col("c").as("c_a"))
        .join(surpB, "tok")
        .groupBy("src_a", "src_b")
        .agg(sum((col("c_a") * col("surp_b")).cast(DecimalType(38, 0)))
            .as("ssum"),
          sum(col("c_a")).as("tot_a"))
        .withColumn("xent6", expr("(ssum * 1000000) div tot_a"))
      val w = Window.partitionBy("src_a").orderBy(col("xent6"), col("src_b"))
      m.select(col("src_a"), col("src_b"), col("tot_a").as("n_tokens_a"),
          col("xent6"),
          row_number().over(w).cast("long").as("fit_rank"))
        .orderBy("src_a", "src_b")
  }

  private def x80OracleSql: String =
    ("""WITH toks AS (
           |  SELECT source, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |counts AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
           |           FROM toks GROUP BY 1, 2),
           |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
           |        FROM counts),
           |totb AS (SELECT source AS src_b, CAST(sum(c) AS BIGINT) AS tot_b
           |         FROM counts GROUP BY 1),
           |vt AS (SELECT DISTINCT tok FROM counts),
           |gcb AS (SELECT g.src_b, g.tok, g.tot_b, COALESCE(c.c, 0) AS c_b
           |        FROM (SELECT b.src_b, b.tot_b, t.tok
           |              FROM vt t CROSS JOIN totb b) g
           |        LEFT JOIN counts c
           |          ON c.source = g.src_b AND c.tok = g.tok),
           |surp AS (SELECT src_b, tok,
           |           CAST(len(bin((tot_b + v) // (c_b + 1))) - 1 AS BIGINT)
           |             AS surp_b
           |         FROM gcb CROSS JOIN voc),
           |m AS (SELECT a.source AS src_a, s.src_b,
           |        CAST(SUM(a.c) AS BIGINT) AS tot_a,
           |        CAST(SUM(CAST(a.c AS HUGEINT) * s.surp_b) AS HUGEINT)
           |          AS ssum
           |      FROM counts a JOIN surp s USING (tok) GROUP BY 1, 2),
           |x AS (SELECT src_a, src_b, tot_a AS n_tokens_a,
           |        CAST((ssum * 1000000) // tot_a AS BIGINT) AS xent6
           |      FROM m)
           |SELECT src_a, src_b, n_tokens_a, xent6,
           |       CAST(row_number() OVER
           |         (PARTITION BY src_a ORDER BY xent6, src_b) AS BIGINT)
           |         AS fit_rank
           |FROM x ORDER BY src_a, src_b""").stripMargin

  /** X82 — Zipf-law audit: does the corpus's rank–frequency curve have
    * the shape natural text has? Templated, machine-generated, or
    * boilerplate-heavy corpora bend away from the Zipf line (slope ≈ −1
    * on log rank vs log frequency), and the bend is a cheap
    * whole-corpus health fingerprint no per-document filter sees.
    *
    * Libm-free: token frequencies bucket by floor-log2 (the x28 bitlen
    * trick), each bucket's rank boundary is the floor-log2 of the
    * cumulative type count at or above it, and the slope is an exact
    * integer least-squares fit over the ≤ 64 (log₂rank, log₂freq)
    * bucket points — slope_bp = (nΣxy−ΣxΣy)·10⁴ div (nΣx²−(Σx)²),
    * truncating toward zero in both engines, zero-variance guarded.
    * Everything after the one vocabulary aggregation runs on a frame
    * bounded at 64 rows BY THE ENCODING; no vocabulary sort exists
    * anywhere.
    */
  val x82ZipfAudit = QueryDef(
    "x82_zipf_audit",
    "Zipf rank-frequency audit: floor-log2 bucket census + exact integer slope fit (bp)",
    (s, d) => zipfOf(docs(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))),
    Some(x82OracleSql))

  /** The x82 core over a generic one-column `tok` stream — exposed so
    * the spec can plant exact power-of-two Zipf geometries (1 type at
    * 2^k, 2 at 2^(k−1), … gives slope_bp exactly −10000).
    */
  private[text] def zipfOf(tokens: org.apache.spark.sql.DataFrame) = {
      val counts = tokens
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val hist = counts
        .withColumn("bucket", (length(bin(col("c"))) - 1).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_types"), sum(col("c")).as("token_mass"))
      val wCum = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val pts = hist
        .withColumn("cum_types", sum(col("n_types")).over(wCum))
        .withColumn("log2_rank",
          (length(bin(col("cum_types"))) - 1).cast("long"))
      val slope = pts.agg(
          count(lit(1)).as("n"),
          sum(col("log2_rank")).as("sx"), sum(col("bucket")).as("sy"),
          sum(col("log2_rank") * col("log2_rank")).as("sxx"),
          sum(col("log2_rank") * col("bucket")).as("sxy"))
        .select(expr(
          """CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
            |ELSE ((n * sxy - sx * sy) * 10000) div (n * sxx - sx * sx)
            |END""".stripMargin).as("zipf_slope_bp"))
      pts.select("bucket", "n_types", "token_mass", "cum_types", "log2_rank")
        .crossJoin(broadcast(slope))
        .orderBy("bucket")
  }

  private def x82OracleSql: String =
    ("""WITH toks AS (
           |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
           |counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
           |           FROM toks GROUP BY tok),
           |hist AS (SELECT CAST(len(bin(c)) - 1 AS BIGINT) AS bucket,
           |                CAST(count(*) AS BIGINT) AS n_types,
           |                CAST(sum(c) AS BIGINT) AS token_mass
           |         FROM counts GROUP BY 1),
           |pts AS (SELECT *,
           |          CAST(SUM(n_types) OVER (ORDER BY bucket DESC
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |            AS BIGINT) AS cum_types
           |        FROM hist),
           |pts2 AS (SELECT *, CAST(len(bin(cum_types)) - 1 AS BIGINT)
           |                     AS log2_rank
           |         FROM pts),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |        CAST(SUM(log2_rank) AS BIGINT) AS sx,
           |        CAST(SUM(bucket) AS BIGINT) AS sy,
           |        CAST(SUM(log2_rank * log2_rank) AS BIGINT) AS sxx,
           |        CAST(SUM(log2_rank * bucket) AS BIGINT) AS sxy
           |      FROM pts2),
           |sl AS (SELECT CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
           |              ELSE CAST(((n * sxy - sx * sy) * 10000) //
           |                        (n * sxx - sx * sx) AS BIGINT)
           |              END AS zipf_slope_bp
           |       FROM m)
           |SELECT bucket, n_types, token_mass, cum_types, log2_rank,
           |       (SELECT zipf_slope_bp FROM sl) AS zipf_slope_bp
           |FROM pts2 ORDER BY bucket""").stripMargin

  /** Tie-averaged Spearman ranks ×2 (so they stay integer): for every
    * row, `out` = 2·(#rows with strictly smaller `valueCol`) +
    * (#rows tied) + 1 ≡ twice the classical average rank. Computed from
    * per-distinct-value counts with the x77 bin-hierarchical prefix
    * (the only global window runs over ≤ 2¹⁶ bin rows), then joined
    * back on the value — all frames doc-linear, no global sort.
    */
  private[text] def rank2Of(df: org.apache.spark.sql.DataFrame,
      valueCol: String, out: String) = {
    graft.GraftExtensions.ensure(df.sparkSession)
    val cnts = df.groupBy(col(valueCol)).agg(count(lit(1)).as("cnt"))
      .withColumn("bin", shiftrightunsigned(
        call_function("graft_sortable_bits", col(valueCol).cast("double")), 48))
    val wB = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    val bins = cnts.groupBy("bin").agg(sum(col("cnt")).as("bc"))
      .withColumn("below_bin", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select("bin", "below_bin")
    val wIn = Window.partitionBy("bin").orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cnts.join(broadcast(bins), "bin")
      .withColumn("below",
        col("below_bin") + coalesce(sum(col("cnt")).over(wIn), lit(0L)))
      .select(col(valueCol),
        (lit(2L) * col("below") + col("cnt") + lit(1L)).as(out))
    df.join(ranked, valueCol)
  }

  /** X78 — signal-agreement audit: do the two quality scorers — t21's
    * hand-written heuristic and t28's learned contrast — actually agree
    * on the corpus? Exact Spearman rank correlation (tie-averaged
    * ranks; monotone agreement is the RIGHT audit for threshold gates —
    * any monotone transform of a score selects identical documents)
    * plus a median-split quadrant census (how many docs the two gates
    * would route the same way at their own medians), both integer all
    * the way, so the verdict is hash-exact. This is the audit that
    * decides whether a cheap heuristic can pre-filter for an expensive
    * learned gate (high ρ², high agree_bp ⇒ yes) or the two measure
    * different things (⇒ keep both).
    *
    * Why rank-only (no raw-value Pearson): the two signals live on
    * different fixed-point scales (1e-6 units vs ppm·1e6), and the
    * Pearson cov² ~ n⁴·s_a²·s_b² intermediate overflows 128-bit at any
    * realistic corpus — measured immediately at sf0.001. Ranks are
    * bounded by 2n regardless of signal scale, so every Spearman
    * intermediate stays under 10³⁸ through ~4·10⁵ docs for the DuckDB
    * replay (which overflows LOUDLY, never silently), while the engine
    * side finishes in driver BigInt from one O(1) moment row and is
    * exact at any corpus size.
    *
    * Shape: per-doc signals join on doc_id; two x77-style hierarchical
    * rank passes (the only global windows run over ≤ 2¹⁶ bin rows);
    * ONE aggregation collects the six rank moments as DECIMAL(38,0);
    * medians are tie-inclusive k-th-largest order statistics from
    * [[graft.operators.RadixSelect.kthLargest]]. ρ²_bp =
    * ⌊cov²·10⁴ / (var_a·var_b)⌋, zero variance guarded to sign 0 / ρ² 0.
    */
  val x78SignalAgreement = QueryDef(
    "x78_signal_agreement",
    "t21 heuristic vs t28 learned quality: exact Spearman agreement (sign, rho² bp) + median-split quadrants",
    (s, d) => {
      val a = heuristicScores(s, d).select(col("doc_id"), col("score6").as("sa"))
      val b = scoredQuality(s, d).select(col("doc_id"),
        expr("(wsum * CAST(1000000 AS BIGINT)) div n_toks").as("sb"))
      agreementOf(a.join(b, "doc_id").select("sa", "sb"),
        cacheKey = Some(s"x78-ranked/$d"))
    },
    Some(x78OracleSql))

  /** The x78 core over a generic `(sa, sb)` signal-pair frame — exposed
    * so the spec can feed planted distributions with closed-form
    * Spearman verdicts. `cacheKey` PlanCaches the double-ranked frame
    * (the moment pass, the two median selects and the quadrant census
    * all reference it — uncached, each reference re-runs both rank
    * joins over the corpus).
    */
  private[text] def agreementOf(pairs: org.apache.spark.sql.DataFrame,
      cacheKey: Option[String] = None) = {
      val s = pairs.sparkSession
      val ranked = rank2Of(rank2Of(pairs, "sa", "ra2"), "sb", "rb2")
      val joined = cacheKey.fold(ranked)(k =>
        graft.PlanCache.checkpointed(s, k)(ranked))
      def dec(c: String) = col(c).cast(DecimalType(38, 0))
      // BOTH medians in ONE grouped radix pass (the w12 stacking trick —
      // each kthLargest call costs a full bounded-histogram pass, and
      // two of them dominated the first cut's runtime): tie-inclusive
      // k-th largest per signal, k = (n+1)/2, weight ≡ 1
      val medRanks = joined.agg(count(lit(1)).as("nn"))
        .select(explode(expr("array('a','b')")).as("dim"), col("nn"))
        .select(col("dim"), lit(1L).as("rank_id"),
          greatest(expr("(nn + 1) div 2"), lit(1L)).as("budget"))
      val stacked = joined.select(explode(array(
          struct(lit("a").as("dim"), col("sa").as("v")),
          struct(lit("b").as("dim"), col("sb").as("v")))).as("e"))
        .select(col("e.dim").as("dim"), col("e.v").as("v"))
        .withColumn("one", lit(1L))
      val meds = graft.operators.RadixSelect
        .thresholds(stacked, Seq("dim"), "v", "one", medRanks)
        .collect() // bounded: one row per signal
        .map(r => r.getString(0) -> r.getLong(r.fieldIndex("thr"))).toMap
      val (medA, medB) = (meds("a"), meds("b"))
      // ONE fused scan: the six rank moments + the quadrant census
      val m = joined.agg(
        count(lit(1)).as("n"),
        sum(dec("ra2")).as("ra1"), sum(dec("rb2")).as("rb1"),
        sum(dec("ra2") * dec("ra2")).as("raa"),
        sum(dec("rb2") * dec("rb2")).as("rbb"),
        sum(dec("ra2") * dec("rb2")).as("rab"),
        sum((col("sa") >= medA && col("sb") >= medB).cast("long"))
          .as("both_hi"),
        sum((col("sa") < medA && col("sb") < medB).cast("long"))
          .as("both_lo"))
        .collect().head // O(1): one moment row, corpus-size independent
      val n = BigInt(m.getLong(0))
      def big(i: Int) = BigInt(m.getDecimal(i).toBigInteger)
      val (cov, va, vb) = (n * big(5) - big(1) * big(2),
        n * big(3) - big(1) * big(1), n * big(4) - big(2) * big(2))
      val (sign, r2) =
        if (va == 0 || vb == 0) (0L, 0L)
        else (cov.signum.toLong, ((cov * cov * 10000) / (va * vb)).toLong)
      val (bh, bl) = (m.getLong(6), m.getLong(7))
      val agreeBp = ((BigInt(bh) + BigInt(bl)) * 10000 / n.max(1)).toLong
      val schema = org.apache.spark.sql.types.StructType(Seq(
        "n_docs", "spearman_sign", "spearman_r2_bp",
        "both_hi", "both_lo", "agree_bp").map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.LongType, nullable = false)))
      s.createDataFrame(s.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(n.toLong, sign, r2, bh, bl, agreeBp)), 1),
        schema)
  }

  private def x78OracleSql: String = {
      val curatedIn = CURATED_SOURCES.map(x => s"'$x'").mkString(", ")
      s"""WITH f AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct,
         |         CAST(len(list_filter(string_split(text, ' '),
         |              t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE) AS n_stop,
         |         CAST(len(replace(text, ' ', '')) AS DOUBLE) AS n_letters
         |  FROM documents),
         |ha AS (SELECT doc_id,
         |         CAST(floor((n_distinct / n_toks * 0.4 +
         |              (1.0 - n_stop / n_toks) * 0.3 +
         |              least(n_letters / n_toks / 10.0, 1.0) * 0.3)
         |              * 1000000.0) AS BIGINT) AS sa
         |       FROM f),
         |toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
         |         FROM documents),
         |lab AS (SELECT doc_id, source, tok,
         |          CASE WHEN source IN ($curatedIn) THEN 1 ELSE 0 END AS cls
         |        FROM toks),
         |counts AS (SELECT tok, cls, CAST(count(*) AS BIGINT) AS c
         |           FROM lab GROUP BY 1, 2),
         |totals AS (SELECT cls, CAST(count(*) AS BIGINT) AS tot
         |           FROM lab GROUP BY 1),
         |r AS (SELECT tok, cls, (c * 1000000) // tot AS rate_ppm
         |      FROM counts JOIN totals USING (cls)),
         |w AS (SELECT tok,
         |        COALESCE(max(CASE WHEN cls = 1 THEN rate_ppm END), 0) -
         |        COALESCE(max(CASE WHEN cls = 0 THEN rate_ppm END), 0) AS w_ppm
         |      FROM r GROUP BY tok),
         |sc AS (SELECT doc_id, CAST(sum(w_ppm) AS BIGINT) AS wsum,
         |              CAST(count(*) AS BIGINT) AS n_toks
         |       FROM lab JOIN w USING (tok) GROUP BY 1),
         |hb AS (SELECT doc_id, (wsum * 1000000) // n_toks AS sb FROM sc),
         |j AS (SELECT ha.sa, hb.sb FROM ha JOIN hb USING (doc_id)),
         |rk AS (SELECT sa, sb,
         |         2 * CAST(rank() OVER (ORDER BY sa) AS BIGINT) +
         |           CAST(count(*) OVER (PARTITION BY sa) AS BIGINT) - 1 AS ra2,
         |         2 * CAST(rank() OVER (ORDER BY sb) AS BIGINT) +
         |           CAST(count(*) OVER (PARTITION BY sb) AS BIGINT) - 1 AS rb2
         |       FROM j),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |        CAST(SUM(CAST(ra2 AS HUGEINT)) AS HUGEINT) AS ra1,
         |        CAST(SUM(CAST(rb2 AS HUGEINT)) AS HUGEINT) AS rb1,
         |        CAST(SUM(CAST(ra2 AS HUGEINT) * ra2) AS HUGEINT) AS raa,
         |        CAST(SUM(CAST(rb2 AS HUGEINT) * rb2) AS HUGEINT) AS rbb,
         |        CAST(SUM(CAST(ra2 AS HUGEINT) * rb2) AS HUGEINT) AS rab
         |      FROM rk),
         |c AS (SELECT n,
         |        n * rab - ra1 * rb1 AS scov,
         |        n * raa - ra1 * ra1 AS sva,
         |        n * rbb - rb1 * rb1 AS svb
         |      FROM m),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j),
         |ka AS (SELECT sa AS med_a FROM nn JOIN
         |        (SELECT sa, row_number() OVER (ORDER BY sa DESC) AS rn
         |         FROM j) q ON q.rn = GREATEST((nn.n + 1) // 2, 1)),
         |kb AS (SELECT sb AS med_b FROM nn JOIN
         |        (SELECT sb, row_number() OVER (ORDER BY sb DESC) AS rn
         |         FROM j) q ON q.rn = GREATEST((nn.n + 1) // 2, 1)),
         |quad AS (SELECT
         |    CAST(SUM(CASE WHEN sa >= med_a AND sb >= med_b
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS both_hi,
         |    CAST(SUM(CASE WHEN sa < med_a AND sb < med_b
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS both_lo
         |  FROM j CROSS JOIN ka CROSS JOIN kb)
         |SELECT CAST(c.n AS BIGINT) AS n_docs,
         |       CAST(CASE WHEN sva = 0 OR svb = 0 THEN 0
         |                 WHEN scov > 0 THEN 1 WHEN scov < 0 THEN -1
         |                 ELSE 0 END AS BIGINT) AS spearman_sign,
         |       CAST(CASE WHEN sva = 0 OR svb = 0 THEN 0
         |                 ELSE (scov * scov * 10000) // (sva * svb)
         |            END AS BIGINT) AS spearman_r2_bp,
         |       quad.both_hi, quad.both_lo,
         |       ((quad.both_hi + quad.both_lo) * 10000) //
         |         GREATEST(CAST(c.n AS BIGINT), 1) AS agree_bp
         |FROM c CROSS JOIN quad""".stripMargin
  }

  /** X43 — hashed TF-IDF document vectors: the classical text featurizer
    * (feature hashing / "hashing trick", Weinberger et al. 2009) as one
    * distributed plan — every document becomes a fixed-width sparse
    * vector regardless of vocabulary size, the bridge from the text
    * surface to the similarity surface (ANN/semantic dedup over REAL
    * text-derived vectors instead of a pre-supplied embedding column).
    *
    * Pipeline: token bag → per-token df → integer idf (floor-log2 of
    * `16·n_docs/df` via binary-string length — the x28 no-libm trick;
    * the ×16 smoothing keeps ubiquitous tokens at idf 4 instead of 0) →
    * tf·idf summed into `md5u60(tok) % 64` buckets → L2-normalized
    * (`sqrt` is correctly-rounded IEEE, portable). Everything before
    * the final normalization is exact integer math.
    *
    * Scale posture: two combinable groupBys over the token stream (df,
    * tf) + a vocabulary-bounded broadcast of the idf table; output is
    * O(docs·64), never vocabulary-shaped. Emitted flattened
    * (doc_id, bucket, weight) — the layout a bucketed ANN join consumes
    * directly.
    */
  /** The x43 integer weight frame (doc_id, bucket, wsum) — exact tf·idf
    * sums into hashed buckets; shared by x43 (per-doc vectors) and x44
    * (per-source centroids).
    */
  private[graft] def hashedWeights(s: SparkSession, d: String) = {
    graft.GraftExtensions.ensure(s)
    // PlanCache'd: x43/x44/x46/x57 all read this frame, and a single
    // consumer's plan references it several times (norms + dots + query
    // side) — uncached, each reference re-runs the explode/idf/agg chain
    graft.PlanCache.checkpointed(s, s"x43-w/$d") {
      val dd = docs(s, d)
      hashedWeightsOf(dd, idfOf(dd))
    }
  }

  /** The x43 integer idf table of a `(doc_id, text)` frame — separated
    * from the featurizer so a STREAMING consumer ([[graft.streaming
    * .TopicDrift]]) can freeze the idf of a trusted baseline and
    * featurize live batches against it (a live batch must not re-derive
    * document frequencies from itself: the feature space would move).
    */
  private[graft] def idfOf(docFrame: org.apache.spark.sql.DataFrame) = {
    val t = docFrame.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val nd = docFrame.agg(count(lit(1)).as("n_docs"))
    t.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nd))
      .select(col("tok"),
        (length(bin(expr("(n_docs * 16) div df"))) - 1).cast("long").as("idf"))
  }

  /** The x43 featurizer against a GIVEN idf table (tokens absent from it
    * drop out, the standard frozen-vocabulary behavior). Callers ensure
    * [[graft.GraftExtensions]] is registered.
    */
  private[graft] def hashedWeightsOf(docFrame: org.apache.spark.sql.DataFrame,
      idf: org.apache.spark.sql.DataFrame) =
    docFrame.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .join(broadcast(idf), Seq("tok"))
      .withColumn("bucket",
        pmod(call_function("graft_md5u60", col("tok")), lit(64L)))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("tf") * col("idf")).as("wsum"))

  /** Per-doc squared norms of the x43 weight frame — lineage-truncated
    * memo shared by x57/x70/x74: each would otherwise re-aggregate the
    * full weight table once per plan reference.
    */
  private[graft] def hashedNorms(s: SparkSession, d: String) =
    graft.PlanCache.checkpointed(s, s"x43-nrm/$d") {
      hashedWeights(s, d).groupBy("doc_id")
        .agg(sum(col("wsum") * col("wsum")).as("ss"))
    }

  /** The x46 centroid build over a weight frame: per-(seed, bucket) mean
    * integer weights + squared norms. Returns (centroids, norms).
    */
  private[graft] def topicCentroids(w: org.apache.spark.sql.DataFrame,
      seed: org.apache.spark.sql.DataFrame) = {
    val cn = seed.groupBy("cid0").agg(count(lit(1)).as("n_docs0"))
    val cent = w.join(seed, Seq("doc_id"))
      .groupBy("cid0", "bucket").agg(sum(col("wsum")).as("sw"))
      .join(broadcast(cn), Seq("cid0"))
      .select(col("cid0").as("cid"), col("bucket"),
        expr("sw div n_docs0").as("mw"))
      .filter(col("mw") > 0)
    (cent, cent.groupBy("cid").agg(sum(col("mw") * col("mw")).as("ss")))
  }

  /** The x46 cosine-argmax assignment of every doc in `docIds` against
    * broadcast centroids; docs sharing no bucket with any centroid keep
    * their seed topic `doc_id % k`.
    */
  private[graft] def topicAssign(w: org.apache.spark.sql.DataFrame,
      docIds: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      cnorm: org.apache.spark.sql.DataFrame, k: Long) = {
    val scores = w.join(broadcast(cent), Seq("bucket"))
      .groupBy("doc_id", "cid").agg(sum(col("wsum") * col("mw")).as("dot"))
      .join(broadcast(cnorm), Seq("cid"))
      // dot/√ss, LINEAR in the document's weight scale (dot² would be
      // quadratic and can leave long range on a concentrated
      // multi-megatoken doc); both engines cast the same exact longs
      // and apply correctly-rounded IEEE sqrt/division, so the ranking
      // is bit-identical
      .withColumn("score",
        col("dot").cast("double") / sqrt(col("ss").cast("double")))
    val wa = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cid"))
    val assign = scores.withColumn("rn", row_number().over(wa))
      .filter(col("rn") === 1).select(col("doc_id"), col("cid"))
    docIds.join(assign, Seq("doc_id"), "left")
      .withColumn("topic", coalesce(col("cid"), pmod(col("doc_id"), lit(k))))
      .drop("cid")
  }

  /** DuckDB CTEs t/nd/idf/tf/w replicating [[hashedWeights]]. */
  private[graft] val hashedWeightsSql =
    """t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |idf AS (
      |  SELECT tok, CAST(len(bin((n_docs * 16) // df)) - 1 AS BIGINT) AS idf
      |  FROM (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |        FROM t GROUP BY tok) CROSS JOIN nd),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM t GROUP BY 1, 2),
      |w AS MATERIALIZED (
      |      SELECT doc_id,
      |             CAST(md5_number_lower(tok) >> 4 AS BIGINT) % 64 AS bucket,
      |             CAST(sum(tf * idf) AS BIGINT) AS wsum
      |      FROM tf JOIN idf USING (tok) GROUP BY 1, 2)""".stripMargin

  val x43HashedVectors = QueryDef(
    "x43_hashed_doc_vectors",
    "feature-hashed tf-idf doc vectors: 64 buckets, integer weights, L2-normalized",
    (s, d) => {
      val w = hashedWeights(s, d)
      val norm = w.groupBy("doc_id")
        .agg(sum(col("wsum") * col("wsum")).as("ss"))
      w.join(norm, Seq("doc_id"))
        .select(col("doc_id"), col("bucket"), col("wsum"),
          (col("wsum").cast("double") / sqrt(col("ss").cast("double")))
            .as("unit_weight"))
        .orderBy("doc_id", "bucket")
    },
    Some(s"""WITH $hashedWeightsSql,
           |nrm AS (SELECT doc_id, CAST(sum(wsum * wsum) AS BIGINT) AS ss
           |        FROM w GROUP BY 1)
           |SELECT w.doc_id, w.bucket, w.wsum,
           |       CAST(w.wsum AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) AS unit_weight
           |FROM w JOIN nrm ON w.doc_id = nrm.doc_id
           |ORDER BY w.doc_id, w.bucket""".stripMargin))

  /** X44 — source-similarity map: pairwise cosine between per-source
    * CENTROID vectors in the x43 hashed feature space — the domain map
    * that drives mixture design (x16/x33 reweight by source; this says
    * which sources are distributionally interchangeable) and complements
    * x42's near-dup overlap (shared CONTENT) with distributional
    * similarity (shared VOCABULARY PROFILE).
    *
    * Scale-stable exactness: the centroid coordinate is the PER-DOC MEAN
    * integer weight (`Σ wsum div n_docs`) — bounded by the per-document
    * weight scale no matter how many documents a source has, so squares
    * and dot products stay in long range at any corpus size; cosine is
    * one dot over two portable sqrts. Source-pair space is
    * sources²-bounded (the x11 contamination argument), never
    * corpus-bounded.
    */
  val x44SourceSimilarity = QueryDef(
    "x44_source_similarity",
    "pairwise cosine of per-source centroid vectors in the hashed tf-idf space",
    (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"))
      val nSrc = src.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val cent = hashedWeights(s, d).join(src, Seq("doc_id"))
        .groupBy("source", "bucket").agg(sum(col("wsum")).as("sw"))
        .join(broadcast(nSrc), Seq("source"))
        .select(col("source"), col("bucket"),
          expr("sw div n_docs").as("mw"))
        .filter(col("mw") > 0)
      val norms = cent.groupBy("source")
        .agg(sum(col("mw") * col("mw")).as("ss"))
      cent.as("a")
        .join(cent.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(sum(col("a.mw") * col("b.mw")).as("dot"))
        .join(norms.select(col("source").as("source_a"), col("ss").as("ssa")), "source_a")
        .join(norms.select(col("source").as("source_b"), col("ss").as("ssb")), "source_b")
        .select(col("source_a"), col("source_b"), col("dot"),
          (col("dot").cast("double") /
            (sqrt(col("ssa").cast("double")) * sqrt(col("ssb").cast("double"))))
            .as("cos_sim"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""WITH $hashedWeightsSql,
           |src AS (SELECT doc_id, source FROM documents),
           |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
           |cent AS (SELECT source, bucket, (sw // n_docs) AS mw FROM
           |           (SELECT source, bucket, CAST(sum(wsum) AS BIGINT) AS sw
           |            FROM w JOIN src USING (doc_id) GROUP BY 1, 2)
           |         JOIN ns USING (source)
           |         WHERE (sw // n_docs) > 0),
           |nrm AS (SELECT source, CAST(sum(mw * mw) AS BIGINT) AS ss FROM cent GROUP BY 1),
           |p AS (SELECT a.source AS source_a, b.source AS source_b,
           |             CAST(sum(a.mw * b.mw) AS BIGINT) AS dot
           |      FROM cent a JOIN cent b
           |        ON a.bucket = b.bucket AND a.source < b.source
           |      GROUP BY 1, 2)
           |SELECT source_a, source_b, dot,
           |       CAST(dot AS DOUBLE) /
           |         (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))) AS cos_sim
           |FROM p JOIN nrm na ON source_a = na.source
           |       JOIN nrm nb ON source_b = nb.source
           |ORDER BY source_a, source_b""".stripMargin))

  /** X46 — topic clustering of the corpus in the x43 hashed tf-idf
    * space: deterministic k-means (seed assignment `doc_id % 8`, one
    * exact-integer Lloyd round — the same recipe the x9/x40 IVF build
    * uses on the embedding table, here on REAL text-derived vectors) →
    * per-topic census. This is the domain-DISCOVERY complement to x44's
    * source-similarity map: x44 asks "how similar are the labeled
    * sources", x46 asks "what unlabeled clusters does the corpus
    * actually contain" — the input to mixture design when source labels
    * are missing or unreliable (the common case for web-scale crawls).
    *
    * Determinism/portability: centroids are per-doc MEAN integer
    * weights (`Σ wsum div n_docs`, the x44 centroid — bounded by the
    * per-document weight scale at any corpus size); assignment maximizes
    * cosine via the surrogate `dot / ‖c‖` (the doc norm is common across
    * candidates) — the dot is an exact long, and the final sqrt/division
    * are correctly-rounded IEEE ops both engines evaluate identically,
    * so the ranking is bit-identical; ties break to the lowest topic id
    * in both engines. Docs sharing no bucket with any centroid keep
    * their seed topic.
    *
    * Scale posture: the centroid table is K×64 rows (broadcast); the
    * dot-product join is bucket-keyed against that broadcast, so the
    * score stream is O(docs·K) — all-pairs never happens; everything
    * else is map-combinable aggregation. The census output is K rows.
    */
  /** The x46 argmax frame (doc_id, cid, score) over the CORPUS weight
    * frame — PlanCache'd because x46 and x70 both re-derive it and the
    * centroid scoring is the most expensive stage of either (every
    * weight row fans out to the K centroids sharing its bucket: ~K× the
    * docs×64 stream). Semantics are exactly [[topicAssign]]'s argmax;
    * docs sharing no bucket with any centroid are ABSENT here — callers
    * coalesce to the seed topic `doc_id % k`.
    */
  /** The pre-argmax centroid scoring frame (doc_id, cid, dot, ss) — the
    * expensive stage of the x46 chain (every weight row fans out to the
    * K centroids sharing its bucket). PlanCache'd one level BELOW
    * [[corpusTopicBest]] so the silhouette audit (x74), which needs the
    * doc×centroid matrix rather than just the winner, reuses the same
    * scoring pass.
    */
  private def corpusTopicDots(s: SparkSession, d: String) =
    graft.PlanCache.checkpointed(s, s"x46-dots/$d") {
      val k = 8L
      val w = hashedWeights(s, d)
      val seed = docs(s, d).select(col("doc_id"),
        pmod(col("doc_id"), lit(k)).as("cid0"))
      val (cent, cnorm) = topicCentroids(w, seed)
      w.join(broadcast(cent), Seq("bucket"))
        .groupBy("doc_id", "cid").agg(sum(col("wsum") * col("mw")).as("dot"))
        .join(broadcast(cnorm), Seq("cid"))
    }

  private def corpusTopicBest(s: SparkSession, d: String) =
    graft.PlanCache.checkpointed(s, s"x46-best/$d") {
      val scores = corpusTopicDots(s, d)
        .withColumn("score",
          col("dot").cast("double") / sqrt(col("ss").cast("double")))
      val wBest = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cid"))
      scores.withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1).select(col("doc_id"), col("cid"), col("score"))
    }

  val x46TopicClusters = QueryDef(
    "x46_topic_clusters",
    "k-means topic census over hashed tf-idf doc vectors (1 exact Lloyd round, k=8)",
    (s, d) => {
      val k = 8L
      val dsrc = docs(s, d).select(col("doc_id"), col("source"))
      val fin = dsrc.join(corpusTopicBest(s, d), Seq("doc_id"), "left")
        .withColumn("topic", coalesce(col("cid"), pmod(col("doc_id"), lit(k))))
        .select(col("source"), col("topic"))
      val bySrc = fin.groupBy("topic", "source").agg(count(lit(1)).as("c"))
      val wm = Window.partitionBy("topic").orderBy(col("c").desc, col("source"))
      val top = bySrc.withColumn("rn", row_number().over(wm))
        .filter(col("rn") === 1)
        .select(col("topic"), col("source").as("top_source"),
          col("c").as("top_source_docs"))
      fin.groupBy("topic")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .join(top, Seq("topic"))
        .orderBy("topic")
    },
    Some(s"""WITH $hashedWeightsSql,
           |dsrc AS (SELECT doc_id, source FROM documents),
           |seed AS (SELECT doc_id, doc_id % 8 AS cid0 FROM dsrc),
           |cn AS (SELECT cid0, CAST(count(*) AS BIGINT) AS n_docs0
           |       FROM seed GROUP BY 1),
           |cent AS (SELECT cid0 AS cid, bucket, (sw // n_docs0) AS mw FROM
           |           (SELECT cid0, bucket, CAST(sum(wsum) AS BIGINT) AS sw
           |            FROM w JOIN seed USING (doc_id) GROUP BY 1, 2)
           |         JOIN cn USING (cid0)
           |         WHERE (sw // n_docs0) > 0),
           |cnorm AS (SELECT cid, CAST(sum(mw * mw) AS BIGINT) AS ss
           |          FROM cent GROUP BY 1),
           |dots AS (SELECT w.doc_id, cent.cid, CAST(sum(wsum * mw) AS BIGINT) AS dot
           |         FROM w JOIN cent USING (bucket) GROUP BY 1, 2),
           |sc AS (SELECT doc_id, cid,
           |              CAST(dot AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) AS score
           |       FROM dots JOIN cnorm USING (cid)),
           |assign AS (SELECT doc_id, cid FROM
           |            (SELECT doc_id, cid,
           |                    row_number() OVER (PARTITION BY doc_id
           |                                       ORDER BY score DESC, cid) AS rn
           |             FROM sc) WHERE rn = 1),
           |fin AS (SELECT d.source, COALESCE(a.cid, d.doc_id % 8) AS topic
           |        FROM dsrc d LEFT JOIN assign a USING (doc_id)),
           |bysrc AS (SELECT topic, source, CAST(count(*) AS BIGINT) AS c
           |          FROM fin GROUP BY 1, 2),
           |top AS (SELECT topic, source AS top_source, c AS top_source_docs FROM
           |         (SELECT *, row_number() OVER (PARTITION BY topic
           |                                       ORDER BY c DESC, source) AS rn
           |          FROM bysrc) WHERE rn = 1),
           |st AS (SELECT topic, CAST(count(*) AS BIGINT) AS n_docs,
           |              CAST(count(DISTINCT source) AS BIGINT) AS n_sources
           |       FROM fin GROUP BY 1)
           |SELECT st.topic, st.n_docs, st.n_sources,
           |       top.top_source, top.top_source_docs
           |FROM st JOIN top USING (topic) ORDER BY topic""".stripMargin))

  /** X74 — cluster-quality silhouette audit over the x46 topic
    * clustering (the centroid/"simplified" silhouette: distances are to
    * CENTROIDS, not all pairs — O(docs·K), the form that survives corpus
    * scale; classic silhouette's within-cluster pair matrix is quadratic
    * and dies at 100 TB). Per document: a = cosine distance to its own
    * topic centroid, b = min distance to any other centroid,
    * s = (b−a)/max(a,b) floored to integer basis points (per-doc doubles
    * from identical exact-long inputs, so the floor is bit-identical
    * across engines; per-cluster aggregation is then pure long
    * arithmetic). A doc sharing no bucket with a centroid scores
    * distance 1. Negative s = the doc sits closer to a foreign centroid
    * than its own — the misassignment count clustering dashboards watch.
    *
    * Shares the PlanCache'd [[corpusTopicDots]] scoring pass with
    * x46/x70 — the audit adds only the doc-norm frame and per-doc
    * min/agg on top.
    *
    * Floor-division caution: per-cluster mean uses floor(double
    * division), NOT integer DIV — the sum can be negative, where
    * Spark's DIV truncates toward zero but DuckDB's // floors.
    */
  val x74ClusterSilhouette = QueryDef(
    "x74_cluster_silhouette",
    "centroid silhouette per x46 topic: mean s in bp + misassigned-doc count",
    (s, d) => {
      val k = 8L
      val w = hashedWeights(s, d)
      val dss = hashedNorms(s, d).select(col("doc_id"), col("ss").as("dss"))
      val cosd = corpusTopicDots(s, d).join(dss, Seq("doc_id"))
        .select(col("doc_id"), col("cid"),
          (lit(1.0) - col("dot").cast("double") /
            (sqrt(col("dss").cast("double")) * sqrt(col("ss").cast("double"))))
            .as("dist"))
      val assigned = docs(s, d).select(col("doc_id"))
        .join(corpusTopicBest(s, d).select(col("doc_id"), col("cid")),
          Seq("doc_id"), "left")
        .withColumn("topic", coalesce(col("cid"), pmod(col("doc_id"), lit(k))))
        .select(col("doc_id"), col("topic"))
      val per = assigned.join(cosd, Seq("doc_id"), "left")
        .groupBy("doc_id", "topic")
        .agg(
          coalesce(min(when(col("cid") === col("topic"), col("dist"))),
            lit(1.0)).as("a"),
          coalesce(min(when(col("cid") =!= col("topic"), col("dist"))),
            lit(1.0)).as("b"))
      val sil = per.withColumn("s_bp",
        when(greatest(col("a"), col("b")) === 0.0, lit(0L))
          .otherwise(floor(lit(10000.0) * (col("b") - col("a")) /
            greatest(col("a"), col("b"))).cast("long")))
      sil.groupBy("topic")
        .agg(count(lit(1)).as("n_docs"),
          floor(sum(col("s_bp")).cast("double") / count(lit(1)))
            .cast("long").as("mean_sil_bp"),
          sum(when(col("s_bp") < 0, 1L).otherwise(0L)).as("n_negative"))
        .orderBy("topic")
    },
    Some(s"""WITH $hashedWeightsSql,
           |dsrc AS (SELECT doc_id, source FROM documents),
           |seed AS (SELECT doc_id, doc_id % 8 AS cid0 FROM dsrc),
           |cn AS (SELECT cid0, CAST(count(*) AS BIGINT) AS n_docs0
           |       FROM seed GROUP BY 1),
           |cent AS (SELECT cid0 AS cid, bucket, (sw // n_docs0) AS mw FROM
           |           (SELECT cid0, bucket, CAST(sum(wsum) AS BIGINT) AS sw
           |            FROM w JOIN seed USING (doc_id) GROUP BY 1, 2)
           |         JOIN cn USING (cid0)
           |         WHERE (sw // n_docs0) > 0),
           |cnorm AS (SELECT cid, CAST(sum(mw * mw) AS BIGINT) AS ss
           |          FROM cent GROUP BY 1),
           |dots AS (SELECT w.doc_id, cent.cid, CAST(sum(wsum * mw) AS BIGINT) AS dot
           |         FROM w JOIN cent USING (bucket) GROUP BY 1, 2),
           |dss AS (SELECT doc_id, CAST(sum(wsum * wsum) AS BIGINT) AS dss
           |        FROM w GROUP BY 1),
           |sc AS (SELECT doc_id, cid,
           |              CAST(dot AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) AS score
           |       FROM dots JOIN cnorm USING (cid)),
           |assign AS (SELECT doc_id, cid FROM
           |            (SELECT doc_id, cid,
           |                    row_number() OVER (PARTITION BY doc_id
           |                                       ORDER BY score DESC, cid) AS rn
           |             FROM sc) WHERE rn = 1),
           |tpc AS (SELECT d.doc_id, COALESCE(a.cid, d.doc_id % 8) AS topic
           |        FROM dsrc d LEFT JOIN assign a USING (doc_id)),
           |cosd AS (SELECT dots.doc_id, cid,
           |                1.0 - CAST(dot AS DOUBLE) /
           |                  (sqrt(CAST(dss AS DOUBLE)) * sqrt(CAST(ss AS DOUBLE))) AS dist
           |         FROM dots JOIN cnorm USING (cid) JOIN dss USING (doc_id)),
           |per AS (SELECT t.doc_id, t.topic,
           |               COALESCE(min(CASE WHEN c.cid = t.topic THEN c.dist END), 1.0) AS a,
           |               COALESCE(min(CASE WHEN c.cid <> t.topic THEN c.dist END), 1.0) AS b
           |        FROM tpc t LEFT JOIN cosd c USING (doc_id)
           |        GROUP BY 1, 2),
           |sil AS (SELECT topic,
           |               CASE WHEN greatest(a, b) = 0 THEN 0
           |                    ELSE CAST(floor(10000.0 * (b - a) / greatest(a, b)) AS BIGINT)
           |               END AS s_bp
           |        FROM per)
           |SELECT topic, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(floor(CAST(sum(s_bp) AS DOUBLE) / count(*)) AS BIGINT) AS mean_sil_bp,
           |       CAST(sum(CASE WHEN s_bp < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
           |FROM sil GROUP BY 1 ORDER BY topic""".stripMargin))

  /** X49 — chunk-level retrieval (the RAG-prep query): the corpus is
    * chunked with the x26 rule (32-token windows, 24-token stride), every
    * CHUNK becomes an x43 hashed tf-idf vector (idf over the chunk
    * corpus), and each query chunk retrieves its top-5 most-similar
    * chunks from OTHER documents by exact cosine. This closes the
    * retrieval loop at the granularity RAG actually serves — x6/x9
    * retrieve whole pre-embedded vectors, x49 retrieves passages derived
    * from the text surface itself.
    *
    * Chunk key: `doc_id·1000 + chunk_id` (corpus max is 100 tokens → ≤ 4
    * chunks per doc, 250× headroom). Exactness: integer dots + portable
    * sqrt/division, ties broken by chunk key — bit-identical in both
    * engines (the x44/x46 discipline).
    *
    * Scale posture: chunking is map-only fan-out; the featurizer is two
    * combinable aggs; the query weight table (queries·64 rows) joins
    * BROADCAST against the chunk weights on `bucket`, so the score
    * stream is O(chunks · queries · overlap) — all-pairs over chunks
    * never happens, and top-5 is a per-query bounded window. With many
    * queries the same plan runs through the x9 IVF index instead
    * (cluster the chunk vectors; [[graft.similarity.StreamingAnn]] is
    * the serving path).
    */
  val x49ChunkRetrieval = QueryDef(
    "x49_chunk_retrieval",
    "top-5 cross-document chunk retrieval in hashed tf-idf space (RAG prep)",
    (s, d) => {
      graft.GraftExtensions.ensure(s)
      val C = 32
      val S = 24
      val cd = docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("nc",
          when(col("n") <= C, lit(1L))
            .otherwise(expr(s"1 + (n - $C + ${S - 1}) div $S")))
        // ckey = doc_id·1000 + chunk_id aliases doc ids if a doc ever
        // yields ≥ 1000 chunks (~24k+ tokens); fail loudly instead of
        // silently corrupting the cross-doc filter / hit_doc attribution
        .withColumn("nc",
          when(col("nc") < 1000, col("nc")).otherwise(raise_error(concat(
            lit("x49 ckey overflow: doc "), col("doc_id").cast("string"),
            lit(" has "), col("nc").cast("string"),
            lit(" chunks (>= 1000); widen the ckey multiplier")))
            .cast("long")))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(expr("sequence(0L, nc - 1)")).as("chunk_id"))
        .select((col("doc_id") * 1000 + col("chunk_id")).as("ckey"),
          col("doc_id").as("src_doc"), col("chunk_id"),
          array_join(
            expr(s"slice(toks, chunk_id * $S + 1, least($C, n - chunk_id * $S))"),
            " ").as("text"))
      // chunk tf-idf weights memoized per corpus dir: the frame is read
      // twice per plan (query-side projection + corpus-side dots) and
      // its build re-tokenized + re-hashed every chunk per run — the
      // measured bulk of x49's warm cost (2.7 s → sub-second)
      val w = graft.PlanCache.checkpointed(s, s"x49-w/$d") {
        val asDocs = cd.select(col("ckey").as("doc_id"), col("text"))
        hashedWeightsOf(asDocs, idfOf(asDocs))
          .withColumnRenamed("doc_id", "ckey")
      }
      val norms = w.groupBy("ckey").agg(sum(col("wsum") * col("wsum")).as("ss"))
      // chunk 0 exists for every doc (nc ≥ 1), so the query keys derive
      // from the docs scan directly — no second chunk explode per run
      val qk = docs(s, d).filter(col("doc_id") < 4)
        .select((col("doc_id") * 1000).as("qkey"), col("doc_id").as("q_doc"))
      val wq = w.join(qk, col("ckey") === col("qkey"))
        .select(col("qkey"), col("q_doc"), col("bucket"), col("wsum").as("qw"))
      val dots = w.join(broadcast(wq), Seq("bucket"))
        .filter(expr("ckey DIV 1000 <> qkey DIV 1000"))
        .groupBy("qkey", "q_doc", "ckey")
        .agg(sum(col("wsum") * col("qw")).as("dot"))
      val scored = dots.join(norms, Seq("ckey"))
        .join(norms.select(col("ckey").as("qkey"), col("ss").as("ssq")), Seq("qkey"))
        .withColumn("cos_sim",
          col("dot").cast("double") /
            (sqrt(col("ss").cast("double")) * sqrt(col("ssq").cast("double"))))
      val wr = Window.partitionBy("qkey").orderBy(col("cos_sim").desc, col("ckey"))
      scored.withColumn("rk", row_number().over(wr).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("q_doc"), col("rk"),
          expr("ckey DIV 1000").as("hit_doc"),
          expr("ckey % 1000").as("hit_chunk"), col("cos_sim"))
        .orderBy("q_doc", "rk")
    },
    Some(s"""WITH t0 AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           |  FROM documents),
           |c0 AS (
           |  SELECT doc_id, toks, n,
           |         CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 23) // 24 END AS nc
           |  FROM t0),
           |cd AS (
           |  SELECT doc_id * 1000 + i AS doc_id, doc_id AS src_doc,
           |         CAST(i AS BIGINT) AS chunk_id,
           |         array_to_string(
           |           list_slice(toks, i * 24 + 1, i * 24 + least(32, n - i * 24)),
           |           ' ') AS text
           |  FROM c0, UNNEST(generate_series(0, nc - 1)) AS u(i)),
           |${hashedWeightsSql.replace("FROM documents", "FROM cd")},
           |nrm AS (SELECT doc_id, CAST(sum(wsum * wsum) AS BIGINT) AS ss
           |        FROM w GROUP BY 1),
           |qk AS (SELECT doc_id AS qkey, src_doc AS q_doc FROM cd
           |       WHERE chunk_id = 0 AND src_doc < 4),
           |wq AS (SELECT qkey, q_doc, bucket, wsum AS qw
           |       FROM w JOIN qk ON w.doc_id = qk.qkey),
           |dots AS (SELECT qkey, q_doc, w.doc_id AS ckey,
           |                CAST(sum(wsum * qw) AS BIGINT) AS dot
           |         FROM w JOIN wq USING (bucket)
           |         WHERE w.doc_id // 1000 <> qkey // 1000
           |         GROUP BY 1, 2, 3),
           |sc AS (SELECT qkey, q_doc, ckey,
           |              CAST(dot AS DOUBLE) /
           |                (sqrt(CAST(n1.ss AS DOUBLE)) * sqrt(CAST(n2.ss AS DOUBLE))) AS cos_sim
           |       FROM dots JOIN nrm n1 ON ckey = n1.doc_id
           |                 JOIN nrm n2 ON qkey = n2.doc_id)
           |SELECT q_doc, CAST(rk AS BIGINT) AS rk,
           |       ckey // 1000 AS hit_doc, ckey % 1000 AS hit_chunk, cos_sim
           |FROM (SELECT *, row_number() OVER (PARTITION BY qkey
           |                                   ORDER BY cos_sim DESC, ckey) AS rk
           |      FROM sc)
           |WHERE rk <= 5 ORDER BY q_doc, rk""".stripMargin))

  /** The x56 lexical leg: exact fixed-point BM25 scores for every
    * (query, candidate-doc) pair sharing at least one query term.
    * Shared by x56 (ranked directly) and x57 (fused with the dense leg).
    *
    * Okapi BM25 with k1=1.2, b=0.75 carried as exact integer rationals
    * (thousandths for the length normalization, 1e-6 fixed point for the
    * saturated tf component); idf is the x43 integer floor-log2
    * convention `bitlen(16·N/df)−1`. Every operation is integer
    * multiply/divide with truncation identical in both engines, so
    * scores — and therefore ranks — are bit-stable on any cluster
    * layout. The one libm-free deviation from textbook BM25 (floor-log2
    * idf instead of ln) preserves the ranking structure: idf is still
    * monotone-decreasing in df.
    *
    * Scale posture: the (doc, term) tf table is the only corpus-sized
    * frame ([[graft.PlanCache]]'d — x56 and x57 both read it); the query
    * term table (|Q|·32 rows) joins BROADCAST against it, so candidate
    * volume is O(docs · matched query terms) — the inverted-index access
    * path, never corpus × queries; idf then joins on the already
    * query-pruned term stream (AQE broadcasts it). Top-k is a per-query
    * bounded window.
    */
  /** Query-independent BM25 corpus statistics — (tf, dl, nt, idf) as
    * pure un-persisted plans, so batch callers can PlanCache them and
    * the streaming server ([[graft.streaming.StreamingRetrieval]]) can
    * persist its own TTL-pinned snapshot.
    */
  private[graft] def bm25Corpus(s: SparkSession, d: String,
      cached: Boolean = true) =
    bm25CorpusOf(s, docs(s, d),
      if (cached) Some(s"x56-tf/$d") else None)

  /** [[bm25Corpus]] over an arbitrary `(doc_id, text)` frame — the x65
    * eval path indexes an AUGMENTED corpus (documents ∪ planted
    * perturbations) through the identical statistics.
    */
  private[graft] def bm25CorpusOf(s: SparkSession,
      corpus: org.apache.spark.sql.DataFrame, cacheKey: Option[String]) = {
    val tfPlan = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tf = cacheKey
      .map(k => graft.PlanCache.checkpointed(s, k)(tfPlan)).getOrElse(tfPlan)
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val nt = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_toks"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nt.select("n_docs")))
      .select(col("term"),
        (length(bin(expr("(n_docs * 16) div df"))) - 1).cast("long").as("idf"))
    (tf, dl, nt, idf)
  }

  /** Extract the query term frame `(q_doc, term)` from a `(q_doc, text)`
    * frame by the x49/x56 convention: first 32 tokens, distinct.
    */
  private[graft] def queryTerms(q: org.apache.spark.sql.DataFrame) =
    q.select(col("q_doc"),
      explode(expr("slice(split(text, ' '), 1, 32)")).as("term"))
      .distinct()

  /** BM25 scores of a query term frame against prebuilt corpus stats —
    * (q_doc, hit_doc, score_fp). A candidate equal to its own query id
    * is excluded (self-retrieval guard; external query ids simply never
    * collide).
    */
  private[graft] def bm25Against(
      tf: org.apache.spark.sql.DataFrame, dl: org.apache.spark.sql.DataFrame,
      nt: org.apache.spark.sql.DataFrame, idf: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame) =
    tf.join(broadcast(q), Seq("term"))
      .filter(col("doc_id") =!= col("q_doc"))
      .join(idf, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(nt))
      .withColumn("score_t", col("idf") * expr(
        "(tf * 2200 * 1000000) div (tf * 1000 + " +
          "(1200 * (250 + (750 * ((dl * 1000000) div " +
          "((total_toks * 1000) div n_docs))) div 1000)) div 1000)"))
      .groupBy(col("q_doc"), col("doc_id").as("hit_doc"))
      .agg(sum(col("score_t")).as("score_fp"))

  private[graft] def bm25Scores(s: SparkSession, d: String) = {
    val (tf, dl, nt, idf) = bm25Corpus(s, d)
    val q = queryTerms(docs(s, d).filter(col("doc_id") < 4)
      .select(col("doc_id").as("q_doc"), col("text")))
    bm25Against(tf, dl, nt, idf, q)
  }

  /** DuckDB CTEs b* replicating [[bm25Scores]] → `bsc(q_doc, hit_doc,
    * score_fp)`. Names are b-prefixed so the block composes with
    * [[hashedWeightsSql]]'s t/nd/idf/tf/w in one query (x57).
    */
  /** The b* CTE block parameterized by the corpus CTE/table the token
    * stream reads from (queries always come from `documents`). */
  private def bm25SqlOver(corpus: String) =
    s"""btoks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $corpus),
      |btf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |        FROM btoks GROUP BY 1, 2),
      |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY 1),
      |bnt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |               CAST(sum(dl) AS BIGINT) AS total_toks FROM bdl),
      |bidf AS (SELECT term, CAST(len(bin((n_docs * 16) // df)) - 1 AS BIGINT) AS idf
      |         FROM (SELECT term, CAST(count(*) AS BIGINT) AS df
      |               FROM btf GROUP BY 1) CROSS JOIN bnt),
      |bq AS (SELECT DISTINCT doc_id AS q_doc, unnest(t[1:32]) AS term
      |       FROM (SELECT doc_id, string_split(text, ' ') AS t
      |             FROM documents WHERE doc_id < 4)),
      |bsc AS (
      |  SELECT q.q_doc, f.doc_id AS hit_doc,
      |         CAST(sum(i.idf * ((f.tf * 2200 * 1000000) //
      |           (f.tf * 1000 + (1200 * (250 + (750 * ((l.dl * 1000000) //
      |             ((n.total_toks * 1000) // n.n_docs))) // 1000)) // 1000)))
      |           AS BIGINT) AS score_fp
      |  FROM btf f JOIN bq q USING (term) JOIN bidf i ON f.term = i.term
      |       JOIN bdl l ON f.doc_id = l.doc_id CROSS JOIN bnt n
      |  WHERE f.doc_id <> q.q_doc
      |  GROUP BY 1, 2)""".stripMargin

  private val bm25Sql = bm25SqlOver("documents")

  /** X65 — retrieval-quality evaluation (the IR-metrics layer): plant a
    * DROPOUT LADDER of each query doc into the corpus (every 6th / 3rd /
    * 2nd token removed — x48's mutation-ladder discipline pointed at
    * ranking instead of dedup), re-index the augmented corpus through
    * the SAME BM25 statistics ([[bm25CorpusOf]]), and report where each
    * planted relevant RANKS and its score as basis points of the
    * query's top hit. This is the eval harness a retrieval stack ships
    * with: x39 measures ANN recall, x48 measures dedup-detector recall,
    * x65 measures RANKING quality against known-relevant documents.
    *
    * The honest finding is part of the operator's value: on this
    * common-word synthetic corpus even the 1-in-6 dropout copy ranks
    * ~7th (score within 7% of the top hit — Zipfian soup gives longer
    * docs tf advantages), so a top-5 recall metric would read 0/12; the
    * oracle-pinned signal is the LADDER — rank degrades and score_bp
    * falls with perturbation depth (strictly monotone for 3 of the 4
    * queries at sf0.01; the q1 inversion is dropout phase interacting
    * with WHICH query terms survive — itself the kind of fact an eval
    * surfaces before anyone ships a "retrieval works" claim on
    * corpus-specific thresholds).
    *
    * Scale: the augmentation is O(queries·levels) extra docs; indexing
    * and scoring reuse the production BM25 path unchanged (inverted
    * index equi-join, never corpus×corpus); truth attachment is an
    * O(queries·levels) left join; the full-rank window is x56's
    * candidate partition (docs sharing ≥1 query term), same posture.
    */
  val x65RetrievalEval = QueryDef(
    "x65_retrieval_eval",
    "IR eval: planted dropout ladder ranked by BM25 -> rank + score ladder per level",
    (s, d) => {
      val base = docs(s, d)
      val qdocs = base.filter(col("doc_id") < 4)
        .select(col("doc_id"), col("text"))
      val levels = array(lit(6L), lit(3L), lit(2L))
      val planted = qdocs
        .select(col("doc_id"), col("text"), explode(levels).as("k"))
        .select((lit(200000L) + col("doc_id") * 10 + col("k")).as("doc_id"),
          array_join(filter(split(col("text"), " "),
            (_, i) => ((i + lit(1)) % col("k")) =!= 0), " ").as("text"))
      val augmented = base.select(col("doc_id"), col("text"))
        .unionByName(planted)
      val (tf, dl, nt, idf) =
        bm25CorpusOf(s, augmented, Some(s"x65-tf/$d"))
      val scored = graft.PlanCache.checkpointed(s, s"x65-scored/$d") {
        bm25Against(tf, dl, nt, idf,
          queryTerms(qdocs.select(col("doc_id").as("q_doc"), col("text"))))
      }
      val ranked = scored
        .withColumn("rk", row_number().over(Window.partitionBy("q_doc")
          .orderBy(col("score_fp").desc, col("hit_doc"))).cast("long"))
      val top = scored.groupBy("q_doc")
        .agg(max(col("score_fp")).as("top_score_fp"))
      val rel = qdocs
        .select(col("doc_id").as("q_doc"), explode(levels).as("level"))
        .withColumn("rel_id",
          lit(200000L) + col("q_doc") * 10 + col("level"))
      rel
        .join(ranked.select(col("q_doc"), col("hit_doc").as("rel_id"),
          col("rk"), col("score_fp").as("rel_score_fp")),
          Seq("q_doc", "rel_id"), "left")
        .join(broadcast(top), Seq("q_doc"))
        .withColumn("rel_rank", coalesce(col("rk"), lit(0L)))
        .withColumn("rel_score_fp", coalesce(col("rel_score_fp"), lit(0L)))
        .withColumn("score_bp",
          expr("rel_score_fp * 10000 DIV top_score_fp"))
        .select("q_doc", "level", "rel_id", "rel_rank", "rel_score_fp",
          "top_score_fp", "score_bp")
        .orderBy("q_doc", "level")
    },
    Some(s"""WITH bdocs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT 200000 + doc_id * 10 + k,
           |         array_to_string(list_filter(string_split(text, ' '),
           |           (x, i) -> i % k != 0), ' ')
           |  FROM documents, UNNEST([6, 3, 2]) AS u(k) WHERE doc_id < 4),
           |${bm25SqlOver("bdocs")},
           |rtop AS (SELECT q_doc, hit_doc, CAST(rk AS BIGINT) AS rk,
           |                score_fp
           |         FROM (SELECT *, row_number() OVER (PARTITION BY q_doc
           |                 ORDER BY score_fp DESC, hit_doc) AS rk FROM bsc)),
           |btop AS (SELECT q_doc, CAST(max(score_fp) AS BIGINT)
           |                  AS top_score_fp
           |         FROM bsc GROUP BY 1),
           |rel AS (SELECT doc_id AS q_doc, CAST(k AS BIGINT) AS level,
           |               CAST(200000 + doc_id * 10 + k AS BIGINT) AS rel_id
           |        FROM documents, UNNEST([6, 3, 2]) AS u(k)
           |        WHERE doc_id < 4)
           |SELECT r.q_doc, r.level, r.rel_id,
           |       coalesce(t.rk, 0) AS rel_rank,
           |       CAST(coalesce(t.score_fp, 0) AS BIGINT) AS rel_score_fp,
           |       b.top_score_fp,
           |       coalesce(t.score_fp, 0) * 10000 // b.top_score_fp
           |         AS score_bp
           |FROM rel r
           |LEFT JOIN rtop t ON t.q_doc = r.q_doc AND t.hit_doc = r.rel_id
           |JOIN btop b ON b.q_doc = r.q_doc
           |ORDER BY r.q_doc, r.level""".stripMargin))

  /** X56 — BM25 document retrieval: the LEXICAL retrieval leg the suite's
    * RAG surface lacks — x49/x54 retrieve in vector spaces (hashed
    * tf-idf, PQ codes), but production search stacks pair a dense leg
    * with an exact-term BM25 leg precisely because embeddings miss rare
    * literal identifiers (error codes, names, API symbols) that BM25's
    * idf-weighted exact match nails. Queries are the x49 convention (the
    * first 32 tokens of docs 0–3, distinct terms); candidates are scored
    * over WHOLE documents with per-doc length normalization; top-5 per
    * query. All-integer scoring: see [[bm25Scores]].
    */
  val x56Bm25Retrieval = QueryDef(
    "x56_bm25_retrieval",
    "top-5 BM25 document retrieval (exact fixed-point Okapi scoring)",
    (s, d) => {
      val wr = Window.partitionBy("q_doc")
        .orderBy(col("score_fp").desc, col("hit_doc"))
      bm25Scores(s, d)
        .withColumn("rk", row_number().over(wr).cast("long"))
        .filter(col("rk") <= 5)
        .withColumn("score", col("score_fp").cast("double") / 1e6)
        .select("q_doc", "rk", "hit_doc", "score_fp", "score")
        .orderBy("q_doc", "rk")
    },
    Some(s"""WITH $bm25Sql
           |SELECT q_doc, CAST(rk AS BIGINT) AS rk, hit_doc, score_fp,
           |       CAST(score_fp AS DOUBLE) / 1e6 AS score
           |FROM (SELECT *, row_number() OVER (PARTITION BY q_doc
           |                                   ORDER BY score_fp DESC, hit_doc) AS rk
           |      FROM bsc)
           |WHERE rk <= 5 ORDER BY q_doc, rk""".stripMargin))

  /** The x57 dense leg: whole-doc hashed tf-idf cosine (x43's vector
    * space) for the same doc_id<4 query set — (q_doc, hit_doc, cos_sim).
    * Query vectors and query norms broadcast; candidates come from the
    * bucket join, never corpus×corpus.
    */
  /** Dense cosine scores of a query weight frame `(q_doc, bucket, qw)`
    * against prebuilt corpus vectors — (q_doc, hit_doc, cos_sim). Query
    * norms derive from the query weights themselves, so external query
    * text (the streaming path) and corpus-member queries (the batch
    * path) go through the identical expression.
    */
  private[graft] def denseAgainst(w: org.apache.spark.sql.DataFrame,
      norms: org.apache.spark.sql.DataFrame,
      wq: org.apache.spark.sql.DataFrame) = {
    val qn = wq.groupBy("q_doc").agg(sum(col("qw") * col("qw")).as("ssq"))
    w.join(broadcast(wq), Seq("bucket"))
      .filter(col("doc_id") =!= col("q_doc"))
      .groupBy("q_doc", "doc_id").agg(sum(col("wsum") * col("qw")).as("dot"))
      .join(norms, Seq("doc_id"))
      .join(broadcast(qn), Seq("q_doc"))
      .withColumn("cos_sim", col("dot").cast("double") /
        (sqrt(col("ss").cast("double")) * sqrt(col("ssq").cast("double"))))
      .withColumnRenamed("doc_id", "hit_doc")
      .select("q_doc", "hit_doc", "cos_sim")
  }

  private[graft] def denseCosineScores(s: SparkSession, d: String) = {
    graft.GraftExtensions.ensure(s)
    val w = hashedWeights(s, d)
    val norms = hashedNorms(s, d)
    val wq = w.filter(col("doc_id") < 4)
      .select(col("doc_id").as("q_doc"), col("bucket"), col("wsum").as("qw"))
    denseAgainst(w, norms, wq)
  }

  /** Reciprocal-rank fusion of a lexical score frame `(q_doc, hit_doc,
    * score_fp)` and a dense score frame `(q_doc, hit_doc, cos_sim)`:
    * top-20 per leg, exact-integer `1000000 div (60+rank)` contributions,
    * fused top-5 — (q_doc, rk, hit_doc, rrf_fp, n_legs). Shared by the
    * batch x57 and the streaming server.
    */
  private[graft] def fuseRrf(lexScores: org.apache.spark.sql.DataFrame,
      denseScores: org.apache.spark.sql.DataFrame) = {
    val wLex = Window.partitionBy("q_doc")
      .orderBy(col("score_fp").desc, col("hit_doc"))
    val wDen = Window.partitionBy("q_doc")
      .orderBy(col("cos_sim").desc, col("hit_doc"))
    val lex = lexScores
      .withColumn("rk", row_number().over(wLex)).filter(col("rk") <= 20)
      .select(col("q_doc"), col("hit_doc"),
        expr("1000000 div (60 + rk)").as("contrib"))
    val den = denseScores
      .withColumn("rk", row_number().over(wDen)).filter(col("rk") <= 20)
      .select(col("q_doc"), col("hit_doc"),
        expr("1000000 div (60 + rk)").as("contrib"))
    val wF = Window.partitionBy("q_doc")
      .orderBy(col("rrf_fp").desc, col("hit_doc"))
    lex.union(den)
      .groupBy("q_doc", "hit_doc")
      .agg(sum(col("contrib")).as("rrf_fp"), count(lit(1)).as("n_legs"))
      .withColumn("rk", row_number().over(wF).cast("long"))
      .filter(col("rk") <= 5)
      .select("q_doc", "rk", "hit_doc", "rrf_fp", "n_legs")
  }

  /** X57 — hybrid retrieval with reciprocal-rank fusion: the production
    * search-stack recipe (Cormack et al. 2009 RRF; the default fusion in
    * OpenSearch/Elasticsearch hybrid query and every RAG framework) —
    * run the SAME queries down the lexical leg (x56 BM25) and the dense
    * leg (x43 hashed tf-idf cosine over whole docs), keep each leg's
    * top-20, and fuse by `Σ 1/(60 + rank)` carried as exact integers
    * (`1000000 div (60+rk)`), re-ranking by fused score. A doc surfaced
    * by both legs (`n_legs = 2`) outranks single-leg hits of similar
    * depth — the complementarity hybrid search exists for.
    *
    * Scale posture: each leg is its own bounded-candidate pipeline (the
    * BM25 inverted-index path and the bucket-join cosine path — both
    * broadcast the query side, never corpus×corpus); fusion touches only
    * 2 legs × top-20 × |Q| rows. Ranks, not scores, cross the fusion
    * boundary, so the legs' different score scales never need
    * calibration — RRF's defining property.
    */
  val x57HybridRrf = QueryDef(
    "x57_hybrid_rrf",
    "hybrid BM25 + hashed-cosine retrieval fused by reciprocal-rank (top-5)",
    (s, d) => fuseRrf(bm25Scores(s, d), denseCosineScores(s, d))
      .orderBy("q_doc", "rk"),
    Some(s"""WITH $bm25Sql,
           |$hashedWeightsSql,
           |nrm AS (SELECT doc_id, CAST(sum(wsum * wsum) AS BIGINT) AS ss
           |        FROM w GROUP BY 1),
           |dq AS (SELECT doc_id AS q_doc, bucket, wsum AS qw
           |       FROM w WHERE doc_id < 4),
           |ddots AS (SELECT dq.q_doc, w.doc_id AS hit_doc,
           |                 CAST(sum(w.wsum * dq.qw) AS BIGINT) AS dot
           |          FROM w JOIN dq USING (bucket)
           |          WHERE w.doc_id <> dq.q_doc GROUP BY 1, 2),
           |dsc AS (SELECT q_doc, hit_doc,
           |               CAST(dot AS DOUBLE) /
           |                 (sqrt(CAST(n1.ss AS DOUBLE)) * sqrt(CAST(n2.ss AS DOUBLE))) AS cos_sim
           |        FROM ddots JOIN nrm n1 ON hit_doc = n1.doc_id
           |                   JOIN nrm n2 ON q_doc = n2.doc_id),
           |lexr AS (SELECT q_doc, hit_doc, 1000000 // (60 + rk) AS contrib
           |         FROM (SELECT q_doc, hit_doc,
           |                      row_number() OVER (PARTITION BY q_doc
           |                                         ORDER BY score_fp DESC, hit_doc) AS rk
           |               FROM bsc) WHERE rk <= 20),
           |denr AS (SELECT q_doc, hit_doc, 1000000 // (60 + rk) AS contrib
           |         FROM (SELECT q_doc, hit_doc,
           |                      row_number() OVER (PARTITION BY q_doc
           |                                         ORDER BY cos_sim DESC, hit_doc) AS rk
           |               FROM dsc) WHERE rk <= 20),
           |fused AS (SELECT q_doc, hit_doc, CAST(sum(contrib) AS BIGINT) AS rrf_fp,
           |                 CAST(count(*) AS BIGINT) AS n_legs
           |          FROM (SELECT * FROM lexr UNION ALL SELECT * FROM denr)
           |          GROUP BY 1, 2)
           |SELECT q_doc, CAST(rk AS BIGINT) AS rk, hit_doc, rrf_fp, n_legs
           |FROM (SELECT *, row_number() OVER (PARTITION BY q_doc
           |                                   ORDER BY rrf_fp DESC, hit_doc) AS rk
           |      FROM fused)
           |WHERE rk <= 5 ORDER BY q_doc, rk""".stripMargin))

  /** X60 — DoReMi-shaped domain-mixture reweighting (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"): per training domain (= source), run T=5 rounds of
    * multiplicative-weights updates that upweight domains with EXCESS
    * loss over the reference — `αₜ₊₁(d) ∝ αₜ(d)·(1 + η·excesŝ(d))` —
    * then emit the final mixture and each domain's token budget. The
    * published recipe derives excess loss from proxy-vs-reference model
    * training; the engine's contribution is the pipeline surface, with
    * the x45 bigram-LM mean surprisal standing in as the proxy loss and
    * the corpus-wide mean as the reference (a domain whose text is
    * systematically less predictable than the corpus average gets
    * upweighted — Group-DRO's worst-case-domain pressure).
    *
    * Exactness: the whole recurrence is integer — excess in 1e-6
    * fixed-point, normalized against the max excess (`greatest(·,1)`
    * guards the all-uniform corpus), update factor `1e6 + η·exn div 1e6`
    * with η = 0.1 in ppm, renormalization to Σα ≈ 1e6 by integer
    * division each round. Truncation is deterministic and identical in
    * both engines, so the 5-round mixture is bit-stable.
    *
    * Scale posture: the corpus-sized work is the ONE x45 surprisal pass
    * (shared stage); everything after is domain-count-sized (a mixture
    * has tens of domains at any corpus size) — 5 unrolled tiny
    * join/agg rounds, broadcast scalars, no iteration over data.
    */
  val x60DoremiMixture = QueryDef(
    "x60_doremi_mixture",
    "DoReMi multiplicative-weights domain mixture from excess bigram surprisal (5 exact rounds)",
    (s, d) => {
      // the ONE corpus-scale stage, cached: the 5-round recurrence below
      // references its lineage once per agg/crossJoin per round — left
      // uncached, the surprisal pass re-executes ~2^rounds times
      // (measured 108 s at sf0.1; 1.4 s cached)
      val perDoc = graft.PlanCache.checkpointed(s, s"x45-perdoc/$d") {
        bigramDocSurprisal(s, d)
      }
      val perSrc = perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        expr("sum(mean6) div count(1)").as("src_mean6"))
      val glob = perDoc.agg(expr("sum(mean6) div count(1)").as("glob6"))
      val ex = perSrc.crossJoin(broadcast(glob))
        .withColumn("excess6", greatest(col("src_mean6") - col("glob6"), lit(0L)))
      val mx = ex.agg(greatest(max(col("excess6")), lit(1L)).as("mx"))
      val ns = ex.agg(count(lit(1)).as("ns"))
      // domain-count-sized from here on; truncating each round keeps the
      // recurrence constant-depth (the x53 discipline). The last round is
      // held per dir, so PlanCache.clear frees it.
      val a = graft.PlanCache.memoized(s, s"x60-mix/$d") {
        var mix = graft.PlanCache.truncate(
          ex.crossJoin(broadcast(mx)).crossJoin(broadcast(ns))
            .withColumn("exn", expr("(excess6 * 1000000) div mx"))
            .withColumn("alpha", expr("1000000L div ns"))
            .select("source", "n_docs", "src_mean6", "excess6", "exn", "alpha"))
        for (_ <- 1 to 5) {
          val up = mix.withColumn("ua",
            expr("(alpha * (1000000 + (100000 * exn) div 1000000)) div 1000000"))
          val tot = up.agg(sum(col("ua")).as("ta"))
          val next = graft.PlanCache.truncate(up.crossJoin(broadcast(tot))
            .withColumn("alpha", expr("(ua * 1000000) div ta"))
            .select("source", "n_docs", "src_mean6", "excess6", "exn", "alpha"))
          graft.PlanCache.release(mix)
          mix = next
        }
        mix
      }
      val tk = docs(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("source").agg(sum(col("nt")).as("n_tokens"))
        .join(a.select("source"), Seq("source"))
      val tt = tk.agg(sum(col("n_tokens")).as("tt"))
      a.join(tk, Seq("source")).crossJoin(broadcast(tt))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("src_mean6"), col("excess6"),
          col("alpha").as("alpha_ppm"),
          expr("(alpha * tt) div 1000000").as("token_budget"))
        .orderBy("source")
    },
    Some {
      val round = (t: Int) =>
        s"""u$t AS (SELECT *,
           |        CAST((alpha * (1000000 + (100000 * exn) // 1000000)) // 1000000
           |             AS BIGINT) AS ua
           |        FROM a${t - 1}),
           |a$t AS (SELECT source, n_docs, src_mean6, excess6, exn,
           |        CAST((ua * 1000000) // (SELECT sum(ua) FROM u$t) AS BIGINT) AS alpha
           |        FROM u$t)""".stripMargin
      s"""WITH $bigramDocSurprisalSql,
         |src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(mean6) // count(*) AS BIGINT) AS src_mean6
         |        FROM m GROUP BY 1),
         |gl AS (SELECT CAST(sum(mean6) // count(*) AS BIGINT) AS glob6 FROM m),
         |ex AS (SELECT source, n_docs, src_mean6,
         |              greatest(src_mean6 - glob6, 0) AS excess6
         |       FROM src CROSS JOIN gl),
         |mxx AS (SELECT greatest(max(excess6), 1) AS mx FROM ex),
         |nss AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM ex),
         |a0 AS (SELECT source, n_docs, src_mean6, excess6,
         |              CAST((excess6 * 1000000) // mx AS BIGINT) AS exn,
         |              CAST(1000000 // ns AS BIGINT) AS alpha
         |       FROM ex CROSS JOIN mxx CROSS JOIN nss),
         |${(1 to 5).map(round).mkString(",\n")},
         |tk AS (SELECT t.source, t.n_tokens
         |       FROM (SELECT source,
         |                    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |             FROM documents GROUP BY 1) t
         |       JOIN src USING (source)),
         |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM tk)
         |SELECT a5.source, n_docs, n_tokens, src_mean6, excess6,
         |       alpha AS alpha_ppm,
         |       CAST((alpha * tt) // 1000000 AS BIGINT) AS token_budget
         |FROM a5 JOIN tk USING (source) CROSS JOIN tt
         |ORDER BY source""".stripMargin
    })

  /** Hard-negative mining core over any `(doc_id, text, source)` frame:
    * for each anchor (rows passing `anchorPred`), the top-`k` most
    * cosine-similar documents FROM OTHER SOURCES in the x43 hashed
    * tf-idf space, with candidates at `cos_sim ≥ maxCos` EXCLUDED —
    * near-duplicates of the anchor are false negatives for contrastive
    * training (they'd teach the encoder to push paraphrases apart), so
    * the miner returns near-misses, not copies (SimCSE/DPR hygiene).
    *
    * Scale posture (both halves soak-derived, r14):
    *  - The anchor CAP (`maxAnchors`, smallest ids first) makes
    *    "bounded mini-batch" a PLAN property, not a doc-string hope —
    *    uncapped, anchors grow with the corpus and the dot stage is
    *    anchors × docs: the 10× soak OOM'd exactly there.
    *  - The x6 brute shape + a bounded top-k AGGREGATE: per-doc dense
    *    64-long vectors (one combinable agg over the weight frame),
    *    anchors broadcast, dots map-side over zip_with — and the
    *    per-anchor top-k is [[graft.functions.TopKTerms]] (rank =
    *    order-preserving cos bits, term = zero-padded doc id), so each
    *    map task reduces to ≤ k rows per anchor BEFORE the shuffle.
    *    The first form shuffled the whole (anchor, doc, bucket) stream
    *    into a 100M-group agg (128M shuffle records, 1.2 GB spill at
    *    10×); this one moves O(anchors · k) per task.
    */
  private[graft] def hardNegativesOf(frame: org.apache.spark.sql.DataFrame,
      anchorPred: Column, k: Int, maxCos: Double,
      weights: Option[org.apache.spark.sql.DataFrame] = None,
      maxAnchors: Int = 200,
      vecsCacheKey: Option[String] = None) = {
    val s = frame.sparkSession
    import s.implicits._
    import graft.functions.{KeyedTermRow, TopKTerms}
    graft.GraftExtensions.ensure(s)
    val w = weights.getOrElse(hashedWeightsOf(frame.select("doc_id", "text"),
      idfOf(frame.select("doc_id", "text"))))
    val src = frame.select(col("doc_id"), col("source"))
    // dense per-doc vector + squared norm: docs-sized, one combinable
    // agg — memoized when the caller supplies a key (the frame is read
    // by both the anchor build and the pair scan)
    // repartitioned to the session's parallelism INSIDE the (memoized)
    // build: the groupBy's post-AQE coalesce leaves the docs-sized vector
    // frame in a handful of partitions, and the anchors × docs scoring
    // stage below inherits them — measured 7 tasks on 32 cores, i.e. the
    // codegen dot loop ran ~4-wide. Round-robin on ≤ docs rows is a
    // trivial one-time cost next to a 25/32-idle scoring stage.
    def vecsPlan = w.groupBy("doc_id")
      .agg(collect_list(struct(col("bucket"), col("wsum"))).as("bw"),
        sum(col("wsum") * col("wsum")).as("ss"))
      .withColumn("arr", expr(
        "transform(sequence(0L, 63L), b -> " +
          "coalesce(element_at(map_from_entries(bw), b), 0L))"))
      .drop("bw")
      .join(src, Seq("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
    val vecs = vecsCacheKey
      .map(key => graft.PlanCache.checkpointed(s, key)(vecsPlan))
      .getOrElse(vecsPlan)
    val anchors = vecs.join(
        src.filter(anchorPred).orderBy(col("doc_id")).limit(maxAnchors)
          .select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("q_doc"), col("source").as("q_src"),
        col("arr").as("qarr"), col("ss").as("ssq"))
    val scored = vecs.crossJoin(broadcast(anchors))
      .filter(col("source") =!= col("q_src"))
      // graft_dot_long: ONE codegen'd loop per pair — the zip_with/
      // aggregate lambda form is CodegenFallback (the t29 lesson) and an
      // unrolled element_at tree gets re-inlined per consumer; a native
      // expression is evaluated once and stays in whole-stage codegen
      .withColumn("dot", call_function("graft_dot_long",
        col("arr"), col("qarr")))
      // dot > 0 mirrors the oracle's candidate set: its bucket equi-join
      // only ever yields pairs sharing ≥1 bucket (weights are positive,
      // so shared bucket ⇔ dot > 0), while the cross join here scores
      // zero-overlap pairs at cos 0 — on a sparse-vocabulary corpus those
      // could fill top-k slots the oracle never produces
      .filter(col("dot") > 0)
      .withColumn("cos_sim", col("dot").cast("double") /
        (sqrt(col("ss").cast("double")) * sqrt(col("ssq").cast("double"))))
      .filter(col("cos_sim") < maxCos)
    // per-anchor bounded top-k: rank by order-preserving bits of cos
    // (exact ties stay exact — identical doubles ⇒ identical bits),
    // zero-padded id term makes the ASC tie-break numeric
    val top = scored.select(
        col("q_doc").cast("string").as("g"),
        call_function("graft_sortable_bits", col("cos_sim")).as("rank"),
        lpad(col("doc_id").cast("string"), 19, "0").as("term"),
        col("doc_id").as("v1"),
        call_function("graft_sortable_bits", col("cos_sim")).as("v2"))
      .as[KeyedTermRow]
      .groupByKey(_.g)
      .agg(new TopKTerms(k).toColumn.name("top"))
      .flatMap { case (g, t) =>
        t.rows.zipWithIndex.map { case (r, i) =>
          (g.toLong, (i + 1).toLong, r.v1,
            graft.streaming.QuantileMonitor.invertSortable(r.v2))
        }
      }
      .toDF("q_doc", "rk", "neg_doc", "cos_sim")
    src.select(col("doc_id").as("neg_doc"), col("source").as("neg_source"))
      .join(broadcast(top), Seq("neg_doc"))
      .select(col("q_doc"), col("rk"), col("neg_doc"), col("neg_source"),
        col("cos_sim"))
      .orderBy("q_doc", "rk")
  }

  /** X67 — contrastive hard-negative mining: the first 200 of every-25th
    * documents are anchors (the cap keeps the mining batch bounded at ANY
    * corpus size); negatives are the top-3 most-similar CROSS-SOURCE
    * documents below the near-dup bar (cos < 0.95). The missing half of
    * the embedding-training data path: x49 mines positives (chunks of
    * the same document), x40/x5 REMOVE near-dups — this turns the same
    * similarity machinery into the near-miss pairs a contrastive
    * encoder actually trains on.
    */
  val x67HardNegatives = QueryDef(
    "x67_hard_negatives",
    "contrastive hard negatives: top-3 cross-source near-misses per anchor (near-dups excluded)",
    (s, d) => {
      graft.GraftExtensions.ensure(s)
      hardNegativesOf(docs(s, d), pmod(col("doc_id"), lit(25)) === 0,
        k = 3, maxCos = 0.95, weights = Some(hashedWeights(s, d)),
        vecsCacheKey = Some(s"x67-vecs/$d"))
    },
    Some(s"""WITH $hashedWeightsSql,
           |srcm AS (SELECT doc_id, source FROM documents),
           |nrm AS (SELECT doc_id, CAST(sum(wsum * wsum) AS BIGINT) AS ss
           |        FROM w GROUP BY 1),
           |anch AS (SELECT doc_id AS q_doc, source AS q_src
           |         FROM srcm WHERE doc_id % 25 = 0
           |         ORDER BY doc_id LIMIT 200),
           |wq AS (SELECT q_doc, q_src, bucket, wsum AS qw
           |       FROM w JOIN anch ON w.doc_id = anch.q_doc),
           |dots AS (
           |  SELECT q_doc, w.doc_id AS neg_doc, s.source AS neg_source,
           |         CAST(sum(w.wsum * qw) AS BIGINT) AS dot
           |  FROM w JOIN srcm s ON w.doc_id = s.doc_id
           |       JOIN wq ON w.bucket = wq.bucket
           |  WHERE s.source <> wq.q_src
           |  GROUP BY 1, 2, 3),
           |scored AS (
           |  SELECT q_doc, neg_doc, neg_source,
           |         CAST(dot AS DOUBLE) /
           |           (sqrt(CAST(n1.ss AS DOUBLE)) * sqrt(CAST(n2.ss AS DOUBLE))) AS cos_sim
           |  FROM dots JOIN nrm n1 ON dots.neg_doc = n1.doc_id
           |            JOIN nrm n2 ON dots.q_doc = n2.doc_id),
           |kept AS (SELECT * FROM scored WHERE cos_sim < 0.95),
           |rk AS (SELECT *, CAST(row_number() OVER (
           |         PARTITION BY q_doc ORDER BY cos_sim DESC, neg_doc) AS BIGINT) AS rk
           |       FROM kept)
           |SELECT q_doc, rk, neg_doc, neg_source, cos_sim
           |FROM rk WHERE rk <= 3 ORDER BY q_doc, rk""".stripMargin))

  /** Adjacent (prev, cur) pairs of `assigned` (doc_id, topic, …) under
    * the total order `sortCols` (which must be a total order — include a
    * unique tiebreaker), with NO unpartitioned window: range repartition
    * → per-partition lag → boundary stitch. Returns
    * (prev_doc, prev_topic, cur_doc, cur_topic).
    *
    * The lagged frame is PlanCache'd under `cacheKey`: in-partition
    * pairs, partition firsts, and partition lasts are three FILTERS of
    * it, and an unpinned frame would re-run the range exchange + window
    * once per reference (measured: 3× per ordering, 4.5 → 7 s at sf0.1
    * before the pin).
    */
  /** The pure (uncached) lagged-range plan behind [[adjacentPairsUnder]]
    * — exposed so PlanAuditSpec can pin that every window in it is
    * pid-PARTITIONED (the checkpointed memo hides the build plan from
    * the final query's executed plan, so the audit must look here).
    */
  private[graft] def laggedRanged(
      assigned: org.apache.spark.sql.DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column]) = {
    val ranged = assigned.repartitionByRange(sortCols: _*)
      .withColumn("pid", spark_partition_id())
    val wLoc = Window.partitionBy("pid").orderBy(sortCols: _*)
    ranged
      .withColumn("prev_doc", lag("doc_id", 1).over(wLoc))
      .withColumn("prev_topic", lag("topic", 1).over(wLoc))
      .withColumn("is_last", lead("doc_id", 1).over(wLoc).isNull)
  }

  private def adjacentPairsUnder(s: SparkSession, cacheKey: String,
      assigned: org.apache.spark.sql.DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column]) = {
    val loc = graft.PlanCache.checkpointed(s, cacheKey)(
      laggedRanged(assigned, sortCols))
    val inPairs = loc.filter(col("prev_doc").isNotNull)
      .select(col("prev_doc"), col("prev_topic"),
        col("doc_id").as("cur_doc"), col("topic").as("cur_topic"))
    // boundary stitch: ≤ P rows per side (one first/last per non-empty
    // range partition) — broadcast BY CONSTRUCTION (the post-window tiny
    // frame rule, NOTES r13); min(pid_f) over pid_f > pid_l skips empty
    // partitions naturally
    val firsts = loc.filter(col("prev_doc").isNull)
      .select(col("pid").as("pid_f"), col("doc_id").as("f_doc"),
        col("topic").as("f_topic"))
    val lasts = loc.filter(col("is_last"))
      .select(col("pid").as("pid_l"), col("doc_id").as("l_doc"),
        col("topic").as("l_topic"))
    val boundary = lasts.join(broadcast(firsts), col("pid_f") > col("pid_l"))
      .groupBy(col("pid_l"), col("l_doc"), col("l_topic"))
      .agg(min_by(struct(col("f_doc"), col("f_topic")), col("pid_f")).as("nf"))
      .select(col("l_doc").as("prev_doc"), col("l_topic").as("prev_topic"),
        col("nf.f_doc").as("cur_doc"), col("nf.f_topic").as("cur_topic"))
    inPairs.unionByName(boundary)
  }

  /** X70 — semantic packing order: the related-document shuffle that
    * precedes sequence packing in in-context pretraining (Shi et al.
    * 2023: training sequences built from RELATED documents beat the
    * random-order baseline). The corpus is clustered with x46's exact
    * one-round Lloyd machinery (hashed tf-idf centroids, cosine argmax
    * assignment), then ordered (topic, affinity-to-centroid desc,
    * doc_id) — so adjacent documents in the packing stream share a
    * topic and, within it, sit close to the same centroid. The audit
    * quantifies the lift: mean adjacent-pair cosine (exact integer
    * basis points) and same-topic adjacency count under the semantic
    * order vs the doc_id baseline the packer would otherwise use.
    *
    * Determinism/portability: pair dots and norms are exact longs from
    * the x43 integer weight frame; the only FP is the final
    * `10000·dot/√(ssa·ssb)` — correctly-rounded IEEE ops over identical
    * longs, floored to an integer bp in both engines (the x46
    * discipline); ordering ties break on doc_id.
    *
    * Scale posture: clustering is the x46 broadcast-centroid path
    * (O(docs·K), never all-pairs); the adjacency audit needs the SET of
    * adjacent pairs under each total order, and that set is computed
    * WITHOUT any global window (the r15 finding: the old global
    * `row_number` was a true single-partition sort of the corpus):
    * each ordering range-repartitions on its sort key, takes adjacent
    * pairs per partition from a pid-PARTITIONED lag window, and stitches
    * the ≤P partition boundaries (last row of each non-empty partition →
    * first row of the next) through a broadcast join over the
    * P-row edge frames — in-partition pairs + boundary pairs are exactly
    * the global order's adjacent pairs, for ANY placement of the range
    * boundaries, so the output is identical while the widest sort in the
    * plan is a per-partition one. Pair dots are a bucket-keyed self-join
    * producing ≤64 rows per adjacent pair — O(docs·64).
    */
  val x70SemanticPacking = QueryDef(
    "x70_semantic_packing",
    "related-doc packing order: adjacent-pair cosine lift vs doc_id order",
    (s, d) => {
      val k = 8L
      val w = hashedWeights(s, d)
      val dd = docs(s, d).select(col("doc_id"))
      // x46's argmax (shared PlanCache'd frame), the packing affinity.
      // The assignment frame itself is PlanCache'd too: each ordering's
      // range repartition SAMPLES its input and the pid windows re-read
      // it, so the uncached join would re-execute ~6× per run (the
      // lineage-reexecution lesson, NOTES r13) — it is 3 narrow columns
      // per doc, the cheapest frame in the query to pin.
      val assigned = graft.PlanCache.persisted(s, s"x70/assigned/$d") {
        val best = corpusTopicBest(s, d)
        dd.join(best, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cid"), pmod(col("doc_id"), lit(k))).as("topic"),
            coalesce(col("score"), lit(0.0)).as("score"))
      }
      // the adjacency pair set is itself PlanCache'd (the x53
      // cachedJaccardEdges precedent: a deterministic derived frame per
      // dir): the partitioned-pair build is ~10 AQE stages of fixed
      // overhead, and downstream references it through three joins
      val pairs = graft.PlanCache.checkpointed(s, s"x70/pairs/$d") {
        adjacentPairsUnder(s, s"x70/loc-sem/$d", assigned,
            Seq(col("topic"), col("score").desc, col("doc_id")))
          .select(lit("semantic").as("order_kind"), col("prev_doc"),
            col("cur_doc"),
            (col("prev_topic") === col("cur_topic")).cast("long")
              .as("same_topic"))
          .unionByName(
            adjacentPairsUnder(s, s"x70/loc-docid/$d", assigned,
              Seq(col("doc_id")))
            .select(lit("docid").as("order_kind"), col("prev_doc"),
              col("cur_doc"),
              (col("prev_topic") === col("cur_topic")).cast("long")
                .as("same_topic")))
      }
      // per-doc squared norms — the shared memo (referenced twice below)
      val nrm = hashedNorms(s, d)
      // `merge` hints on every w/nrm join: both sides are CORPUS-sized
      // (w = docs×64 buckets, nrm = per-doc), so a broadcast is the wrong
      // plan at scale — and at bench scale AQE would otherwise convert
      // each into a BroadcastExchange whose driver collect+build is pure
      // serial latency (measured: 5.0 s warm with AQE's 13 broadcast-
      // converted stages vs 1.0 s with the static shuffle-join plan)
      val pdots = pairs
        .join(w.select(col("doc_id").as("prev_doc"), col("bucket"),
          col("wsum").as("wa")).hint("merge"), Seq("prev_doc"))
        .join(w.select(col("doc_id").as("cur_doc"), col("bucket"),
          col("wsum").as("wb")).hint("merge"), Seq("cur_doc", "bucket"))
        .groupBy("order_kind", "prev_doc", "cur_doc")
        .agg(sum(col("wa") * col("wb")).as("dot"))
      val scored = pairs
        .join(pdots, Seq("order_kind", "prev_doc", "cur_doc"), "left")
        .na.fill(0L, Seq("dot"))
        .join(nrm.select(col("doc_id").as("prev_doc"), col("ss").as("ssa"))
          .hint("merge"), Seq("prev_doc"))
        .join(nrm.select(col("doc_id").as("cur_doc"), col("ss").as("ssb"))
          .hint("merge"), Seq("cur_doc"))
        .withColumn("cos_bp",
          floor(lit(10000.0) * col("dot").cast("double") /
            sqrt(col("ssa").cast("double") * col("ssb").cast("double")))
            .cast("long"))
      scored.groupBy("order_kind").agg(
        count(lit(1)).as("n_pairs"),
        expr("sum(cos_bp) div count(1)").as("mean_cos_bp"),
        sum(col("same_topic")).as("same_topic_pairs"))
        .orderBy("order_kind")
    },
    Some(s"""WITH $hashedWeightsSql,
           |dd AS (SELECT doc_id FROM documents),
           |seed AS (SELECT doc_id, doc_id % 8 AS cid0 FROM dd),
           |cn AS (SELECT cid0, CAST(count(*) AS BIGINT) AS n_docs0
           |       FROM seed GROUP BY 1),
           |cent AS (SELECT cid0 AS cid, bucket, (sw // n_docs0) AS mw FROM
           |           (SELECT cid0, bucket, CAST(sum(wsum) AS BIGINT) AS sw
           |            FROM w JOIN seed USING (doc_id) GROUP BY 1, 2)
           |         JOIN cn USING (cid0)
           |         WHERE (sw // n_docs0) > 0),
           |cnorm AS (SELECT cid, CAST(sum(mw * mw) AS BIGINT) AS ss
           |          FROM cent GROUP BY 1),
           |cdots AS (SELECT w.doc_id, cent.cid,
           |                 CAST(sum(wsum * mw) AS BIGINT) AS dot
           |          FROM w JOIN cent USING (bucket) GROUP BY 1, 2),
           |sc AS (SELECT doc_id, cid,
           |              CAST(dot AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) AS score
           |       FROM cdots JOIN cnorm USING (cid)),
           |best AS (SELECT doc_id, cid, score FROM
           |          (SELECT *, row_number() OVER (PARTITION BY doc_id
           |                       ORDER BY score DESC, cid) AS rn
           |           FROM sc) WHERE rn = 1),
           |assigned AS MATERIALIZED (
           |             SELECT d.doc_id,
           |                    COALESCE(b.cid, d.doc_id % 8) AS topic,
           |                    COALESCE(b.score, 0.0) AS score
           |             FROM dd d LEFT JOIN best b USING (doc_id)),
           |orders AS (
           |  SELECT 'semantic' AS order_kind,
           |         row_number() OVER (ORDER BY topic, score DESC, doc_id) AS pos,
           |         doc_id, topic
           |  FROM assigned
           |  UNION ALL
           |  SELECT 'docid', row_number() OVER (ORDER BY doc_id), doc_id, topic
           |  FROM assigned),
           |pairs AS MATERIALIZED (
           |  SELECT order_kind, prev_doc, cur_doc, same_topic FROM
           |  (SELECT order_kind,
           |          lag(doc_id) OVER (PARTITION BY order_kind ORDER BY pos)
           |            AS prev_doc,
           |          doc_id AS cur_doc,
           |          CASE WHEN lag(topic) OVER (PARTITION BY order_kind
           |                                     ORDER BY pos) = topic
           |               THEN 1 ELSE 0 END AS same_topic
           |   FROM orders) WHERE prev_doc IS NOT NULL),
           |nrm AS MATERIALIZED (
           |        SELECT doc_id, CAST(sum(wsum * wsum) AS BIGINT) AS ss
           |        FROM w GROUP BY 1),
           |pd AS (SELECT p.order_kind, p.prev_doc, p.cur_doc,
           |              CAST(sum(wa.wsum * wb.wsum) AS BIGINT) AS dot
           |       FROM pairs p
           |       JOIN w wa ON wa.doc_id = p.prev_doc
           |       JOIN w wb ON wb.doc_id = p.cur_doc AND wb.bucket = wa.bucket
           |       GROUP BY 1, 2, 3),
           |scored AS (SELECT p.order_kind, p.same_topic,
           |                  CAST(floor(10000.0 * COALESCE(pd.dot, 0) /
           |                       sqrt(CAST(na.ss AS DOUBLE) *
           |                            CAST(nb.ss AS DOUBLE))) AS BIGINT)
           |                    AS cos_bp
           |           FROM pairs p
           |           LEFT JOIN pd ON pd.order_kind = p.order_kind
           |                       AND pd.prev_doc = p.prev_doc
           |                       AND pd.cur_doc = p.cur_doc
           |           JOIN nrm na ON na.doc_id = p.prev_doc
           |           JOIN nrm nb ON nb.doc_id = p.cur_doc)
           |SELECT order_kind, CAST(count(*) AS BIGINT) AS n_pairs,
           |       CAST(sum(cos_bp) // count(*) AS BIGINT) AS mean_cos_bp,
           |       CAST(sum(same_topic) AS BIGINT) AS same_topic_pairs
           |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin))

  val defs: Seq[QueryDef] = Seq(t20LangId, t21Quality, t22TokenCount,
    t23Fingerprint, t24Repetition, t25TopShingles, t26PiiRedaction,
    t27QualityRules, t28QualityModel, t29HtmlStrip,
    x20SalientTerms, x24VocabDrift,
    x26Chunking, x28UnigramSurprisal, x36VocabCoverage, x43HashedVectors,
    x44SourceSimilarity, x45BigramSurprisal, x46TopicClusters,
    x49ChunkRetrieval, x56Bm25Retrieval, x57HybridRrf, x60DoremiMixture,
    x65RetrievalEval, x67HardNegatives, x70SemanticPacking,
    x74ClusterSilhouette, x77ScorerCalibration, x78SignalAgreement,
    x80SourceCrossEntropy, x82ZipfAudit)
}
