package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every module's QueryDefs into the `queries` / `oracleSql`
  * maps the correctness driver consumes.
  */
object SparkEntry {

  /** Every query module with its defs, in inventory order: the one list
    * behind `allDefs` and the README catalog (`tools.Catalog`).
    */
  def modules: Seq[(String, Seq[QueryDef])] = Seq(
    "analytics.RelationalQueries" -> analytics.RelationalQueries.defs,
    "analytics.EventQueries" -> analytics.EventQueries.defs,
    "analytics.CustomerQueries" -> analytics.CustomerQueries.defs,
    "analytics.SketchQueries" -> analytics.SketchQueries.defs,
    "analytics.ExtendedSqlQueries" -> analytics.ExtendedSqlQueries.defs,
    "analytics.AsOfQueries" -> analytics.AsOfQueries.defs,
    "analytics.GraphQueries" -> analytics.GraphQueries.defs,
    "cdc.CdcQueries" -> cdc.CdcQueries.defs,
    "dedup.DedupQueries" -> dedup.DedupQueries.defs,
    "dedup.ClusterQueries" -> dedup.ClusterQueries.defs,
    "dedup.LinkageQueries" -> dedup.LinkageQueries.defs,
    "similarity.SimilarityQueries" -> similarity.SimilarityQueries.defs,
    "similarity.QuantizationQueries" -> similarity.QuantizationQueries.defs,
    "similarity.SpectralQueries" -> similarity.SpectralQueries.defs,
    "text.TextQueries" -> text.TextQueries.defs,
    "text.CurationQueries" -> text.CurationQueries.defs,
    "text.TrainedFilter" -> text.TrainedFilter.defs,
    "quality.PiiQueries" -> quality.PiiQueries.defs,
    "quality.ContractQueries" -> quality.ContractQueries.defs,
    "lakehouse.LayoutQueries" -> lakehouse.LayoutQueries.defs,
    "multimodal.CrossModalQueries" -> multimodal.CrossModalQueries.defs)

  def allDefs: Seq[QueryDef] = modules.flatMap(_._2)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's flagship mart: daily business metrics
    * (`.kiro/specs/batch-analytics-layer/design.md:658-730`).
    */
  def entry(spark: SparkSession): DataFrame =
    analytics.RelationalQueries.j4DailyBusinessMetrics
      .run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
