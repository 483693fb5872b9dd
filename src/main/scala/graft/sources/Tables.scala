package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-declared readers for the engine's canonical tables.
  *
  * The reference never infers schemas in the pipeline path — every table is
  * declared (PostgreSQL DDL, Avro, Iceberg DDL; see reference
  * `.kiro/specs/batch-analytics-layer/design.md:201-285`). We follow suit:
  * each reader passes an explicit StructType so schema drift fails loudly at
  * analysis time instead of silently changing downstream results. Explicit
  * schemas also skip the footer-sampling schema-inference job on huge
  * multi-file datasets (matters at 100 TB: no driver-side listing storm).
  */
object Tables {

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Events `ts` on-disk unit varies by generator version: TIMESTAMP(NANOS)
    * (which Spark has no native type for — with
    * `spark.sql.legacy.parquet.nanosAsLong=true` it surfaces as epoch-nanos
    * LongType) or plain TIMESTAMP(MICROS). [[load]] probes the footer once
    * per path and normalizes either encoding to the same logical shape:
    * a microsecond TimestampType `ts` plus the raw epoch-nanos LongType
    * `ts_ns` (exact ordering parity with ns-native engines; integer
    * arithmetic only — a double mantissa cannot hold 1.7e18).
    */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Declared read schema for events files whose `ts` is TIMESTAMP(MICROS). */
  val eventsMicros: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val all: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Footer-probed `ts` encoding per events path, cached so a session pays
    * one footer read per distinct path (no repeated driver-side listing).
    */
  private val tsNanosCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** True when the events file(s) at `path` store `ts` as TIMESTAMP(NANOS)
    * (surfaced as LongType under the nanosAsLong legacy flag); false for
    * native TIMESTAMP(MICROS). Defaults to micros when the path has no
    * readable footer yet (e.g. a streaming input dir that is still empty).
    */
  def eventsTsIsNanos(spark: SparkSession, path: String): Boolean =
    tsNanosCache.computeIfAbsent(path, _ =>
      try spark.read.parquet(path).schema("ts").dataType == LongType
      catch { case _: Exception => java.lang.Boolean.FALSE })

  /** Read one canonical table from `dir` with its declared schema. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      import org.apache.spark.sql.functions._
      val normalized =
        if (eventsTsIsNanos(spark, path))
          spark.read.schema(events).parquet(path)
            .withColumnRenamed("ts", "ts_ns")
            .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
        else
          spark.read.schema(eventsMicros).parquet(path)
            .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      normalized.select("event_id", "ts_ns", "user_id", "event_type",
        "value", "props", "ts")
    } else spark.read.schema(all(name)).parquet(path)
  }

  /** Rescue scan parallelism for per-row-HEAVY map stages (regex chains,
    * digest loops, n-gram explodes) over unsplittable inputs: the test
    * corpus tables are single-row-group parquet files, which Spark scans
    * as ONE task — so a map-heavy stage runs serial on a 32-core session
    * (measured: t29's strip chain 1.65 s wall ≈ its single-task time).
    * When the frame's planned scan yields fewer partitions than half the
    * session parallelism, round-robin it to full width; otherwise return
    * it unchanged — at warehouse scale inputs split into thousands of
    * tasks naturally and this is an identity, so the exchange never
    * appears in a 100 TB plan (scale-adaptive by construction, not a
    * local-mode constant). Use ONLY where per-row work dominates: for a
    * scan→agg query the extra exchange is pure loss (the docsWide rule).
    */
  def widen(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    val p = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.sparkPlan
    // The planned output partitioning gives the width when it is known:
    // an exchange (or a coalesce) to 1 partition is widened like a
    // 1-file scan. A plain scan's is unknown, so its RDD is counted. An
    // exchange of unknown width is taken as wide (r18 ADVICE): under AQE,
    // `.rdd` on a frame with exchanges eagerly executes every upstream
    // query stage at plan-build time and double-plans the query.
    val width = plan.outputPartitioning match {
      case _: UnknownPartitioning =>
        val hasExchange = plan.exists {
          case _: org.apache.spark.sql.execution.exchange.Exchange => true
          case _ => false
        }
        if (hasExchange) p else df.rdd.getNumPartitions
      case known => known.numPartitions
    }
    if (width * 2 >= p) df else df.repartition(p)
  }

  /** Register every canonical table as a temp view so the whole corpus is
    * queryable through `spark.sql` (the reference's ad-hoc SQL surface,
    * `utils-dev/s3_parquet_query.py`) — same schemas and the same events
    * ts normalization as [[load]].
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.keys.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Register only the named tables. Queries that touch one or two tables
    * should prefer this over [[registerAll]] — view registration is
    * driver-side footer reads and analysis, pure fixed overhead for the
    * nine tables a query never mentions.
    */
  def register(spark: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
