package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** registerAll: the whole canonical corpus is queryable via spark.sql
  * with the same schemas/normalization as Tables.load.
  */
class TablesSpec extends SparkSpec {

  test("registerAll exposes every table to spark.sql with normalized types") {
    Tables.registerAll(spark, sfDir)
    // cross-table SQL runs against the views
    val top = spark.sql(
      """SELECT n.n_name, count(*) AS n_customers
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n_customers DESC, n_name LIMIT 3""".stripMargin)
      .collect()
    assert(top.length === 3 && top.head.getLong(1) > 0)
    // events view carries the derived microsecond ts (not the raw ns long)
    val ts = spark.sql("SELECT ts FROM events LIMIT 1").schema("ts")
    assert(ts.dataType.typeName === "timestamp")
    assert(spark.sql("SELECT count(*) FROM documents").head.getLong(0) > 0)
  }

  test("widen decides from the planned width: an exchange to 1 partition is widened") {
    val p = spark.sparkContext.defaultParallelism
    assert(p >= 2)
    def exchangeWidths(df: DataFrame) = df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions
    }
    val narrow = spark.range(0, 1000, 1, p).toDF().repartition(1)
    assert(exchangeWidths(narrow) === Seq(1))
    val widened = Tables.widen(narrow)
    // the optimizer folds the 1-partition exchange into the widening one
    assert(exchangeWidths(widened) === Seq(p))
    assert(widened.count() === 1000)
    // a frame already as wide as the session is returned as it is
    val wide = spark.range(0, 1000, 1, p).toDF().repartition(p)
    assert(Tables.widen(wide) eq wide)
    // a plain one-file scan is counted through its RDD and widened
    val scan = Tables.load(spark, sfDir, "customer")
    assert(scan.rdd.getNumPartitions === 1)
    assert(exchangeWidths(Tables.widen(scan)) === Seq(p))
  }
}
