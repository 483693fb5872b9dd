package graft.warehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkSpec {

  test("batch run materializes raw/staging/marts; re-run appends nothing") {
    val wh = new Warehouse(spark, tempDir("graft-wh").toString)
    val counts = BatchAnalytics.run(spark, sfDir, wh)
    assert(counts("daily_business_appended") > 0)
    assert(counts("customer_metrics") > 0)
    for ((layer, table) <- Seq("raw" -> "customer", "raw" -> "orders",
        "staging" -> "customers", "staging" -> "orders",
        "marts" -> "daily_business", "marts" -> "customer_metrics"))
      assert(wh.exists(layer, table), s"$layer/$table missing")
    // incremental idempotence: same data again → zero new rows
    val counts2 = BatchAnalytics.run(spark, sfDir, wh)
    assert(counts2("daily_business_appended") === 0)
  }

  test("incremental append takes only rows newer than the mart's max date") {
    import spark.implicits._
    val wh = new Warehouse(spark, tempDir("graft-wh2").toString)
    def day(s: String) = java.sql.Date.valueOf(s)
    val v1 = Seq((day("2001-01-01"), 10L), (day("2001-01-02"), 20L))
      .toDF("order_date", "total")
    assert(wh.appendIncremental("m", v1, "order_date", Seq("order_date")) === 2)
    // overlapping re-delivery + one genuinely new day
    val v2 = Seq((day("2001-01-02"), 20L), (day("2001-01-03"), 30L))
      .toDF("order_date", "total")
    assert(wh.appendIncremental("m", v2, "order_date", Seq("order_date")) === 1)
    val got = wh.read("marts", "m").orderBy("order_date").collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(10L, 20L, 30L))
  }

  test("reprocessing window re-admits late rows but dedupes by key") {
    import spark.implicits._
    val wh = new Warehouse(spark, tempDir("graft-wh3").toString)
    def day(s: String) = java.sql.Date.valueOf(s)
    val v1 = Seq((day("2001-01-05"), "a"), (day("2001-01-06"), "b"))
      .toDF("order_date", "k")
    wh.appendIncremental("m", v1, "order_date", Seq("order_date", "k"))
    // late row for Jan 5 with a NEW key arrives; window=3 readmits the date
    val late = Seq((day("2001-01-05"), "c"), (day("2001-01-06"), "b"))
      .toDF("order_date", "k")
    val n = wh.appendIncremental("m", late, "order_date",
      Seq("order_date", "k"), reprocessDays = 3)
    assert(n === 1) // "c" admitted, duplicate "b" rejected
    assert(wh.read("marts", "m").count() === 3)
  }

  test("empty first materialization does not poison future increments") {
    import spark.implicits._
    val wh = new Warehouse(spark, tempDir("graft-wh4").toString)
    def day(s: String) = java.sql.Date.valueOf(s)
    val empty = Seq.empty[(java.sql.Date, Long)].toDF("order_date", "total")
    assert(wh.appendIncremental("m", empty, "order_date", Seq("order_date")) === 0)
    // mart exists but is empty; data arriving later must still append
    val v2 = Seq((day("2001-01-01"), 10L)).toDF("order_date", "total")
    assert(wh.appendIncremental("m", v2, "order_date", Seq("order_date")) === 1)
    assert(wh.read("marts", "m").count() === 1)
  }

  test("staging flags: validity, completeness, bucketization") {
    val stg = BatchAnalytics.stageOrders(
      graft.sources.Tables.load(spark, sfDir, "orders"))
    assert(stg.filter(!col("is_valid_order")).count() === 0)
    val cats = stg.select("order_size_category").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cats.subsetOf(Set("small", "medium", "large")) && cats.size >= 2)
  }
}
