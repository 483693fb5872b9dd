package graft

import org.apache.spark.sql.functions._

/** Compile-checked README examples: every usage pattern the README's
  * Quick start and Operator catalog show must keep compiling AND running
  * against the smallest testdata. If an API in the docs drifts, this
  * spec breaks before a user does.
  */
class ExampleSpec extends SparkSpec {

  test("README: run any inventory query by name") {
    val daily = SparkEntry.queries("j4_daily_business_metrics")(spark, sfDir)
    assert(daily.count() > 0)
    val dedup = SparkEntry.queries("x2_dedup_minhash_lsh")(spark, sfDir)
    assert(dedup.columns.nonEmpty)
    // the catalog's generated tables cover the full inventory
    assert(tools.Catalog.families.map(_._2.size).sum ===
      SparkEntry.queries.size)
    // every catalog entry resolves in the entry map
    tools.Catalog.families.flatMap(_._2).foreach(d =>
      assert(SparkEntry.queries.contains(d.name), d.name))
  }

  test("README: CDC generate -> unwrap -> bronze -> current state") {
    import graft.cdc.Cdc
    val dir = tempDir("graft-readme-cdc").toString
    val history = Cdc.unwrap(Cdc.generateUsersCdc(spark, 2000))
    Cdc.writeBronze(history, dir)
    val current = Cdc.currentState(Cdc.readBronze(spark, dir))
    assert(current.count() > 0)
  }

  test("README: lakehouse versioned table with time travel") {
    import spark.implicits._
    val t = lakehouse.SnapshotTable.create(spark,
      tempDir("graft-readme-lake").toString)
    t.append(Seq((1L, -5.0), (2L, 7.0)).toDF("id", "account_balance"))
    t.update(col("account_balance") < 0,
      Map("account_balance" -> lit(0.0)))
    assert(t.readVersion(1).filter(col("account_balance") < 0).count() === 1)
    assert(t.read().filter(col("account_balance") < 0).count() === 0)
  }

  test("README: schema evolution + data contract compose as documented") {
    import spark.implicits._
    val t = lakehouse.SnapshotTable.create(spark,
      tempDir("graft-readme-se").toString)
    val v1 = t.append(Seq((1L, -5.0, "x"), (2L, 7.0, "y"))
      .toDF("id", "account_balance", "legacy_flag"))
    t.renameColumn("account_balance", "balance")
    t.dropColumn("legacy_flag")
    assert(t.read().columns.toSeq === Seq("id", "balance"))
    assert(t.readVersion(v1).columns.toSeq ===
      Seq("id", "account_balance", "legacy_flag"))

    import graft.quality.{Contract, ContractRule}
    val li = sources.Tables.load(spark, sfDir, "lineitem")
    val rules = Seq(
      ContractRule("qty_min", "min", "l_quantity", "1"),
      ContractRule("disc_cap", "max", "l_discount", "0.08", maxPpm = 100000))
    val audit = Contract.audit(li, "lineitem", rules).collect()
    assert(audit.length === 2)
    val (clean, quarantine) = streaming.ContractGate.route(li, rules)
    assert(clean.count() + quarantine.count() === li.count())
  }

  test("README: quantile monitor histogram -> exact brackets (batch twin)") {
    import spark.implicits._
    val measures = (1 to 1000)
      .map(i => ("api", (i % 97).toDouble)).toDF("service", "latency_ms")
    val hist = streaming.QuantileMonitor.histogram(measures, "service",
      "latency_ms")
    val br = streaming.QuantileMonitor.brackets(hist, Seq(0.5, 0.95, 0.99))
    assert(br.size === 3)
    assert(br.forall(b => b.lo <= b.hi))
  }

  test("README: HTML strip + GDPR blast radius compose as documented") {
    import spark.implicits._
    val prose = "the quick value table scan joins a window of rows here"
    val main = Seq(s"<nav><a href=\"/\">Home</a></nav><p>$prose</p>")
      .toDF("html").select(text.HtmlStrip.mainContent(col("html"))).head
      .getString(0)
    assert(main === prose)
  }

  test("README: bloom-pruned join is row-identical to the plain join") {
    val li = sources.Tables.load(spark, sfDir, "lineitem")
    val urgent = sources.Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val pruned = operators.BloomPrune.prunedJoin(li, "l_orderkey",
      urgent, "o_orderkey")
    val plain = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
    assert(pruned.count() === plain.count())
  }

  test("README: incremental view maintenance as documented") {
    import spark.implicits._
    val root = tempDir("graft-readme-ivm").toString
    val t = lakehouse.SnapshotTable.create(spark, s"$root/base")
    t.append(Seq(("gold", 100L), ("basic", 10L)).toDF("tier", "cents"))
    val view = new lakehouse.IncrementalView(
      t, groupCols = Seq("tier"), sumCols = Seq("cents"),
      root = s"$root/mart")
    view.refresh()
    t.append(Seq(("gold", 1L)).toDF("tier", "cents"))
    view.refresh()
    val gold = view.read().filter(col("tier") === "gold")
      .select("n_rows", "sum_cents").head
    assert((gold.getLong(0), gold.getLong(1)) === ((2L, 101L)))
  }
}
