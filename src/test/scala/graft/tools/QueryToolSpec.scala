package graft.tools

import graft.SparkSpec
import graft.cdc.Cdc
import org.apache.spark.sql.functions._

/** QueryTool facade over a CDC bronze archive (mirrors the reference's
  * s3_parquet_query.py entry points).
  */
class QueryToolSpec extends SparkSpec {

  private lazy val root: String = {
    val dir = tempDir("graft-archive").toString
    val env = Cdc.unwrap(Cdc.generateUsersCdc(spark, 200))
    env.write.mode("overwrite").parquet(s"$dir/users")
    dir
  }
  private lazy val qt = new QueryTool(spark, root)

  test("queryTable: filters + projection + limit, deterministic order") {
    val df = qt.queryTable("users",
      filters = Map("__op" -> "c", "last_name" -> Seq("Last1", "Last2")),
      columns = Seq("id", "email", "last_name"), limit = 5)
    val rows = df.collect()
    assert(rows.length === 4) // ids 1,101 (Last1) + 2,102 (Last2)
    assert(df.columns.toSeq === Seq("id", "email", "last_name"))
    assert(rows.forall(r => Set("Last1", "Last2")(r.getAs[String]("last_name"))))
    // deterministic: same call twice gives identical rows
    assert(qt.queryTable("users",
      filters = Map("__op" -> "c", "last_name" -> Seq("Last1", "Last2")),
      columns = Seq("id", "email", "last_name"), limit = 5)
      .collect().toSeq === rows.toSeq)
  }

  test("deletedRecords returns only __op='d' rows") {
    val dels = qt.deletedRecords("users").collect()
    assert(dels.nonEmpty)
    assert(dels.forall(_.getAs[String]("__op") === "d"))
  }

  test("userHistory is time-ordered and complete for the key") {
    val h = qt.userHistory("users", "id", 33).collect() // 33%3==0 and %11==0
    assert(h.map(_.getAs[String]("__op")).toSeq === Seq("c", "u", "d"))
    val ts = h.map(_.getAs[Long]("__ts_ms"))
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
  }

  test("operationSummary decodes ops and counts all records") {
    val s = qt.operationSummary("users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s("CREATE/INSERT") === 200)
    assert(s("UPDATE") === 67) // ids 0,3,...,198
    assert(s("DELETE") === 19) // ids 0,11,...,198
    assert(s.values.sum === 286)
  }

  test("decodeOp passes unknown codes through") {
    import spark.implicits._
    val out = Seq("c", "z").toDF("__op")
      .select(QueryTool.decodeOp(col("__op")).as("d")).collect().map(_.getString(0))
    assert(out.toSeq === Seq("CREATE/INSERT", "z"))
  }
}
