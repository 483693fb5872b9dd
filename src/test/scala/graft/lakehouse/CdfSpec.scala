package graft.lakehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Change data feed (`changes`): the derived diff between two snapshots
  * classifies inserts / deletes / updates exactly, treats null keys as
  * ordinary rows, and refuses non-unique keys.
  */
class CdfSpec extends SparkSpec {

  private def freshTable = SnapshotTable.create(spark,
    tempDir("graft-cdf").toString + "/t")

  private def rows(t: SnapshotTable, from: Int, to: Int) =
    t.changes(from, to, Seq("id")).collect()
      .map(r => (Option(r.get(r.fieldIndex("id"))).map(_.toString.toLong),
        r.getAs[String]("val"), r.getAs[String]("_change_type")))
      .toSet

  test("insert / update / delete classification across versions") {
    import spark.implicits._
    val t = freshTable
    val v1 = t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "val"))
    val v2 = t.overwrite(Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"))
      .toDF("id", "val"))
    val v3 = t.overwrite(Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "val"))

    assert(rows(t, 0, v1) === Set(
      (Some(1L), "a", "insert"), (Some(2L), "b", "insert"),
      (Some(3L), "c", "insert")))
    assert(rows(t, v1, v2) === Set(
      (Some(2L), "b", "update_preimage"), (Some(2L), "B", "update_postimage"),
      (Some(4L), "d", "insert")))
    assert(rows(t, v2, v3) === Set((Some(3L), "c", "delete")))
    // transitive diff spans both commits
    assert(rows(t, v1, v3) === Set(
      (Some(2L), "b", "update_preimage"), (Some(2L), "B", "update_postimage"),
      (Some(4L), "d", "insert"), (Some(3L), "c", "delete")))
    // self-diff is empty
    assert(rows(t, v2, v2) === Set.empty)
  }

  test("null keys diff as ordinary rows; non-unique keys are rejected") {
    import spark.implicits._
    val t = freshTable
    val v1 = t.append(Seq((Some(1L), "a"), (None, "n1")).toDF("id", "val"))
    val v2 = t.overwrite(Seq((Some(1L), "a"), (None, "n2")).toDF("id", "val"))
    // the null-keyed row changed value: one update, the id=1 row is quiet
    assert(rows(t, v1, v2) === Set(
      (None, "n1", "update_preimage"), (None, "n2", "update_postimage")))

    val dup = freshTable
    dup.append(Seq((1L, "a"), (1L, "b")).toDF("id", "val"))
    val e = intercept[IllegalArgumentException] {
      dup.changes(0, dup.currentVersion, Seq("id")).collect()
    }
    assert(e.getMessage.contains("not unique"))
  }
}
