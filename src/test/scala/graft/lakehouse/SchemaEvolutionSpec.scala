package graft.lakehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Schema evolution on SnapshotTable: metadata-only rename/drop with
  * id-free per-commit-epoch resolution — old files are never rewritten,
  * time travel shows the schema as of the version, and stats-based
  * skipping keeps pruning through renames.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String) =
    SnapshotTable.create(spark,
      tempDir(prefix).toString)

  test("rename is metadata-only: old commits resolve, time travel keeps " +
    "the old name, new appends use the new name") {
    val t = fresh("graft-se1")
    val v1 = t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "val"))
    val files1 = t.filesMetadata().collect().map(_.getAs[String]("file")).toSet
    val vr = t.renameColumn("val", "amount")
    // no data rewrite: the file set is unchanged
    assert(t.filesMetadata().collect().map(_.getAs[String]("file")).toSet
      === files1)
    assert(t.read().columns.toSeq === Seq("id", "amount"))
    assert(t.read().agg(sum("amount")).head.getDouble(0) === 30.0)
    // time travel below the rename shows the old name
    assert(t.readVersion(v1).columns.toSeq === Seq("id", "val"))
    // a post-rename append writes the new name; the union resolves
    t.append(Seq((3L, 30.0)).toDF("id", "amount"))
    assert(t.read().agg(sum("amount")).head.getDouble(0) === 60.0)
    assert(t.read().columns.toSeq === Seq("id", "amount"))
    assert(vr === v1 + 1)
  }

  test("rename chain a->b->c resolves the oldest files to c") {
    val t = fresh("graft-se2")
    t.append(Seq((1L, 5.0)).toDF("id", "a"))
    t.renameColumn("a", "b")
    t.append(Seq((2L, 7.0)).toDF("id", "b"))
    t.renameColumn("b", "c")
    assert(t.read().columns.toSeq === Seq("id", "c"))
    assert(t.read().agg(sum("c")).head.getDouble(0) === 12.0)
  }

  test("drop hides the column from current reads, keeps it in time " +
    "travel, and a re-added name reads null for older rows") {
    val t = fresh("graft-se3")
    val v1 = t.append(Seq((1L, 1.0, "x"), (2L, 2.0, "y"))
      .toDF("id", "val", "tagc"))
    t.dropColumn("tagc")
    assert(t.read().columns.toSeq === Seq("id", "val"))
    assert(t.readVersion(v1).columns.toSeq === Seq("id", "val", "tagc"))
    // re-introduce the name: a NEW column that reuses it
    t.append(Seq((3L, 3.0, "z")).toDF("id", "val", "tagc"))
    val rows = t.read().orderBy("id").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("tagc")))
    assert(rows.toSeq === Seq(1L -> None, 2L -> None, 3L -> Some("z")))
  }

  test("COW update after a rename rewrites under the new schema") {
    val t = fresh("graft-se4")
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "val"))
    t.renameColumn("val", "amount")
    t.update(col("id") === 1L, Map("amount" -> lit(99.0)))
    assert(t.read().orderBy("id").collect().map(_.getDouble(1)).toSeq
      === Seq(99.0, 20.0))
  }

  test("CDF across a rename boundary diffs under the latest schema") {
    val t = fresh("graft-se5")
    val v1 = t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "val"))
    t.renameColumn("val", "amount")
    val v3 = t.append(Seq((3L, 30.0)).toDF("id", "amount"))
    val ch = t.changes(v1, v3, Seq("id")).collect()
    assert(ch.length === 1)
    assert(ch.head.getAs[String]("_change_type") === "insert")
    assert(ch.head.getAs[Long]("id") === 3L)
    assert(ch.head.getAs[Double]("amount") === 30.0)
  }

  test("stats skipping prunes pre-rename files through the inverse walk") {
    val t = fresh("graft-se6")
    t.append((1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "val"))
    t.renameColumn("val", "amount")
    t.append((1 to 100).map(i => (i.toLong, 1000.0 + i)).toDF("id", "amount"))
    val all = t.filesMetadata().count()
    val kept = t.skippingFiles("amount", 1000.0, 2000.0)
    assert(kept.size < all, s"no pruning: kept ${kept.size} of $all")
    // the kept files contain every matching row
    val viaSkip = t.readSkipping("amount", 1000.0, 2000.0)
      .filter(col("amount") >= 1000.0).count()
    assert(viaSkip === 100L)
    // and stats on the logical name cover BOTH epochs
    val statCols = t.filesStats(Seq("amount")).collect()
    assert(statCols.length.toLong === all)
  }

  test("guards: duplicate target, partition column, last column") {
    val t = fresh("graft-se7")
    t.append(Seq((1L, 2.0)).toDF("id", "val"))
    intercept[IllegalArgumentException](t.renameColumn("val", "id"))
    intercept[IllegalArgumentException](t.renameColumn("nope", "x"))
    intercept[IllegalArgumentException](t.dropColumn("nope"))
    val p = SnapshotTable.create(spark,
      tempDir("graft-se7p").toString, partitionBy = Seq("p"))
    p.append(Seq((1L, "a")).toDF("id", "p"))
    intercept[IllegalArgumentException](p.renameColumn("p", "q"))
    intercept[IllegalArgumentException](p.dropColumn("p"))
    val one = fresh("graft-se7o")
    one.append(Seq(Tuple1(1L)).toDF("only"))
    intercept[IllegalArgumentException](one.dropColumn("only"))
  }

  test("partitioned table: rename of a data column resolves per epoch") {
    val t = SnapshotTable.create(spark,
      tempDir("graft-se8").toString, partitionBy = Seq("p"))
    t.append(Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "val", "p"))
    t.renameColumn("val", "amount")
    t.append(Seq((3L, 30.0, "a")).toDF("id", "amount", "p"))
    assert(t.read().agg(sum("amount")).head.getDouble(0) === 60.0)
    assert(t.read().filter(col("p") === "a").count() === 2L)
  }
}
