package graft.lakehouse

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Reads planned from the schemas recorded at commit equal what the
  * footers say: for every table shape, the schema and rows of `read()` /
  * `readVersion` match an explicit `mergeSchema` read of the same dirs.
  */
class SchemaRecordSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(partitionBy: Seq[String] = Nil) = SnapshotTable.create(spark,
    tempDir("graft-schemarec").toString, partitionBy)

  /** The footer read the table made before schemas were recorded: one
    * `mergeSchema` scan over every dir of a plain table; one per commit
    * dir of a partitioned table (its `basePath` restores the partition
    * columns), unioned by name in dir order.
    */
  private def footerRead(dirs: Seq[String], partitionDepth: Int = 0): DataFrame =
    if (partitionDepth == 0) spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    else dirs.groupBy(d =>
        (1 to partitionDepth).foldLeft(Paths.get(d))((p, _) => p.getParent).toString)
      .toSeq.sortBy(_._1).map { case (base, sub) =>
        spark.read.option("mergeSchema", "true").option("basePath", base).parquet(sub: _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    assert(rows(got) === rows(want))
  }

  private def assertEveryVersion(t: SnapshotTable, partitionDepth: Int = 0): Unit =
    (1 to t.currentVersion).foreach { v =>
      assertSame(t.readVersion(v), footerRead(t.dirsOfVersion(v), partitionDepth))
    }

  test("plain table") {
    val t = fresh()
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "status", "amount"))
    t.append(Seq((3L, "c", 3.0)).toDF("id", "status", "amount"))
    assertSame(t.read(), footerRead(t.dirsOfVersion(2)))
    assertEveryVersion(t)
  }

  test("merge, update and delete") {
    val t = fresh()
    t.append(Seq((1L, "new", 10.0), (2L, "new", 20.0), (3L, "paid", 30.0))
      .toDF("id", "status", "amount"))
    t.merge(Seq((1L, "paid", 11.0), (4L, "new", 40.0), (3L, "x", 0.0))
      .toDF("id", "status", "amount"), Seq("id"), deleteWhen = Some(col("status") === "x"))
    t.update(col("status") === "new", Map("amount" -> col("amount") * 2))
    t.delete(col("id") === 2L)
    t.deleteMatching(Seq(4L).toDF("id"), Seq("id"))
    assert(t.read().as[(Long, String, Double)].collect().toSeq === Seq((1L, "paid", 11.0)))
    assertEveryVersion(t)
  }

  test("widening append: older rows read the new column as null") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "status"))
    t.append(Seq((2L, "b", 2.0)).toDF("id", "status", "amount"))
    t.append(Seq((3L, "c")).toDF("id", "status"))
    assertEveryVersion(t)
    assert(t.readVersion(1).columns.toSeq === Seq("id", "status"))
    assert(t.read().columns.toSeq === Seq("id", "status", "amount"))
    assert(t.read().filter(col("amount").isNull).count() === 2)
    // a COW rewrite after the widening keeps the wide schema
    t.update(col("id") === 1L, Map("amount" -> lit(1.0)))
    assertEveryVersion(t)
  }

  test("partitioned table: partition column types are inferred as before") {
    val t = fresh(partitionBy = Seq("p"))
    // written as strings; the paths infer an int, as a footer read does
    t.append(Seq((1L, 10.0, "10"), (2L, 20.0, "20")).toDF("id", "amount", "p"))
    t.append(Seq((3L, 30.0, "10")).toDF("id", "amount", "p"))
    t.append(Seq((4L, 40.0, "20", "n")).toDF("id", "amount", "p", "note"))
    assertEveryVersion(t, partitionDepth = 1)
    assert(t.read().schema("p").dataType === org.apache.spark.sql.types.IntegerType)
    // a skipping read restores the partition column too
    assert(t.readSkipping("amount", 25.0, 35.0).filter(col("amount") === 30.0)
      .select("p").as[Int].collect().toSeq === Seq(10))
    t.compactPartitions(64L * 1024 * 1024)
    assertEveryVersion(t, partitionDepth = 1)
    assert(t.read().count() === 4)
    t.merge(Seq((5L, 50.0, "30", "m")).toDF("id", "amount", "p", "note"), Seq("id"))
    assertEveryVersion(t, partitionDepth = 1)
    // a drop applies only to commits written before it: a later commit
    // that brings the name back keeps its values
    t.dropColumn("note")
    t.append(Seq((6L, 60.0, "30", "back")).toDF("id", "amount", "p", "note"))
    assert(t.read().filter(col("note").isNotNull).select("id", "note")
      .as[(Long, String)].collect().toSeq === Seq((6L, "back")))
  }

  test("rename and drop, including time travel to versions before them") {
    val t = fresh()
    val v1 = t.append(Seq((1L, 1.0, "x1")).toDF("id", "val", "x"))
    val rename = t.renameColumn("val", "amount")
    val v3 = t.append(Seq((2L, 2.0, "x2")).toDF("id", "amount", "x"))
    val drop = t.dropColumn("x")
    t.append(Seq((3L, 3.0)).toDF("id", "amount"))
    def dir(v: Int) = t.dirsOfVersion(v).diff(t.dirsOfVersion(v - 1))
    val first = footerRead(dir(v1))
    val second = footerRead(dir(v3))
    assertSame(t.readVersion(v1), first)
    assertSame(t.readVersion(rename), first.withColumnRenamed("val", "amount"))
    assertSame(t.readVersion(v3),
      first.withColumnRenamed("val", "amount").unionByName(second))
    assertSame(t.read(),
      first.withColumnRenamed("val", "amount").drop("x")
        .unionByName(second.drop("x"))
        .unionByName(footerRead(dir(t.currentVersion))))
    assert(t.readVersion(drop).columns.toSeq === Seq("id", "amount"))
  }

  test("empty table") {
    val t = fresh()
    assert(t.read().columns.isEmpty && t.read().count() === 0)
    // an empty write still records, and reads back, its schema
    t.append(spark.emptyDataset[(Long, String)].toDF("id", "status"))
    assertSame(t.read(), footerRead(t.dirsOfVersion(1)))
    assert(t.read().columns.toSeq === Seq("id", "status"))
    t.append(Seq((1L, "a")).toDF("id", "status"))
    assertEveryVersion(t)
  }

  test("after expireSnapshots: kept versions read as before, the record expires with its dir") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "status"))
    t.append(Seq((2L, "b", 2.0)).toDF("id", "status", "amount"))
    t.overwrite(Seq((3L, "c", 3.0)).toDF("id", "status", "amount"))
    t.append(Seq((4L, "d")).toDF("id", "status"))
    val expired = t.dirsOfVersion(2)
    t.expireSnapshots(keep = 2)
    (3 to 4).foreach(v => assertSame(t.readVersion(v), footerRead(t.dirsOfVersion(v))))
    assert(expired.forall(d => !Files.exists(Paths.get(d))))

    // partitioned: the commit dir goes whole once no live entry is under it
    val p = fresh(partitionBy = Seq("p"))
    p.append(Seq((1L, "a"), (2L, "b")).toDF("id", "p"))
    p.overwrite(Seq((3L, "a")).toDF("id", "p"))
    p.append(Seq((4L, "b")).toDF("id", "p"))
    val gone = Paths.get(p.dirsOfVersion(1).head).getParent
    p.expireSnapshots(keep = 1)
    assert(!Files.exists(gone))
    assertSame(p.read(), footerRead(p.dirsOfVersion(p.currentVersion), partitionDepth = 1))
  }

  test("a commit dir without a schema record fails with its cause") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "status"))
    Files.delete(Paths.get(t.dirsOfVersion(1).head, "_schema.json"))
    val e = intercept[IllegalArgumentException](t.read())
    assert(e.getMessage.contains("before commits recorded their schema"))
  }

  test("skipping reads resolve files through the same records") {
    val t = fresh()
    t.append((1 to 50).map(i => (i.toLong, i.toDouble)).toDF("id", "val"))
    t.renameColumn("val", "amount")
    t.append((51 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "amount"))
    // both epochs kept: the pre-rename file reads under the current name
    val got = t.readSkipping("amount", 40.0, 60.0)
    assert(got.columns.toSeq === Seq("id", "amount"))
    assert(got.filter(col("amount").between(40.0, 60.0)).count() === 21)
    assert(t.readSkipping("amount", 1000.0, 2000.0).count() === 0)
  }
}
