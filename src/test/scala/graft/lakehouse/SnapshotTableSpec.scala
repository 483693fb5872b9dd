package graft.lakehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S7-S9 semantics on the parquet snapshot layer: append/overwrite/DML,
  * time travel, metadata tables, snapshot expiry, schema evolution.
  * Mirrors the reference's Iceberg self-test
  * (`task5-iceberg-setup-job.yaml:395-507`).
  */
class SnapshotTableSpec extends SparkSpec {

  private def freshTable() = SnapshotTable.create(spark,
    tempDir("graft-snap").toString)

  import org.apache.spark.sql.DataFrame
  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "status", "amount")
  }

  test("append chains file sets; reads see accumulated rows") {
    val t = freshTable()
    t.append(df((1L, "new", 10.0)))
    t.append(df((2L, "new", 20.0), (3L, "paid", 30.0)))
    assert(t.read().count() === 3)
    assert(t.currentVersion === 2)
    // append did not rewrite v1's files: both data dirs referenced
    assert(t.filesMetadata().select("dir").distinct().count() === 2)
  }

  test("time travel: every historical version stays readable") {
    val t = freshTable()
    t.append(df((1L, "new", 10.0)))
    t.overwrite(df((1L, "gone", 99.0)))
    assert(t.readVersion(0).count() === 0)
    assert(t.readVersion(1).head().getString(1) === "new")
    assert(t.read().head().getString(1) === "gone")
  }

  test("copy-on-write UPDATE and DELETE (reference ACID test shape)") {
    val t = freshTable()
    t.append(df((1L, "new", 10.0), (2L, "new", 20.0), (3L, "paid", 30.0)))
    t.update(col("status") === "new", Map("amount" -> (col("amount") * 2)))
    val afterUpdate = t.read().orderBy("id").collect()
    assert(afterUpdate.map(_.getDouble(2)).toSeq === Seq(20.0, 40.0, 30.0))
    t.delete(col("status") === "paid")
    assert(t.read().count() === 2)
    // old snapshot still has the pre-update values (time travel)
    assert(t.readVersion(1).orderBy("id").collect().map(_.getDouble(2)).toSeq
      === Seq(10.0, 20.0, 30.0))
  }

  test("MERGE: update matched, insert unmatched, delete marked, history kept") {
    val t = freshTable()
    t.append(df((1L, "new", 10.0), (2L, "new", 20.0), (3L, "paid", 30.0)))
    // 1 updates, 4 inserts, 3 deletes (status sentinel drives the delete)
    val src = df((1L, "paid", 11.0), (4L, "new", 40.0), (3L, "tombstone", 0.0))
    val v = t.merge(src, Seq("id"), deleteWhen = Some(col("status") === "tombstone"))
    val now = t.read().orderBy("id").collect()
    assert(now.map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
    assert(now(0).getString(1) === "paid" && now(0).getDouble(2) === 11.0,
      "matched row must take the source values")
    assert(now(1).getString(1) === "new", "untouched row must survive as-is")
    assert(now(2).getDouble(2) === 40.0, "unmatched source row must insert")
    // COW: the pre-merge snapshot is intact and the op is recorded
    assert(t.readVersion(v - 1).count() === 3)
    assert(t.history().filter(col("version") === v).head().getString(1) === "merge")
    // ambiguous merge (duplicate source keys) must be refused
    intercept[IllegalArgumentException] {
      t.merge(df((5L, "a", 1.0), (5L, "b", 2.0)), Seq("id"))
    }
    // merging into an empty table is a plain insert
    val t2 = freshTable()
    t2.merge(df((9L, "new", 90.0)), Seq("id"))
    assert(t2.read().head().getLong(0) === 9L)
  }

  test("MERGE: null keys never match (SQL standard), nondeterministic source pinned") {
    import spark.implicits._
    val t = freshTable()
    t.append(Seq((java.lang.Long.valueOf(1L), "t-null"), (null.asInstanceOf[java.lang.Long], "t-one"))
      .toDF("id", "status"))
    // null-keyed source row inserts ALONGSIDE the null-keyed target row
    // (NULL = NULL is not a match), non-null key replaces normally
    t.merge(Seq((java.lang.Long.valueOf(1L), "s-upd"), (null.asInstanceOf[java.lang.Long], "s-null"))
      .toDF("id", "status"), Seq("id"))
    val rows = t.read().collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).sorted.toSeq
    assert(rows === Seq((-1L, "s-null"), (-1L, "t-one"), (1L, "s-upd")))

    // a nondeterministic source must write exactly what the ambiguity
    // check saw: one materialization (merge persists the source), so the
    // written ids are a subset of 0..99 with no duplicates
    val t2 = freshTable()
    val nondet = spark.range(200)
      .withColumn("id", (rand(7) * 100).cast("long"))
      .withColumn("status", lit("x")).drop("id").toDF()
      .select((rand(7) * 100).cast("long").as("id"), lit("x").as("status"))
      .dropDuplicates("id")
    t2.merge(nondet, Seq("id"))
    val ids = t2.read().select("id").as[Long].collect().toSeq
    assert(ids.distinct.size === ids.size,
      "re-evaluated nondeterministic source produced duplicate merge keys")
  }

  test("history and files metadata tables") {
    val t = freshTable()
    t.append(df((1L, "a", 1.0)))
    t.overwrite(df((2L, "b", 2.0)))
    t.delete(col("status") === "zzz")
    val h = t.history().orderBy("version").collect()
    assert(h.map(_.getString(1)).toSeq === Seq("append", "overwrite", "delete"))
    assert(t.filesMetadata().count() > 0)
  }

  test("expireSnapshots keeps recent manifests, removes orphaned data") {
    val t = freshTable()
    t.append(df((1L, "a", 1.0)))
    t.overwrite(df((2L, "b", 2.0)))
    t.overwrite(df((3L, "c", 3.0)))
    t.expireSnapshots(keep = 1)
    assert(t.read().head().getLong(0) === 3)
    intercept[Exception](t.readVersion(1).collect())
    // v1's data dir physically removed
    val dataDirs = new java.io.File(s"${t.root}/data").listFiles().map(_.getName)
    assert(!dataDirs.contains("v00001"))
    assert(dataDirs.contains("v00003"))
    // metadata tables keep working after expiry (only live versions)
    val h = t.history().collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(3))
    assert(t.filesMetadata().count() > 0)
  }

  test("expireSnapshots is safe to call repeatedly, including a larger keep") {
    val t = freshTable()
    (1 to 5).foreach(i => t.overwrite(df((i.toLong, "s", i.toDouble))))
    t.expireSnapshots(keep = 1) // drops v1..v4
    // second call must not choke on already-deleted manifests...
    t.expireSnapshots(keep = 1)
    // ...nor a later call with a LARGER keep window reaching into them
    t.overwrite(df((6L, "t", 6.0)))
    t.expireSnapshots(keep = 4)
    assert(t.read().head().getLong(0) === 6)
    assert(t.history().collect().map(_.getInt(0)).toSeq === Seq(5, 6))
  }

  test("schema evolution: new nullable column, old snapshots still readable") {
    import spark.implicits._
    val t = freshTable()
    t.append(df((1L, "a", 1.0)))
    t.append(Seq((2L, "b", 2.0, "extra")).toDF("id", "status", "amount", "note"))
    val cur = t.read()
    assert(cur.columns.toSet === Set("id", "status", "amount", "note"))
    val byId = cur.orderBy("id").collect()
    assert(byId(0).isNullAt(3)) // old row: evolved column null
    assert(byId(1).getString(3) === "extra")
    // pre-evolution snapshot keeps the narrow schema
    assert(t.readVersion(1).columns.toSet === Set("id", "status", "amount"))
  }

  test("compact collapses many small appends into few files, history intact") {
    val t = freshTable()
    (1 to 6).foreach(i => t.append(df((i.toLong, "s", i.toDouble))))
    val before = t.filesMetadata().count()
    t.compact(targetFiles = 1)
    assert(t.read().count() === 6)
    assert(t.filesMetadata().count() < before)
    assert(t.filesMetadata().select("dir").distinct().count() === 1)
    // pre-compaction snapshots still readable
    assert(t.readVersion(3).count() === 3)
    assert(t.history().orderBy(org.apache.spark.sql.functions.col("version").desc)
      .head().getString(1) === "compact")
  }

  test("partitioned table: appends land hive-style, reads restore partition column") {
    import spark.implicits._
    val t = SnapshotTable.create(spark,
      tempDir("graft-snap-p").toString, partitionBy = Seq("p"))
    t.append(Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "amount", "p"))
    t.append(Seq((3L, 30.0, "a")).toDF("id", "amount", "p"))
    val rows = t.read().orderBy("id").collect()
    assert(rows.map(r => (r.getAs[Long]("id"), r.getAs[String]("p"))).toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "a")))
    // partition pruning: a p-filter scans only that partition's subdirs
    val scanned = t.read().filter(col("p") === "a")
    assert(scanned.count() === 2)
    // time travel works on the partitioned layout too
    assert(t.readVersion(1).count() === 2)
    // reopening with a conflicting spec is refused
    intercept[IllegalArgumentException] {
      SnapshotTable.create(spark, t.root, partitionBy = Seq("q"))
    }
    // whole-table compact is refused on a partitioned table
    intercept[IllegalArgumentException] { t.compact(1) }
  }

  test("compactPartitions: per-partition binpack, untouched partitions byte-identical") {
    import spark.implicits._
    val t = SnapshotTable.create(spark,
      tempDir("graft-snap-c").toString, partitionBy = Seq("p"))
    // partition a: many small files across commits; partition b: one file
    (1 to 5).foreach(i =>
      t.append(Seq((i.toLong, i.toDouble, "a")).toDF("id", "amount", "p")))
    t.append(Seq((100L, 1.0, "b")).toDF("id", "amount", "p"))
    def filesOf(part: String): Seq[(String, Long)] =
      t.filesMetadata().filter(col("dir").endsWith(s"p=$part"))
        .select("dir", "file", "size_bytes").collect()
        .map(r => (r.getString(0) + "/" + r.getString(1), r.getLong(2))).toSeq.sorted
    val bBefore = filesOf("b")
    val aBefore = filesOf("a")
    assert(aBefore.size >= 5, "partition a must start fragmented")
    val preVersion = t.currentVersion

    val v = t.compactPartitions(targetBytes = 64L * 1024 * 1024)
    assert(v === preVersion + 1)
    // partition a collapsed to one file; rows intact
    assert(filesOf("a").size === 1)
    assert(t.read().filter(col("p") === "a").count() === 5)
    assert(t.read().count() === 6)
    // partition b untouched: exact same file paths and sizes re-referenced
    assert(filesOf("b") === bBefore, "untouched partition must not be rewritten")
    // old snapshot intact (COW)
    assert(t.readVersion(preVersion).count() === 6)
    assert(t.history().orderBy(col("version").desc).head().getString(1) === "compact")
    // idempotent: nothing left to binpack → no new version
    assert(t.compactPartitions(64L * 1024 * 1024) === v)

    // predicate restricts the rewrite to selected partitions
    val t2 = SnapshotTable.create(spark,
      tempDir("graft-snap-c2").toString, partitionBy = Seq("p"))
    (1 to 3).foreach(i =>
      t2.append(Seq((i.toLong, 1.0, "hot"), (i.toLong, 1.0, "cold"))
        .toDF("id", "amount", "p")))
    def files2(part: String): Seq[String] =
      t2.filesMetadata().filter(col("dir").endsWith(s"p=$part"))
        .select("dir").collect().map(_.getString(0)).toSeq.sorted
    val coldBefore = files2("cold")
    t2.compactPartitions(64L * 1024 * 1024, pv => pv("p") == "hot")
    assert(files2("hot").distinct.size === 1, "hot partition compacted")
    assert(files2("cold") === coldBefore, "cold partition left alone")
  }

  test("atomic commit: HEAD and manifest agree after every operation") {
    val t = freshTable()
    (1 to 5).foreach(i => t.append(df((i.toLong, "s", i.toDouble))))
    assert(t.currentVersion === 5)
    assert(t.read().count() === 5)
    assert(t.history().count() === 5)
  }
}
