package graft.lakehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Refs + write-audit-publish on SnapshotTable: tags pin versions
  * against expiry, branch commits are invisible to main until an atomic
  * fast-forward, publish refuses after a concurrent main commit, a
  * dropped branch leaves no trace in main's history, and version
  * allocation never collides across main and branches.
  */
class RefsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String): SnapshotTable =
    SnapshotTable.create(spark,
      tempDir(prefix).toString + "/t")

  private def rows(n: Int, tag: String) =
    (1 to n).map(i => (i.toLong, tag)).toDF("k", "v")

  test("tags: immutable name -> version, readable after expiry of " +
    "untagged neighbors") {
    val t = fresh("graft-refs-tag")
    t.append(rows(3, "a")) // v1
    t.tag("launch")        // at v1
    t.append(rows(2, "b")) // v2
    (3 to 8).foreach(i => t.append(rows(1, s"c$i"))) // v3..v8
    intercept[IllegalArgumentException](t.tag("launch", 2))
    t.tag("launch", 1) // same version: no-op
    assert(t.tags === Map("launch" -> 1))

    t.expireSnapshots(keep = 2)
    // v1 is tagged: its manifest AND data survive the expiry
    assert(t.readTag("launch").count() === 3)
    assert(t.readVersion(1).count() === 3)
    // an untagged old version is gone
    intercept[Exception](t.readVersion(2))
  }

  test("branch writes stay invisible to main; publish fast-forwards " +
    "atomically; the published commits become main history") {
    val t = fresh("graft-refs-wap")
    t.append(rows(5, "base")) // v1
    val base = t.branch("audit")
    assert(base === 1)

    t.appendToBranch("audit", rows(4, "staged"))
    t.appendToBranch("audit", rows(3, "staged2"))
    // main readers see none of it
    assert(t.read().count() === 5)
    assert(t.currentVersion === 1)
    assert(t.history().count() === 1)
    // branch readers see all of it
    assert(t.readBranch("audit").count() === 12)

    val v = t.publish("audit")
    assert(t.currentVersion === v)
    assert(t.read().count() === 12)
    // both staged commits are now main lineage
    assert(t.history().count() === 3)
    assert(t.branches.isEmpty, "publish consumes the branch ref")
  }

  test("publish refuses after a concurrent main commit (optimistic " +
    "concurrency), and version allocation never collides") {
    val t = fresh("graft-refs-conflict")
    t.append(rows(2, "base")) // v1
    t.branch("risky")
    val bv = t.appendToBranch("risky", rows(9, "staged")) // takes v2
    val mv = t.append(rows(1, "raced")) // main moves — must NOT take v2
    assert(mv > bv, s"main commit $mv collided with branch commit $bv")
    assert(t.read().count() === 3, "main sees its own commit only")
    intercept[IllegalArgumentException](t.publish("risky"))
    assert(t.read().count() === 3, "failed publish changed main")
    t.dropBranch("risky")
  }

  test("a dropped branch leaves no trace in main history, and its " +
    "manifests expire once old enough") {
    val t = fresh("graft-refs-drop")
    t.append(rows(2, "base")) // v1
    t.branch("dead")
    t.appendToBranch("dead", rows(7, "orphan"), op = "orphan-op") // v2
    t.dropBranch("dead")
    (1 to 6).foreach(i => t.append(rows(1, s"m$i"))) // v3..v8
    // lineage walk: the orphan op never appears
    assert(t.history().filter(col("operation") === "orphan-op").count() === 0)
    assert(t.read().count() === 8)
    t.expireSnapshots(keep = 3)
    // the orphan manifest (v2, untagged, unreferenced) is gone with its data
    intercept[Exception](t.readVersion(2))
    assert(t.read().count() === 8, "expiry touched live data")
  }

  test("a branch chained from an expired base keeps reading (its " +
    "manifest is a GC root for the dirs it references)") {
    val t = fresh("graft-refs-gc")
    t.append(rows(5, "base"))  // v1
    t.branch("longlived")
    t.appendToBranch("longlived", rows(2, "staged")) // v2, refs v1's dirs
    (1 to 6).foreach(i => t.overwrite(rows(1, s"ow$i"))) // v3..v8 COW
    t.expireSnapshots(keep = 2)
    intercept[Exception](t.readVersion(1)) // base manifest expired
    // but the branch still reads base's data through its own manifest
    assert(t.readBranch("longlived").count() === 7)
  }

  test("writeAuditPublish: a passing audit publishes, a failing audit " +
    "leaves main untouched with no residue") {
    val t = fresh("graft-refs-wap2")
    t.append(rows(10, "base")) // v1

    // audit rejects: staged state would carry nulls in k
    val bad = Seq((null.asInstanceOf[java.lang.Long], "bad"))
      .toDF("k", "v").select(col("k").cast("long").as("k"), col("v"))
    val r1 = t.writeAuditPublish(bad,
      staged => staged.filter(col("k").isNull).isEmpty)
    assert(r1.isEmpty)
    assert(t.read().count() === 10 && t.branches.isEmpty)

    // audit passes: row count grows and no nulls
    val r2 = t.writeAuditPublish(rows(5, "good"),
      staged => staged.filter(col("k").isNull).isEmpty)
    assert(r2.nonEmpty)
    assert(t.read().count() === 15)
    assert(t.read().filter(col("v") === "good").count() === 5)
  }
}
