package graft.lakehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** IVM: refresh ≡ full recompute under appends, COW updates/deletes and
  * whole-group retraction; replay after a simulated crash converges
  * (marker-pinned reads); refresh touches only the changed commits.
  */
class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private def newBase(dir: String) = SnapshotTable.create(spark, dir)

  private def recompute(t: SnapshotTable) =
    t.read().groupBy("g").agg(count(lit(1)).as("n_rows"),
      sum(col("cents")).as("sum_cents"))

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
    df.select("g", "n_rows", "sum_cents").as[(String, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

  private def mk(): (SnapshotTable, IncrementalView) = {
    val root = tempDir("graft-ivm").toString
    val base = newBase(s"$root/base")
    val view = new IncrementalView(base, Seq("g"), Seq("cents"), s"$root/view")
    (base, view)
  }

  test("appends: refresh equals full recompute, and reads only the delta") {
    val (base, view) = mk()
    base.append(Seq(("a", 100L), ("a", 50L), ("b", 10L)).toDF("g", "cents"))
    view.refresh()
    assert(asMap(view.read()) == asMap(recompute(base)))
    val v1 = base.currentVersion
    base.append(Seq(("a", 1L), ("c", 7L)).toDF("g", "cents"))
    // the file delta between v1 and v2 is exactly the one new commit
    val added = base.dirsOfVersion(base.currentVersion).toSet --
      base.dirsOfVersion(v1).toSet
    assert(added.size == 1, s"append delta must be one commit dir: $added")
    assert(base.readDirs(added.toSeq).count() == 2,
      "refresh input is delta-sized, not table-sized")
    view.refresh()
    assert(asMap(view.read()) == asMap(recompute(base)))
  }

  test("COW update/delete: rewritten neighbors cancel, view stays exact") {
    val (base, view) = mk()
    base.append(Seq(("a", 100L), ("a", 50L), ("b", 10L), ("b", 40L))
      .toDF("g", "cents"))
    view.refresh()
    base.update(col("cents") === 50L, Map("cents" -> lit(60L)))
    view.refresh()
    assert(asMap(view.read()) == asMap(recompute(base)))
    base.delete(col("g") === "a" && col("cents") === 100L)
    view.refresh()
    assert(asMap(view.read()) == asMap(recompute(base)))
  }

  test("whole-group retraction prunes the group from the view") {
    val (base, view) = mk()
    base.append(Seq(("a", 5L), ("b", 6L)).toDF("g", "cents"))
    view.refresh()
    base.delete(col("g") === "b")
    view.refresh()
    val got = asMap(view.read())
    assert(!got.contains("b") && got("a") == ((1L, 5L)))
  }

  test("replay after a crash between overwrite and marker converges " +
    "(no double counting)") {
    val (base, view) = mk()
    base.append(Seq(("a", 10L)).toDF("g", "cents"))
    view.refresh()
    val markerBefore = Files.readString(
      Paths.get(view.mv.root).getParent.resolve("_ivm_applied"))
    base.append(Seq(("a", 3L)).toDF("g", "cents"))
    view.refresh()
    // simulate the crash: the marker never advanced, but the MV commit
    // from the "crashed" refresh exists — rewind the marker and replay
    Files.writeString(
      Paths.get(view.mv.root).getParent.resolve("_ivm_applied"),
      markerBefore)
    view.refresh()
    assert(asMap(view.read()) == Map("a" -> ((2L, 13L))),
      "replayed refresh must re-merge from the marked state, not HEAD")
  }

  test("refresh with no base change is a no-op") {
    val (base, view) = mk()
    base.append(Seq(("a", 1L)).toDF("g", "cents"))
    val v = view.refresh()
    assert(view.refresh() == v)
    assert(asMap(view.read()) == Map("a" -> ((1L, 1L))))
  }

  test("ST28 live form: per-batch append + refresh keeps the mart exact " +
    "across a streamed change feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (base, view) = mk()
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDF().toDF("g", "cents").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        base.append(batch, op = s"ivm-feed-$id")
        view.refresh()
        ()
      }.start()
    try {
      mem.addData(Seq(("a", 10L), ("b", 5L)))
      q.processAllAvailable()
      assert(asMap(view.read()) == asMap(recompute(base)))
      mem.addData(Seq(("a", 2L), ("c", 1L)))
      q.processAllAvailable()
      assert(asMap(view.read()) == asMap(recompute(base)))
    } finally q.stop()
    // an out-of-band COW delete lands at the next refresh, same algebra
    base.delete(col("g") === "b")
    view.refresh()
    assert(asMap(view.read()) == asMap(recompute(base)))
  }

  test("view before any refresh is empty; first refresh folds all history") {
    val (base, view) = mk()
    assert(view.read().columns.isEmpty || view.read().count() == 0)
    base.append(Seq(("a", 1L)).toDF("g", "cents"))
    base.append(Seq(("a", 2L), ("b", 3L)).toDF("g", "cents"))
    base.delete(col("g") === "b")
    view.refresh()
    assert(asMap(view.read()) == Map("a" -> ((2L, 3L))))
  }
}
