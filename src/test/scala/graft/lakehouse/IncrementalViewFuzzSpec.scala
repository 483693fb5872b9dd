package graft.lakehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Differential fuzz for IVM: random interleavings of append / COW
  * update / COW delete / refresh must keep `view.read()` equal to a
  * full recompute at every refresh point — including refreshes that
  * fold several commits at once and sequences that empty groups.
  */
class IncrementalViewFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def recompute(t: SnapshotTable): Map[String, (Long, Long)] =
    if (t.read().columns.isEmpty) Map.empty
    else t.read().groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  private def viewMap(v: IncrementalView): Map[String, (Long, Long)] = {
    val f = v.read()
    if (f.columns.isEmpty) Map.empty
    else f.select("g", "n_rows", "sum_cents").as[(String, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("random op sequences: view ≡ recompute at every refresh point") {
    for (seed <- Seq(7L, 23L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val root = tempDir(s"graft-ivmfuzz-$seed").toString
      val base = SnapshotTable.create(spark, s"$root/base")
      val view = new IncrementalView(base, Seq("g"), Seq("cents"),
        s"$root/view")
      val groups = Seq("a", "b", "c", "d")
      var refreshes = 0
      (1 to 14).foreach { step =>
        rnd.nextInt(4) match {
          case 0 | 1 => // append 1-4 rows
            val rows = Seq.fill(1 + rnd.nextInt(4))(
              (groups(rnd.nextInt(groups.size)), rnd.nextInt(1000).toLong))
            base.append(rows.toDF("g", "cents"))
          case 2 if base.read().columns.nonEmpty &&
              base.read().count() > 0 => // COW update a random group
            base.update(col("g") === groups(rnd.nextInt(groups.size)),
              Map("cents" -> (col("cents") + 1L)))
          case 3 if base.read().columns.nonEmpty &&
              base.read().count() > 0 => // COW delete a random group
            base.delete(col("g") === groups(rnd.nextInt(groups.size)))
          case _ => ()
        }
        if (rnd.nextBoolean() || step == 14) {
          view.refresh()
          refreshes += 1
          assert(viewMap(view) == recompute(base),
            s"seed=$seed step=$step: view diverged from recompute")
        }
      }
      assert(refreshes > 2, s"seed=$seed exercised too few refreshes")
    }
  }
}
