package graft.lakehouse

import graft.SparkSpec
import graft.cdc.{Cdc, CdcApply}
import graft.metrics.QueryMetrics
import graft.streaming.{AuditedSink, StreamingDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark jobs the lakehouse layer submits, counted per job group by
  * [[QueryMetrics]]: planning a read submits none, and one CDC write
  * cycle over a 46k-row mirror stays within its budget while the merges
  * keep the table spread over several even files.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(partitionBy: Seq[String] = Nil) = SnapshotTable.create(spark,
    tempDir("graft-jobs").toString, partitionBy)

  private def jobsOf(group: String)(body: => Unit): Long =
    QueryMetrics.of(spark).measure(group)(body)._2.jobs

  test("building read(), readVersion(v) and IncrementalView.read() submits no job") {
    val plain = fresh()
    plain.append(Seq((1L, "a", 1L)).toDF("id", "g", "x"))
    plain.append(Seq((2L, "b", 2L, "n")).toDF("id", "g", "x", "note"))
    plain.merge(Seq((1L, "a", 5L, "m")).toDF("id", "g", "x", "note"), Seq("id"))
    plain.renameColumn("x", "amount")
    // more commit dirs than the file index lists without a job
    val many = fresh()
    (1 to 40).foreach(i => many.append(Seq((i.toLong, i.toDouble)).toDF("id", "v")))
    val parted = fresh(partitionBy = Seq("p"))
    parted.append(Seq((1L, "a"), (2L, "b")).toDF("id", "p"))
    parted.append(Seq((3L, "a")).toDF("id", "p"))
    val ivm = new IncrementalView(plain, Seq("g"), Seq("amount"),
      tempDir("graft-jobs-ivm").toString)
    ivm.refresh()

    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val jobs = jobsOf("plan-reads") {
      Seq(plain, many, parted).foreach { t =>
        frames += t.read()
        (0 to t.currentVersion).foreach(v => frames += t.readVersion(v))
      }
      frames += ivm.read()
    }
    assert(jobs === 0)
    // the frames are real reads
    assert(frames.take(2).map(_.count()) === Seq(2L, 0L))
    assert(many.read().count() === 40)
    assert(ivm.read().agg(sum("sum_amount")).head.getLong(0) === 7L)
  }

  test("replay checks walk the manifests on the driver") {
    val t = fresh()
    CdcApply.applyBatch(Cdc.generateUsersCdc(spark, 20).filter(col("__op") === "c"), 3, t)
    t.append(t.read().limit(0), "dedup-batch-4")
    var seen = Seq.empty[Boolean]
    val jobs = jobsOf("replay-checks") {
      seen = Seq(CdcApply.committed(t, 3), CdcApply.committed(t, 4),
        StreamingDedup.committed(t, 4), AuditedSink.committed(t, 4))
    }
    assert(jobs === 0)
    assert(seen === Seq(true, false, true, false))
    assert(t.operations() === Seq("cdc-batch-3", "dedup-batch-4"))
  }

  // a 2,500-change batch over the 45,454-key mirror: 750 inserts above the
  // key range, 1,250 updates and 500 deletes of live keys
  private val MirrorKeys = 50000L

  private def changes(b: Int): DataFrame = {
    val lsnBase = 1000000000000L * b
    val insertLo = MirrorKeys + (b - 1) * 750L
    val inserts = Cdc.generateUsersCdc(spark, insertLo + 750)
      .filter(col("__op") === "c" && col("id") >= insertLo)
    val live = Cdc.generateUsersCdc(spark, MirrorKeys)
      .filter(col("__op") === "c" && col("id") % 11 =!= 0)
    val lo = (b - 1) * 4000L
    val updates = live.filter(col("id").between(lo + 1, lo + 1375))
      .withColumn("__op", lit("u"))
      .withColumn("account_balance", lit(b.toString))
    val deletes = live.filter(col("id").between(lo + 2001, lo + 2550))
      .withColumn("__op", lit("d")).withColumn("__deleted", lit("true"))
    inserts.unionByName(updates).unionByName(deletes)
      .withColumn("__source_lsn", col("__source_lsn") + lsnBase)
  }

  test("one CDC cycle stays within 13 jobs; merges keep the files spread") {
    val root = tempDir("graft-jobs-cdc").toString
    val table = SnapshotTable.create(spark, s"$root/users")
    CdcApply.applyBatch(
      Cdc.asSnapshotRead(Cdc.currentState(Cdc.generateUsersCdc(spark, MirrorKeys))), 0, table)
    val ivm = new IncrementalView(table, Seq("last_name"), Seq("account_balance"),
      s"$root/ivm")
    ivm.refresh()
    assert(changes(1).count() === 2500)

    def fileRows(): Seq[Long] = table.read().groupBy(input_file_name()).count()
      .collect().map(_.getLong(1)).toSeq
    val cycles = (1 to 6).map { b =>
      val batch = changes(b)
      val jobs = jobsOf(s"cdc-cycle-$b") {
        CdcApply.applyBatch(batch, b, table)
        ivm.refresh()
        ivm.read().collect()
      }
      (jobs, fileRows())
    }
    info(s"jobs per cycle: ${cycles.map(_._1).mkString(", ")}; " +
      s"files at HEAD: ${cycles.map(_._2.size).mkString(", ")}")
    assert(cycles.forall(_._1 <= 13), s"jobs per cycle: ${cycles.map(_._1)}")
    val (_, files) = cycles.unzip
    assert(files.forall(_.size <= files.head.size), s"files at HEAD: ${files.map(_.size)}")
    assert(files.forall(fs => fs.max <= 0.6 * fs.sum), s"rows per file: $files")
    assert(table.read().count() === 45454L + 6 * 250)
  }
}
