package graft.lakehouse

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order layout: Morton values interleave correctly, the rewrite is
  * row-preserving, and — the point of the operator — a box predicate on
  * the SECOND dimension touches a fraction of the files where a linear
  * sort touches all of them.
  */
class ZOrderSpec extends SparkSpec {

  test("zvalue interleaves bits (x even positions, y odd)") {
    // x=3 (011), y=5 (101), 3 bits: z = x0 + y0<<1 + x1<<2 + y1<<3 + x2<<4 + y2<<5
    //   = 1 + 2 + 4 + 0 + 0 + 32 = 39
    val z = spark.range(1)
      .select(ZOrder.zvalue(Seq(lit(3L), lit(5L)), 3).as("z"))
      .head.getLong(0)
    assert(z === 39L)
    // z-order locality: neighbors in both dims differ in low bits only
    val z2 = spark.range(1)
      .select(ZOrder.zvalue(Seq(lit(0L), lit(0L)), 3).as("a"),
        ZOrder.zvalue(Seq(lit(1L), lit(1L)), 3).as("b")).head
    assert(z2.getLong(0) === 0L && z2.getLong(1) === 3L)
  }

  /** 64x64 grid; returns (#files touched, #rows) for predicate y < 16. */
  private def filesTouched(dir: String): (Long, Long) = {
    val hit = spark.read.parquet(dir).filter(col("y") < 16)
      .select(input_file_name().as("f"))
    (hit.select("f").distinct().count(), hit.count())
  }

  private def grid: DataFrame =
    spark.range(0, 4096).select(
      (col("id") % 64).as("x"), expr("id div 64").as("y"),
      col("id").as("payload"))

  test("box predicate on the second dim touches few z-ordered files, all linear ones") {
    val base = tempDir("graft-zorder").toString
    // linear: range-sorted by (x, y) — y is subordinate, every file spans all y
    grid.repartitionByRange(16, col("x"), col("y"))
      .sortWithinPartitions("x", "y")
      .write.parquet(s"$base/linear")
    ZOrder.layout(grid, Seq("x", "y"), bits = 6, files = 16)
      .write.parquet(s"$base/zorder")

    val (linFiles, linRows) = filesTouched(s"$base/linear")
    val (zFiles, zRows) = filesTouched(s"$base/zorder")
    assert(linRows === 1024L && zRows === 1024L)
    assert(linFiles === 16L, "linear sort spreads a y-stripe over every file")
    assert(zFiles <= 8L,
      s"z-order must cluster the y-stripe into few files, touched $zFiles")
    // row preservation
    val back = spark.read.parquet(s"$base/zorder")
    assert(back.count() === 4096L)
    assert(back.select("x", "y", "payload").except(grid).count() === 0L)
  }

  test("ntileDeal equals the literal ntile window (the q18/layoutExact " +
    "shared dealer), at sizes exercising both fill branches") {
    // n = 4096 (divides 16: remainder branch empty) and n = 4093 (prime:
    // the first n mod 16 files take one extra row) — both must equal
    // ntile() exactly, with NO unpartitioned window in the dealer's plan
    for ((rows, files) <- Seq((4096, 16), (4093, 16), (10, 16))) {
      val df = spark.range(0, rows).select(
        // skewed, non-contiguous sort key; id keeps the order total
        (col("id") * col("id") % 977).as("k"), col("id"))
      val dealt = ZOrder.ntileDeal(df, Seq(col("k"), col("id")), files,
        s"zspec/deal-$rows-$files")
        .select(col("id"), col("__file"))
      val oracle = df.select(col("id"),
        ntile(files).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("k"), col("id"))).cast("long").as("nt"))
      val diff = dealt.join(oracle, Seq("id"))
        .filter(col("__file") =!= col("nt")).count()
      assert(diff === 0L, s"rows=$rows files=$files: $diff rows deal differently")
    }
  }

  test("layoutExact: exact equal shard populations with z-order clustering") {
    val base = tempDir("graft-zexact").toString
    // shard = dealt __file value, written as one directory each (the
    // fixed-shard training-input layout); sizes are EXACTLY equal — the
    // contract plain layout's sampled range boundaries cannot make
    ZOrder.layoutExact(grid, Seq("x", "y"), bits = 6, files = 16,
      cacheKey = "zspec/layout-exact")
      .write.partitionBy("__file").parquet(s"$base/zexact")
    val back = spark.read.parquet(s"$base/zexact")
    // row preservation
    assert(back.count() === 4096L)
    assert(back.select("x", "y", "payload").except(grid).count() === 0L)
    val sizes = back.groupBy("__file").count().collect().map(_.getLong(1))
    assert(sizes.length === 16, s"expected 16 shards, got ${sizes.length}")
    assert(sizes.forall(_ === 256L), s"unequal shards: ${sizes.toSeq.sorted}")
    // and it still clusters: the y-stripe touches a minority of shards
    val touched = back.filter(col("y") < 16)
      .select("__file").distinct().count()
    assert(touched <= 8L, s"layoutExact lost clustering: touched $touched")
  }

  test("compactZOrdered: COW rewrite, history labeled, older snapshots readable") {
    val base = tempDir("graft-zorder-st").toString
    val t = SnapshotTable.create(spark, s"$base/t")
    t.append(grid)
    val vBefore = t.currentVersion
    val v = t.compactZOrdered(Seq("x", "y"), targetFiles = 16, bits = 6)
    assert(v === vBefore + 1)
    assert(t.history().filter(col("operation") === "zorder").count() === 1)
    assert(t.read().count() === 4096L)
    assert(t.read().select("x", "y", "payload").except(grid).count() === 0L)
    assert(t.readVersion(vBefore).count() === 4096L)
    // the rewritten layout actually clusters: y-stripe touches <= half
    val touched = t.read().filter(col("y") < 16)
      .select(input_file_name().as("f")).distinct().count()
    val total = t.filesMetadata().count()
    assert(total >= 8, s"expected >= 8 files after rewrite, got $total")
    assert(touched * 2 <= total,
      s"y-stripe touched $touched of $total files after z-order")
  }

  test("equi-depth buckets balance a skewed dimension where equi-width collapses") {
    // 50% of x mass at 0 plus a polynomially value-skewed tail: on a
    // linear scale most tail values crowd the low end, so equi-width
    // merges them (and the spike) into bucket 0
    val skewed = spark.range(0, 4000).select(
      when(col("id") % 2 === 0, 0L)
        .otherwise(expr("(id % 16) * (id % 16) * (id % 16) * (id % 16) * 1000"))
        .as("x"),
      (col("id") % 64).as("y"))
    def zHist(equiDepth: Boolean): Map[Long, Long] =
      ZOrder.withZValue(skewed, Seq("x"), bits = 4, equiDepth = equiDepth)
        .groupBy("__z").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val widthHist = zHist(equiDepth = false)
    val depthHist = zHist(equiDepth = true)
    // equi-width: spike + low tail values crowd one bucket (~75% of rows)
    assert(widthHist.values.max >= 2900L,
      s"expected equi-width to collapse the low end: $widthHist")
    // equi-depth: no bucket exceeds the (unsplittable) spike itself, and
    // the tail values spread across several population-balanced buckets
    assert(depthHist.values.max <= 2100L,
      s"equi-depth must not exceed the spike population: $depthHist")
    assert(depthHist.size >= 6,
      s"tail must spread over several quantile buckets: $depthHist")
  }

  test("filesStats: footer min/max bounds quantify z-order file skipping") {
    val base = tempDir("graft-zstats").toString
    val t = SnapshotTable.create(spark, s"$base/t")
    t.append(grid.withColumn("maybe_null",
      when(col("payload") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("payload"))))
    t.compactZOrdered(Seq("x", "y"), targetFiles = 16, bits = 6)

    val stats = t.filesStats(Seq("x", "y", "maybe_null")).collect()
      .map(r => (r.getString(1), r.getString(2),
        Option(r.getString(3)).map(_.toLong),
        Option(r.getString(4)).map(_.toLong), r.getLong(5)))
    val files = stats.map(_._1).distinct
    assert(files.length >= 8)
    // every (file, column) has bounds; x/y have no nulls
    assert(stats.filter(s => s._2 != "maybe_null")
      .forall(s => s._3.nonEmpty && s._4.nonEmpty && s._5 === 0L))
    // global bounds across files reconstruct the data range
    val yStats = stats.filter(_._2 == "y")
    assert(yStats.map(_._3.get).min === 0L && yStats.map(_._4.get).max === 63L)
    // THE pruning measure: files whose footer y-range intersects y < 16
    // are a minority after z-order — this is exactly what a stats-based
    // planner (or parquet row-group filter) skips with
    val intersecting = yStats.count(s => s._3.get < 16)
    assert(intersecting * 2 <= files.length,
      s"$intersecting of ${files.length} files intersect y<16 after z-order")
    // null accounting folds across row groups: 4096/7 rounded up
    val nullTotal = stats.filter(_._2 == "maybe_null").map(_._5).sum
    assert(nullTotal === (0 until 4096).count(_ % 7 == 0))
  }

  test("readSkipping reads a file subset and loses no rows in range") {
    val base = tempDir("graft-skip").toString
    val t = SnapshotTable.create(spark, s"$base/t")
    t.append(grid)
    t.compactZOrdered(Seq("x", "y"), targetFiles = 16, bits = 6)

    val all = t.filesStats(Seq("y")).collect().length
    val kept = t.skippingFiles("y", 0, 15)
    assert(kept.nonEmpty && kept.length * 2 <= all,
      s"skipping kept ${kept.length} of $all files for y in [0,15]")

    // superset contract: the skipped read + predicate equals the full read
    val viaSkip = t.readSkipping("y", 0, 15)
      .filter(col("y") <= 15).agg(count(lit(1)), sum(col("payload")))
      .collect().head
    val viaFull = t.read()
      .filter(col("y") <= 15).agg(count(lit(1)), sum(col("payload")))
      .collect().head
    assert(viaSkip === viaFull, s"skipping dropped rows: $viaSkip vs $viaFull")

    // a range outside the data proves files CAN all be skipped
    assert(t.skippingFiles("y", 1000, 2000).isEmpty)
    assert(t.readSkipping("y", 1000, 2000).count() === 0L)

    // no stats row = no proof = read: a column the footers know nothing
    // about must keep EVERY file, not silently return an empty scan
    assert(t.skippingFiles("no_such_column", 0, 1).length === all)
  }

  private def categories: DataFrame =
    spark.range(0, 4000).select(
      concat(lit("cat"), lpad((col("id") % 20).cast("string"), 2, "0"))
        .as("category"),
      col("id").as("payload"))

  test("string equality skipping: clustered files prune, results match full scan") {
    val base = tempDir("graft-skip-str").toString
    val t = SnapshotTable.create(spark, s"$base/t")
    t.append(categories)
    t.compactClustered(Seq("category"), targetFiles = 10)

    val all = t.filesStats(Seq("category")).collect()
    assert(all.length === 10)
    // footer stats now render UTF-8 strings, not Binary debug junk
    assert(all.forall(r => r.getAs[String]("min").startsWith("cat")))

    val kept = t.skippingFilesEq("category", "cat07")
    assert(kept.nonEmpty && kept.length * 2 <= all.length,
      s"equality kept ${kept.length} of ${all.length} files")
    val viaSkip = t.readSkippingEq("category", "cat07")
      .filter(col("category") === "cat07")
      .agg(count(lit(1)), sum(col("payload"))).collect().head
    val viaFull = t.read().filter(col("category") === "cat07")
      .agg(count(lit(1)), sum(col("payload"))).collect().head
    assert(viaSkip === viaFull)
    assert(t.skippingFilesEq("category", "zzz").isEmpty)

    // string RANGE skipping under the same layout
    val keptRange = t.skippingFilesString("category", "cat03", "cat05")
    assert(keptRange.nonEmpty && keptRange.length * 2 <= all.length)
    val rSkip = t.readSkippingString("category", "cat03", "cat05")
      .filter(col("category").between("cat03", "cat05"))
      .agg(count(lit(1)), sum(col("payload"))).collect().head
    val rFull = t.read().filter(col("category").between("cat03", "cat05"))
      .agg(count(lit(1)), sum(col("payload"))).collect().head
    assert(rSkip === rFull)
  }

  test("bloom filter proves absence inside a wide min/max range") {
    val base = tempDir("graft-skip-bloom").toString
    val t = SnapshotTable.create(spark, s"$base/t")
    import spark.implicits._
    // one file spanning [aaa, zzz] but CONTAINING only the endpoints:
    // range stats keep it for "mmm"; only the bloom can prove absence.
    // Dictionary encoding off — parquet omits blooms for fully
    // dictionary-encoded chunks, which would void the proof.
    t.append(Seq.fill(500)("aaa").map(c => (c, 1L))
      .++(Seq.fill(500)("zzz").map(c => (c, 2L))).toDF("category", "payload")
      .coalesce(1))
    t.compactClustered(Seq("category"), targetFiles = 1,
      writeOptions = Map("parquet.enable.dictionary" -> "false"))
    assert(t.skippingFilesString("category", "mmm", "mmm").nonEmpty,
      "range stats alone cannot prove mmm absent")
    assert(t.skippingFilesEq("category", "mmm").isEmpty,
      "the bloom filter must prove mmm absent")
    // present values are of course kept and read back intact
    assert(t.skippingFilesEq("category", "zzz").nonEmpty)
    assert(t.readSkippingEq("category", "zzz")
      .filter(col("category") === "zzz").count() === 500L)
  }
}
