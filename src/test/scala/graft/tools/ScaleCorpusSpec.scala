package graft.tools

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** [[ScaleCorpus]] contract: linear growth, self-consistent replica
  * sub-universes, and exactly-preserved order-independent document
  * statistics (the properties the scale soak's near-linear-wall-time
  * claim rests on).
  */
class ScaleCorpusSpec extends SparkSpec {

  private val replicas = 3
  private lazy val outDir = {
    val d = tempDir("graft-scale-corpus").toString
    ScaleCorpus.generate(spark, sfDir, d, replicas = replicas, spread = 4)
    d
  }

  test("fact tables grow by the replica factor; fixed dims do not") {
    for (t <- Seq("customer", "orders", "lineitem", "events", "documents",
        "embeddings", "supplier", "part")) {
      val n0 = Tables.load(spark, sfDir, t).count()
      val n1 = Tables.load(spark, outDir, t).count()
      assert(n1 === n0 * replicas, t)
    }
    for (t <- Seq("region", "nation"))
      assert(Tables.load(spark, outDir, t).count() ===
        Tables.load(spark, sfDir, t).count(), t)
  }

  test("keys stay unique after shifting (replica universes are disjoint)") {
    def distinctOf(dir: String, t: String, k: String): Long =
      Tables.load(spark, dir, t).select(k).distinct().count()
    for ((t, k) <- Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
        "events" -> "event_id", "documents" -> "doc_id"))
      assert(distinctOf(outDir, t, k) === distinctOf(sfDir, t, k) * replicas,
        s"$t.$k")
  }

  test("foreign keys shift together: joins scale exactly linearly") {
    def joined(dir: String): Long =
      Tables.load(spark, dir, "orders")
        .join(Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .count()
    assert(joined(outDir) === joined(sfDir) * replicas)
    def lines(dir: String): Long =
      Tables.load(spark, dir, "lineitem")
        .join(Tables.load(spark, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .count()
    assert(lines(outDir) === lines(sfDir) * replicas)
  }

  test("document permutation preserves every order-independent statistic") {
    val src = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").as("src_text"))
    val scaled = Tables.load(spark, outDir, "documents")
      .withColumn("orig_id", col("doc_id") % ScaleCorpus.KeyOffset)
      .withColumn("r", (col("doc_id") / ScaleCorpus.KeyOffset).cast("int"))
    val joined = scaled.join(src, scaled("orig_id") === src("doc_id"))
      .select(col("r"), col("text"), col("src_text"), col("n_chars"))
      .withColumn("bag", array_sort(split(col("text"), " ")))
      .withColumn("src_bag", array_sort(split(col("src_text"), " ")))
      .cache()
    try {
      // word multiset (=> length, diversity, stopword ratio, token counts)
      // identical for every replica of every doc
      assert(joined.filter(col("bag") =!= col("src_bag")).count() === 0)
      // replica 0 is verbatim
      assert(joined.filter(col("r") === 0)
        .filter(col("text") =!= col("src_text")).count() === 0)
      // n_chars column matches the stored text
      assert(joined.filter(col("n_chars") =!= length(col("text"))).count() === 0)
      // replicas genuinely reorder: most multi-word docs change text
      val multi = joined.filter(col("r") > 0 && size(col("bag")) >= 8)
      val changed = multi.filter(col("text") =!= col("src_text")).count()
      assert(changed >= (multi.count() * 0.9).toLong)
    } finally { joined.unpersist(); () }
  }

  test("within-replica exact-duplicate structure is preserved") {
    // The driver corpus is not guaranteed to contain exact duplicates
    // (the current regeneration has none), so synthesize them: clone 5
    // docs under fresh ids, then scale that corpus. The permutation is a
    // pure function of (text, replica), so identical texts must stay
    // identical within a replica — and distinct replicas stay disjoint.
    val dupSrc = tempDir("graft-scale-dupsrc")
    for (t <- Tables.all.keys)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        dupSrc.resolve(s"$t.parquet"))
    val docs = Tables.load(spark, sfDir, "documents")
    val clones = docs.orderBy("doc_id").limit(5)
      .withColumn("doc_id", col("doc_id") + 50000L)
    docs.unionByName(clones).write.mode("overwrite")
      .parquet(s"$dupSrc/documents.parquet")

    def dupGroups(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("text").count().filter(col("count") >= 2).count()
    val n0 = dupGroups(Tables.load(spark, dupSrc.toString, "documents"))
    assert(n0 >= 5L, s"synthesized corpus must contain dup groups, got $n0")

    val dupOut = tempDir("graft-scale-dupout")
    ScaleCorpus.generate(spark, dupSrc.toString, dupOut.toString,
      replicas = replicas, spread = 2)
    val perReplica = Tables.load(spark, dupOut.toString, "documents")
      .withColumn("r", (col("doc_id") / ScaleCorpus.KeyOffset).cast("int"))
      .groupBy("r", "text").count().filter(col("count") >= 2)
      .groupBy("r").count().collect()
    assert(perReplica.length === replicas)
    perReplica.foreach(row =>
      assert(row.getLong(1) === n0, s"replica ${row.getInt(0)}"))
  }
}
