package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.storage.StorageLevel

class PlanCacheSpec extends SparkSpec {

  test("persisted memoizes per (session, key) and clear evicts + unpersists") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq(1, 2, 3).toDF("n") }

    val a = PlanCache.persisted(spark, "plancache-spec-a")(build())
    val b = PlanCache.persisted(spark, "plancache-spec-a")(build())
    assert(builds === 1, "same key must not rebuild")
    assert(a eq b)
    assert(a.storageLevel === StorageLevel.MEMORY_AND_DISK)

    PlanCache.clear(spark)
    assert(a.storageLevel === StorageLevel.NONE, "clear must unpersist")
    PlanCache.persisted(spark, "plancache-spec-a")(build())
    assert(builds === 2, "cleared entry must rebuild on next use")
    PlanCache.clear(spark)
  }

  test("checkpointed memoizes a lineage-truncated frame; clear evicts it") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq(1, 2, 3).toDF("n") }
    val a = PlanCache.checkpointed(spark, "plancache-spec-ck")(build())
    val b = PlanCache.checkpointed(spark, "plancache-spec-ck")(build())
    assert(builds === 1 && (a eq b))
    // the memoized frame's plan is the checkpoint scan, not the build —
    // the task-binary property the variant exists for
    assert(a.queryExecution.optimizedPlan.toString.contains("ExistingRDD") ||
      a.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    assert(a.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
    PlanCache.clear(spark)
    PlanCache.checkpointed(spark, "plancache-spec-ck")(build())
    assert(builds === 2, "cleared checkpointed entry must rebuild")
    PlanCache.clear(spark)
  }

  test("clearMatching evicts only keys containing the substring") {
    import spark.implicits._
    val keep = PlanCache.persisted(spark, "plancache-spec-keep/dirA")(
      Seq(1).toDF("n"))
    val drop = PlanCache.persisted(spark, "plancache-spec-drop/dirB")(
      Seq(2).toDF("n"))
    keep.count(); drop.count()
    PlanCache.clearMatching(spark, "/dirB")
    assert(drop.storageLevel === StorageLevel.NONE,
      "matching entry must unpersist")
    assert(keep.storageLevel !== StorageLevel.NONE,
      "non-matching entry must survive")
    // an evicted key rebuilds; the surviving key does not
    var rebuilt = false
    PlanCache.persisted(spark, "plancache-spec-drop/dirB") {
      rebuilt = true; Seq(2).toDF("n")
    }
    assert(rebuilt)
    PlanCache.persisted(spark, "plancache-spec-keep/dirA") {
      fail("surviving key must not rebuild")
    }
    PlanCache.clear(spark)
  }

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("clear releases a checkpointed entry's blocks") {
    import spark.implicits._
    val before = persistentIds
    PlanCache.checkpointed(spark, "plancache-spec-release")(
      Seq(1, 2, 3).toDF("n")).count()
    val pinned = persistentIds -- before
    assert(pinned.size === 1, "the entry pins its checkpoint RDD")
    PlanCache.clear(spark)
    assert((persistentIds intersect pinned).isEmpty,
      "clear must release the checkpoint RDD, not only forget the entry")
  }

  test("clearMatching releases a checkpointed entry's blocks") {
    import spark.implicits._
    val before = persistentIds
    PlanCache.checkpointed(spark, "plancache-spec-release/dirC")(
      Seq(1, 2, 3).toDF("n")).count()
    val pinned = persistentIds -- before
    assert(pinned.size === 1)
    PlanCache.clearMatching(spark, "/dirC")
    assert((persistentIds intersect pinned).isEmpty,
      "clearMatching must release the checkpoint RDD")
    PlanCache.clear(spark)
  }

  test("memoized stores a truncated frame as it is, without a second checkpoint") {
    import spark.implicits._
    val before = persistentIds
    val built = PlanCache.truncate(Seq(1, 2, 3).toDF("n"))
    val a = PlanCache.memoized(spark, "plancache-spec-memo")(built)
    assert(a eq built)
    assert((persistentIds -- before).size === 1)
    PlanCache.release(a)
    assert(persistentIds -- before === Set.empty[Int])
    PlanCache.clear(spark)
  }

  test("concurrent callers of one key wait for a single build") {
    import spark.implicits._
    val builds = new AtomicInteger()
    val started = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    def build() = {
      builds.incrementAndGet()
      started.countDown()
      assert(finish.await(60, TimeUnit.SECONDS))
      Seq(1, 2, 3).toDF("n")
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    def caller() = new Thread(() => {
      results.add(PlanCache.checkpointed(spark, "plancache-spec-race")(build()))
      ()
    })
    val first = caller()
    first.start()
    assert(started.await(60, TimeUnit.SECONDS))
    val second = caller()
    second.start()
    // the second caller is parked (on the entry, or in a build of its own)
    // before the first build may finish
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!Set(Thread.State.BLOCKED, Thread.State.WAITING,
        Thread.State.TIMED_WAITING).contains(second.getState) &&
      System.nanoTime() < deadline) Thread.sleep(5)
    finish.countDown()
    first.join(); second.join()
    assert(builds.get === 1, "same-key callers must share one build")
    assert(results.size === 2 && (results.peek() eq results.toArray.last))
    PlanCache.clear(spark)
  }

  test("x53, x60 and a13 run twice hold nothing past clear") {
    PlanCache.clear(spark)
    val before = persistentIds
    for (q <- Seq(graft.dedup.ClusterQueries.x53QualityPropagation,
        graft.text.TextQueries.x60DoremiMixture,
        graft.analytics.RelationalQueries.a13Percentiles); _ <- 1 to 2)
      q.run(spark, sfDir).collect()
    PlanCache.clear(spark)
    // Spark holds persisted RDDs weakly, so only additions are checked
    assert(persistentIds -- before === Set.empty[Int],
      "the last truncated round and the percentile result must be released")
  }

  test("BpeLearn.learnWithStats leaves the persistent-RDD set as it found it") {
    import spark.implicits._
    val corpus = Seq("l o w", "l o w e r", "l o w e s t", "n e w",
      "n e w e s t", "w i d e", "w i d e s t").map(_.split(" ").toSeq)
    val before = persistentIds
    val (merges, stats) = graft.text.BpeLearn.learnWithStats(corpus.toDF("toks"), 6)
    assert(merges.nonEmpty && stats.rounds >= 1)
    assert(persistentIds === before,
      "every superseded and the final round's checkpoint must be released")
  }
}
