package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The materialization helper: the one module that knows how an
  * intermediate is materialized ([[truncate]], [[persisted]]), memoized
  * per session ([[persisted]], [[checkpointed]], [[memoized]]) and freed
  * ([[release]], [[clear]], [[clearMatching]]).
  *
  * Operators that materialize an intermediate (minhash signatures,
  * simhash tables, shingle indexes, cluster labels, IVF indexes) would
  * otherwise create a NEW copy on every invocation — Verify/Bench run
  * each query repeatedly in one session, and the block manager would
  * accumulate identical tables until session end.
  *
  * Lifetime: materialized DataFrames strongly reference their
  * SparkSession, so weak-reference tricks cannot make entries
  * collectable — eviction is explicit and hooked instead. `clear(spark)`
  * releases a session's entries eagerly (Verify/Bench teardown call it),
  * and a SparkListener registered at first insertion clears everything
  * for the session's context at application end, so even callers that
  * never call `clear` (test suites, notebooks) cannot leak entries past
  * the app.
  */
object PlanCache {

  /** Materialize `ds` now and cut its lineage: the result's plan is a
    * scan of the block-manager copy, so every later use reads it instead
    * of re-running (and re-serializing) the build. The blocks stay until
    * [[release]]; the job runs under the caller's scheduler pool.
    */
  def truncate[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(eager = true)

  /** Free the blocks behind a frame that `persist` or [[truncate]]
    * produced. `unpersist` is a silent no-op on a truncated frame, and so
    * is unpersisting its `queryExecution.toRdd` (the physical scan wraps
    * the block-manager RDD in a fresh projection): the blocks hang off
    * the `LogicalRDD` the truncation rewrote the plan to. A frame that is
    * neither is left as it is. Never throws (safe on a stopped session).
    */
  def release(ds: Dataset[_]): Unit =
    try {
      if (ds.storageLevel != StorageLevel.NONE) ds.unpersist(blocking = false)
      else ds.queryExecution.logical match {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    } catch { case _: Exception => () }

  /** One memo entry. The build runs under the entry's own lock, never the
    * map's: same-key callers wait for the one build, other keys proceed.
    * A failed build leaves the entry empty, so the next caller retries.
    */
  private final class Entry(build: () => DataFrame) {
    @volatile private var frame: DataFrame = _
    def get: DataFrame = {
      if (frame == null) synchronized { if (frame == null) frame = build() }
      frame
    }
    // waits out an in-flight build, so a cleared entry never strands
    // the frame that build is about to store
    def release(): Unit = synchronized { if (frame != null) PlanCache.release(frame) }
  }

  // guards the maps only; no build runs under it
  private val sessions =
    new java.util.HashMap[SparkSession, java.util.HashMap[String, Entry]]()
  // one application-end listener per SparkContext, registered once —
  // re-registering per session (or per clear/reuse cycle) would pile
  // listeners onto the shared LiveListenerBus forever
  private val hookedContexts =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  private def ensureContextHook(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (hookedContexts.add(sc)) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          clearAll()
      })
    }
  }

  /** The frame memoized under (`spark`, `key`), running `build` once on
    * the first call and storing its result as it is. Use directly only
    * for a build that already materialized its result with [[truncate]]
    * (an iterative build's last round, the IVF index pair); otherwise use
    * [[persisted]] or [[checkpointed]].
    */
  def memoized(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val entry = sessions.synchronized {
      ensureContextHook(spark)
      sessions.computeIfAbsent(spark, _ => new java.util.HashMap())
        .computeIfAbsent(key, _ => new Entry(() => build))
    }
    entry.get
  }

  /** Memoize `build`, persisted (`MEMORY_AND_DISK`): marked at first
    * call, filled by the first job that scans it.
    */
  def persisted(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memoized(spark, key)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Memoize `build`, [[truncate]]d: every task that later scans a
    * `persisted` frame serializes the frame's full build lineage into its
    * task binary (a deep build — range exchanges, windows, stitch joins —
    * is megabytes PER STAGE, and Spark logs the "Broadcasting large task
    * binary" warning), while a truncated frame's tasks carry only the
    * block-manager RDD reference. Use for frames whose BUILD plan is deep
    * but whose data is modest; the build runs eagerly at first call.
    */
  def checkpointed(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memoized(spark, key)(truncate(build))

  /** Release and drop every entry of `spark` whose KEY contains
    * `substring` — keys embed the corpus dir, so a caller that is done
    * with a scratch corpus (the bench's soak dirs, deleted from disk
    * right after their section) can evict exactly its frames: cached
    * soak-corpus blocks otherwise outlive their parquet and squeeze
    * execution memory for every later section (measured: the 100× soak's
    * j4 began spilling ~790 MB once the 10× section's frames piled up).
    *
    * CAUTION — truncated entries do not survive eviction: unlike a
    * `persisted` frame (which silently recomputes), a truncated frame a
    * caller retained from an earlier lookup becomes permanently unusable
    * after this call (Spark logs "cannot be recomputed after
    * unpersisting" on next use). Evict only when every retained
    * reference is dead — i.e. the corpus dir itself is being deleted,
    * the current call sites' contract.
    */
  def clearMatching(spark: SparkSession, substring: String): Unit = {
    val victims = sessions.synchronized {
      val t = sessions.get(spark)
      val vs = new java.util.ArrayList[Entry]()
      if (t != null) t.entrySet().removeIf { e =>
        val hit = e.getKey.contains(substring)
        if (hit) vs.add(e.getValue)
        hit
      }
      vs
    }
    victims.forEach(_.release())
  }

  /** Release and drop every entry belonging to `spark`. Safe to call on
    * a stopped session (release becomes a no-op).
    */
  def clear(spark: SparkSession): Unit = {
    val t = sessions.synchronized(sessions.remove(spark))
    if (t != null) t.values().forEach(_.release())
  }

  private def clearAll(): Unit = {
    val all = sessions.synchronized(new java.util.ArrayList(sessions.keySet()))
    all.forEach(clear(_))
  }
}
