package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Mirrors the reference's Spark tuning surface (AQE coalesce/skew-join,
  * Kryo, explicit shuffle parallelism — see reference
  * `2-batch-analytics-layer/task6-ecommerce-tables-job.yaml:154-161`) but
  * sized for the actual runtime: shuffle partitions follow the available
  * parallelism instead of a hard-coded 200, which on a real cluster should
  * be set to 2-3x total cores (AQE coalesces down from there at runtime).
  */
object GraftSession {

  /** Builder with scale-aware defaults; caller may override before create.
    *
    * `v2Committer` opts a session into output-committer algorithm v2:
    * tasks move their files into place themselves, so committing a
    * time-partitioned write (bronze spans ~600 hour dirs) is parallel
    * instead of one serial driver-side rename storm — on a 1000-executor
    * cluster (or a metadata-slow disk) the v1 driver commit IS the ingest
    * bottleneck. The tradeoff is atomicity: v2 makes task output visible
    * at task commit, so a failed/killed job can leave partial files that a
    * direct-directory reader would see as data, and speculative retries
    * can duplicate files; v1 keeps partial output invisible under
    * `_temporary`. It therefore defaults OFF and is enabled only where the
    * consumer is failure-aware: the bench/ingest sessions (a failed bench
    * run's bronze dir is discarded wholesale) and SnapshotTable-backed
    * writes (readers resolve a manifest committed only after job success,
    * so partial files are never referenced).
    */
  def builder(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = 32,
      v2Committer: Boolean = false): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(GraftExtensions.inject)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // testdata events.parquet carries TIMESTAMP(NANOS) which Spark cannot
      // represent natively; read as epoch-nanos long and convert in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // RocksDB streaming state store: the HDFS-backed default keeps state
      // on the JVM heap and its maintenance snapshots pause the stream —
      // measured on the speed-layer harness at 85k ev/s × 45 s, e2e
      // p95/max went 3.37/4.72 s (heap store) → 2.44/2.87 s (RocksDB),
      // and at 100 TB a dedup/session state of 10⁷+ keys cannot live on
      // the heap at all. Off-heap, incremental-checkpointing RocksDB is
      // the posture-correct default for every streaming query here.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing: commit only the per-batch changelog to
      // the checkpoint location and let background maintenance upload
      // SST snapshots — versus the default's per-commit snapshot sync,
      // this removes most of the state-commit fsync/metadata traffic
      // from the trigger path. That is both the production posture
      // (commit cost stops scaling with state SIZE and follows batch
      // CHANGE volume) and the r15 speed-layer fix's second half: on
      // this box's throttled-mount windows (11-49 MB/s seq-write
      // recorded in BENCH_r15 attempt 1) per-batch state commits were
      // the dominant consumer cost after the schema-pruned parse.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // `file:` through java.nio, not a shell: without Hadoop's native
      // library, stock RawLocalFileSystem forks `chmod` on every create
      // and mkdir and `readlink` on every link-status lookup, and
      // Structured Streaming writes its offset log, commit log and state
      // changelogs that way on every epoch's critical path. Measured per
      // call on a 4-core VM, 200 calls each (processes = forked children
      // + the threads that read their output): FileContext create
      // 9.7 ms / 4 processes, rename(OVERWRITE) 30.7 ms / 16,
      // FileSystem.create 8.6 ms / 4, mkdirs of a dir and its parent
      // 7.3 ms / 4; with the nio classes 1.0, 0.30, 0.39 and 0.08 ms,
      // 0 processes. The checksum layer stays (NioLocalFileSystem is a
      // LocalFileSystem, NioLocalFs a ChecksumFs), so `.crc` sidecars are
      // written and verified as before.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        if (v2Committer) "2" else "1")
      .config("spark.ui.enabled", "false")

  def create(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = 32,
      v2Committer: Boolean = false): SparkSession = {
    val spark = builder(master, appName, shufflePartitions, v2Committer).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
