package graft.lakehouse

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Versioned lakehouse table over plain Parquet — the engine's S7-S9
  * surface (Iceberg runtime jars are not available in this environment;
  * SURVEY §7.1 item 9's documented fallback).
  *
  * Layout:
  * {{{
  *   <root>/data/v<version>/...parquet     // files added by that commit
  *   <root>/data/v<version>/_schema.json   // their data-column schema
  *   <root>/_snapshots/v<version>.json     // manifest: dirs + parent link
  *   <root>/_snapshots/HEAD                // current version number
  *   <root>/_snapshots/refs/tag.<name>     // immutable version pin
  *   <root>/_snapshots/refs/branch.<name>  // "head base" (WAP staging)
  * }}}
  *
  * Semantics (mirroring the Iceberg operations the reference exercises,
  * `task5-iceberg-setup-job.yaml:395-507`):
  *  - `append` commits only the new files; the manifest chains to the
  *    parent's file set (no rewrite of existing data);
  *  - `overwrite`/`update`/`delete` are copy-on-write: a new full file set
  *    is committed, old versions stay readable;
  *  - reads resolve a manifest → exact file list, so time travel
  *    (`VERSION AS OF`) is "read an older manifest"; each commit records
  *    the schema it wrote, so planning a read opens no data file and
  *    submits no Spark job (Iceberg's manifests carry the schema too);
  *  - commits are atomic via write-temp + atomic-move of the manifest,
  *    then HEAD bump (readers see either the old or the new manifest);
  *  - `history`/`filesMetadata` are the `.history` / `.files` metadata
  *    tables; `expireSnapshots` keeps the last N manifests and removes
  *    unreferenced data dirs;
  *  - refs: `tag` pins a version immutably (expiry GC root), `branch` +
  *    `appendToBranch` stage commits invisible to main, and `publish`
  *    fast-forwards HEAD atomically with an optimistic-concurrency check
  *    — [[writeAuditPublish]] wraps the three into the WAP pattern.
  *    Manifests carry a parent link, so `history` is the lineage walk
  *    from HEAD, never polluted by dropped branches.
  *
  * Scale: the manifest holds *directories*, not individual file paths:
  * one per commit for an unpartitioned table (manifest size O(commits)),
  * one per (commit, partition) for a partitioned table (O(commits ×
  * partitions) — the granularity that lets compaction and expiry touch
  * single partitions; Iceberg's manifests are O(files) for the same
  * reason). Data files are only ever written once and never rewritten on
  * append — the same I/O profile that makes the pattern work at 100 TB.
  *
  * Partitioned tables (`partitionBy` at create) lay data out hive-style
  * (`data/v00001/p=a/...parquet`); reads restore partition columns via
  * per-commit `basePath`, and [[compactPartitions]] binpacks each
  * partition independently toward a target file size.
  */
final class SnapshotTable private (val spark: SparkSession, val root: String) {

  import SnapshotTable._

  private def snapDir = Paths.get(root, "_snapshots")
  private def headPath = snapDir.resolve("HEAD")
  private def propsPath = snapDir.resolve("PROPERTIES")

  /** Partition columns fixed at table creation (empty = unpartitioned). */
  val partitionCols: Seq[String] =
    if (Files.exists(propsPath))
      Files.readString(propsPath).linesIterator.toSeq
        .collectFirst { case s if s.startsWith("partitionBy=") =>
          s.stripPrefix("partitionBy=").split(",").toSeq.filter(_.nonEmpty)
        }.getOrElse(Nil)
    else Nil

  def currentVersion: Int =
    if (Files.exists(headPath)) Files.readString(headPath).trim.toInt else 0

  private def manifestPath(v: Int): Path = snapDir.resolve(f"v$v%05d.json")

  private def manifest(v: Int): Manifest =
    Manifest.parse(Files.readString(manifestPath(v)))

  /** Current-state DataFrame. */
  def read(): DataFrame = readVersion(currentVersion)

  /** Manifest data dirs of a version — the building block of FILE-LEVEL
    * change capture: dirs(to) −− dirs(from) hold every row added between
    * the versions, dirs(from) −− dirs(to) every row removed (COW rewrites
    * appear on both sides and cancel under signed aggregation). Reading
    * the difference costs O(changed commits), never O(table) — unlike the
    * key-diff [[changes]], which scans both snapshots.
    */
  def dirsOfVersion(version: Int): Seq[String] = manifest(version).dirs

  /** Read an arbitrary subset of manifest dirs (empty-safe), resolved to
    * the CURRENT schema (renames/drops applied per commit epoch).
    */
  def readDirs(dirs: Seq[String]): DataFrame =
    readDirsAs(dirs, currentVersion)

  private def readDirsAs(dirs: Seq[String], schemaVersion: Int): DataFrame =
    scanAs(dirs.map(d => d -> d), schemaVersion)

  /** Plan a scan of `(entry, path)` pairs — `path` is a manifest entry or
    * a file inside one — with no Spark job: each commit's schema, recorded
    * when it was written, is handed to the reader instead of inferred from
    * the footers. One scan per group of paths that share a recorded schema
    * and the schema events still to apply to them (after their commit,
    * at-or-before `schemaVersion`); a partitioned table scans per commit,
    * whose dir is the `basePath` its typed partition columns are parsed
    * below. Groups combine by name, oldest first, the column order a
    * footer merge gives (allowMissingColumns covers added columns).
    */
  private def scanAs(paths: Seq[(String, String)], schemaVersion: Int): DataFrame =
    if (paths.isEmpty) spark.emptyDataFrame
    else {
      val events = schemaEvents.filter(_.v <= schemaVersion)
      // one record read per commit dir, not per path
      val keyOf = paths.map { case (entry, _) => commitDirOf(entry) -> entry }.toMap
        .map { case (base, entry) =>
          base -> ((if (partitionCols.isEmpty) "" else base, recordedSchema(base),
            events.filter(_.v > dirVersionOf(entry))))
        }
      val groups = scala.collection.mutable.LinkedHashMap
        .empty[(String, StructType, Seq[SchemaEvent]), Vector[String]]
      paths.foreach { case (entry, path) =>
        val key = keyOf(commitDirOf(entry))
        groups(key) = groups.getOrElse(key, Vector.empty) :+ path
      }
      // more root paths than this and the file index lists them with a job
      val maxPaths = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
      groups.toSeq.flatMap { case ((base, schema, pending), group) =>
        group.grouped(maxPaths).map { chunk =>
          val reader = spark.read.schema(schema)
          val df = if (base.isEmpty) reader.parquet(chunk: _*)
                   else reader.option("basePath", base).parquet(chunk: _*)
          pending.foldLeft(df)(applySchemaEvent)
        }
      }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    }

  /** Time travel: the table exactly as of `version` — data AND schema
    * (a read below a rename/drop commit shows the pre-change schema).
    */
  def readVersion(version: Int): DataFrame =
    readVersionAs(version, version)

  /** Time-travel read of `version`'s DATA under `schemaVersion`'s SCHEMA
    * — what a latest-schema CDF needs to diff across a rename boundary.
    */
  def readVersionAs(version: Int, schemaVersion: Int): DataFrame = {
    val m = manifest(version)
    if (m.dirs.isEmpty) spark.emptyDataFrame
    else readDirsAs(m.dirs, schemaVersion)
  }

  /** Write `df` into a fresh commit dir, record the schema of its data
    * columns there, and return the manifest entries it produced: the dir
    * itself, or its partition subdirs when partitioned.
    */
  private def writeData(df: DataFrame, v: Int,
      writeOptions: Map[String, String] = Map.empty): Seq[String] = {
    val dir = dataDir(v)
    val w = df.write.mode(SaveMode.ErrorIfExists).options(writeOptions)
    val entries =
      if (partitionCols.isEmpty) { w.parquet(dir); Seq(dir) }
      else { w.partitionBy(partitionCols: _*).parquet(dir); listPartitionDirs(dir) }
    recordSchema(dir, StructType(df.schema.filterNot(f => partitionCols.contains(f.name))))
    entries
  }

  /** Record the data-column schema of a commit dir's files: what a footer
    * read would infer, written once so that planning a read never opens a
    * data file (Iceberg keeps the schema in its metadata for the same
    * reason). `_`-prefixed, so Spark's file index and the `.parquet`
    * listings skip it; it lives and expires with its dir.
    */
  private def recordSchema(commitDir: String, schema: StructType): Unit = {
    Files.createDirectories(Paths.get(commitDir))
    Files.writeString(Paths.get(commitDir, SchemaFile), schema.json)
  }

  private def recordedSchema(commitDir: String): StructType = {
    val p = Paths.get(commitDir, SchemaFile)
    require(Files.exists(p), s"$commitDir has no $SchemaFile: it was written " +
      "before commits recorded their schema, and this table format cannot read it")
    DataType.fromJson(Files.readString(p)).asInstanceOf[StructType]
  }

  /** Leaf partition subdirs (depth = #partition cols) under a commit dir. */
  private def listPartitionDirs(dir: String): Seq[String] = {
    def walk(p: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(p)
      else scala.util.Using.resource(Files.list(p)) { s =>
        s.iterator().asScala.toSeq
          .filter(c => Files.isDirectory(c) && c.getFileName.toString.contains("="))
          .flatMap(walk(_, depth - 1))
      }
    walk(Paths.get(dir), partitionCols.size).map(_.toString).sorted
  }

  /** `op` labels the commit in the manifest/history (default "append");
    * idempotent writers use it as their commit marker — e.g. streaming
    * dedup stamps "dedup-batch-N" so a replayed micro-batch can see its
    * own prior commit atomically with the data it wrote.
    */
  def append(df: DataFrame, op: String = "append"): Int = {
    val v = nextVersion
    val entries = writeData(df, v)
    val parent = currentVersion
    commit(v, Manifest(v, op,
      manifest(parent).dirs ++ entries, System.currentTimeMillis(), parent))
    v
  }

  def overwrite(df: DataFrame): Int = {
    val v = nextVersion
    val entries = writeData(df, v)
    commit(v, Manifest(v, "overwrite", entries, System.currentTimeMillis(),
      currentVersion))
    v
  }

  /** Copy-on-write UPDATE ... SET ... WHERE cond. */
  def update(cond: Column, set: Map[String, Column]): Int = {
    val cur = read()
    val updated = set.foldLeft(cur) { case (df, (c, v)) =>
      df.withColumn(c, when(cond, v).otherwise(col(c)))
    }
    overwriteAs(updated, "update")
  }

  /** Copy-on-write DELETE WHERE cond. */
  def delete(cond: Column): Int =
    overwriteAs(read().filter(!cond || cond.isNull), "delete")

  /** Copy-on-write DELETE of every row whose `keyCols` match a row of
    * `keys` — the set-scoped delete a `cond: Column` cannot express
    * without collecting the key set to the driver. One anti join, the
    * same plan shape as [[merge]]'s survivor side. `op` labels the
    * commit (idempotent writers stamp their batch id, the [[append]]
    * contract).
    */
  def deleteMatching(keys: DataFrame, keyCols: Seq[String],
      op: String = "delete"): Int = {
    require(keyCols.nonEmpty, "deleteMatching requires at least one key column")
    if (manifest(currentVersion).dirs.isEmpty) {
      // empty table: nothing to rewrite, but the commit MARKER must still
      // land — idempotent writers key their replay check on it
      val v = nextVersion
      commit(v, Manifest(v, op, Nil, System.currentTimeMillis(),
        currentVersion))
      v
    } else overwriteAs(
      read().join(keys.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti"), op)
  }

  /** Copy-on-write MERGE (Iceberg `MERGE INTO` equivalent): each source
    * row REPLACES the target row sharing `keyCols` (WHEN MATCHED THEN
    * UPDATE SET *), unmatched source rows INSERT, and source rows
    * satisfying `deleteWhen` DELETE their target match instead. The
    * standard MERGE precondition is enforced: a source with duplicate
    * merge keys is the ambiguous-merge error every engine raises.
    *
    * Plan shape at scale: ONE key-shuffled left-anti join (the surviving
    * target rows) unioned with the replacement rows — no full-outer
    * join, no window sort; the write cost is the COW file set, same as
    * update/delete, and every pre-merge snapshot stays readable. The
    * result is written hash-partitioned on the keys, AQE sizing the
    * partition count: the rewrite runs on every core and file sizes stay
    * even. (Written as the join leaves it, the 4 MB file-open cost bins
    * the small upsert files with the large ones, so each merge also
    * merges the large files in pairs until one file holds the table and
    * one task writes it.)
    *
    * The source is persisted for the duration of the merge: it is
    * evaluated twice (the ambiguity check, then the COW write), and a
    * nondeterministic source could otherwise pass the check yet write
    * different rows — pinning makes both actions see one materialization
    * (and avoids recomputing an expensive source). NULL merge keys follow
    * the SQL standard: NULL never equals NULL, so a null-keyed source row
    * matches no target row and inserts alongside any null-keyed target
    * rows rather than replacing them. `op` labels the commit in the
    * manifest (default "merge") — idempotent writers stamp their batch id
    * here, same contract as [[append]].
    */
  def merge(source: DataFrame, keyCols: Seq[String],
      deleteWhen: Option[Column] = None, op: String = "merge"): Int = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    val src = source.persist()
    try {
      val dups = src.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
      require(dups == 0, "MERGE source has duplicate rows on the merge keys")
      val upserts = deleteWhen.fold(src)(c =>
        src.filter(!coalesce(c, lit(false))))
      val result =
        if (manifest(currentVersion).dirs.isEmpty) upserts
        else {
          val cur = read()
          // delete-marked source rows still carry their keys into the anti
          // join, so their target matches drop; they just insert nothing
          cur.join(src.select(keyCols.map(col): _*), keyCols, "left_anti")
            .unionByName(upserts.select(cur.columns.toSeq.map(col): _*))
        }
      overwriteAs(result.repartition(keyCols.map(col): _*), op)
    } finally src.unpersist()
  }

  private def overwriteAs(df: DataFrame, op: String,
      writeOptions: Map[String, String] = Map.empty): Int = {
    val v = nextVersion
    val entries = writeData(df, v, writeOptions)
    commit(v, Manifest(v, op, entries, System.currentTimeMillis(),
      currentVersion))
    v
  }

  /** Manifests of the main lineage, oldest first: the parent chain from
    * HEAD, not the manifest namespace — a dropped branch's manifests (or
    * another branch's in-flight commits) never appear as main history.
    * The walk stops at version 0 or at an expired manifest.
    */
  private def lineage: Seq[Manifest] = {
    def at(v: Int): Option[Manifest] =
      if (v > 0 && Files.exists(manifestPath(v))) Some(manifest(v)) else None
    Iterator.iterate(at(currentVersion))(_.flatMap(m => at(m.parent)))
      .takeWhile(_.isDefined).flatten.toSeq.reverse
  }

  /** `.history` metadata table (expired snapshots drop out). */
  def history(): DataFrame = {
    import spark.implicits._
    lineage.map(m =>
        (m.version, m.operation, m.dirs.length, new java.sql.Timestamp(m.tsMs)))
      .toDF("version", "operation", "n_dirs", "committed_at")
  }

  /** [[history]]'s operation labels, oldest first, read on the driver
    * with no Spark job — the replay check of every writer that stamps its
    * batch marker into `op`.
    */
  def operations(): Seq[String] = lineage.map(_.operation)

  /** `.files` metadata table for the current snapshot. */
  def filesMetadata(): DataFrame = {
    import spark.implicits._
    manifest(currentVersion).dirs.flatMap { d =>
      val p = Paths.get(d)
      if (!Files.exists(p)) Nil
      else scala.util.Using.resource(Files.list(p)) { stream =>
        stream.iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .map(f => (d, f.getFileName.toString, Files.size(f))).toSeq
      }
    }.toDF("dir", "file", "size_bytes")
  }

  /** Change data feed between two snapshots (Delta `table_changes` /
    * Iceberg changelog analog, derived rather than stored): diff
    * `fromVersion` → `toVersion` keyed by `keyCols`, emitting one row per
    * change with `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage. COW tables don't persist per-commit row deltas, so
    * the feed is computed as ONE full-outer key join between the two
    * manifests' states — O(|v1| + |v2|) with a single key shuffle, no
    * log replay; rows identical in all non-key columns drop out.
    *
    * NULL-safe on both sides: null-keyed rows compare with `<=>` so they
    * diff as normal rows instead of cross-matching. Multi-row keys (a
    * key appearing twice in one snapshot) are rejected — a diff keyed on
    * a non-unique key is ambiguous by construction.
    */
  def changes(fromVersion: Int, toVersion: Int,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "changes requires at least one key column")
    // both snapshots resolve under toVersion's schema (the Delta CDF
    // "latest schema" rule) so a rename between the versions diffs as
    // unchanged data, not as a drop+add of every row
    val pre = readVersionAs(fromVersion, toVersion)
    val post = readVersion(toVersion)
    if (pre.columns.isEmpty && post.columns.isEmpty)
      return spark.emptyDataFrame
    val cols = (if (post.columns.nonEmpty) post else pre).columns.toSeq
    val valueCols = cols.filterNot(keyCols.contains)
    def tagged(df: DataFrame, side: String): DataFrame =
      if (df.columns.isEmpty)
        // empty snapshot: synthesize the schema from whichever side is
        // non-empty so the join still plans (either side may be the v0
        // empty frame — e.g. changes(v, 0) diffing back to empty)
        (if (post.columns.nonEmpty) post else pre).limit(0)
          .select(cols.map(c => col(c).as(s"${side}_$c")) :+
            lit(1).as(s"${side}_present"): _*)
      else {
        val dup = df.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1)
        require(dup.count() == 0,
          s"changes: key ${keyCols.mkString(",")} is not unique in a snapshot")
        // presence marker: a row's existence on a side must not be read
        // off key nullness — null-keyed rows are legitimate
        df.select(cols.map(c => col(c).as(s"${side}_$c")) :+
          lit(1).as(s"${side}_present"): _*)
      }
    val joined = tagged(pre, "a").join(tagged(post, "b"),
      keyCols.map(k => col(s"a_$k") <=> col(s"b_$k")).reduce(_ && _),
      "full_outer")
    val aPresent = col("a_present").isNotNull
    val bPresent = col("b_present").isNotNull
    val changed = valueCols.map(c => !(col(s"a_$c") <=> col(s"b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val inserts = joined.filter(!aPresent && bPresent)
      .select(cols.map(c => col(s"b_$c").as(c)) :+
        lit("insert").as("_change_type"): _*)
    val deletes = joined.filter(aPresent && !bPresent)
      .select(cols.map(c => col(s"a_$c").as(c)) :+
        lit("delete").as("_change_type"): _*)
    val updates = joined.filter(aPresent && bPresent && changed)
    val prer = updates.select(cols.map(c => col(s"a_$c").as(c)) :+
      lit("update_preimage").as("_change_type"): _*)
    val postr = updates.select(cols.map(c => col(s"b_$c").as(c)) :+
      lit("update_postimage").as("_change_type"): _*)
    inserts.unionByName(deletes).unionByName(prer).unionByName(postr)
  }

  /** Iceberg `.files`-style PER-COLUMN statistics for the current
    * snapshot: min / max / null count per (file, column), read from the
    * parquet footers (row-group stats folded per file). This is the
    * metadata a scan planner prunes with — and what makes
    * [[compactZOrdered]] measurable: after a z-order rewrite the
    * per-file [min, max] boxes of the clustered columns are narrow, so
    * a predicate intersects few of them. Values are rendered as strings
    * (one schema for any column type), numeric enough for test
    * assertions and human review; the footer read is metadata-only (no
    * data pages touched), same cost profile as [[filesMetadata]].
    */
  def filesStats(cols: Seq[String]): DataFrame = {
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = manifest(currentVersion).dirs.flatMap { d =>
      val p = Paths.get(d)
      if (!Files.exists(p)) Nil
      else scala.util.Using.resource(Files.list(p)) { stream =>
        stream.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      }.flatMap { f =>
        val footer = scala.util.Using.resource(ParquetFileReader.open(
          HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf)))(_.getFooter)
        val byCol = footer.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toDotString)
        cols.flatMap { c =>
          // footers carry the AS-WRITTEN name; pre-rename files resolve
          // through the inverse rename walk (output keeps the logical name)
          byCol.get(physicalNameAt(c, dirVersionOf(d))).map { chunks =>
            val stats = chunks.map(_.getStatistics).filter(_ != null)
            val mins = stats.filter(_.hasNonNullValue).map(_.genericGetMin)
            val maxs = stats.filter(_.hasNonNullValue).map(_.genericGetMax)
            // BINARY/UTF8 stats surface as the string they encode, not
            // Binary's debug toString; their min/max reduction must use
            // parquet's UNSIGNED lexicographic comparator (Binary's own
            // compareTo), which Comparable dispatch already does
            def render(v: Comparable[_]): String = v match {
              case b: org.apache.parquet.io.api.Binary =>
                new String(b.getBytes,
                  java.nio.charset.StandardCharsets.UTF_8)
              case other => other.toString
            }
            def s(vs: Seq[Comparable[_]], takeMax: Boolean): String =
              if (vs.isEmpty) null
              else render(vs.map(_.asInstanceOf[Comparable[Any]])
                .reduce((a, b) =>
                  if ((a.compareTo(b) > 0) == takeMax) a else b))
            (d, f.getFileName.toString, c,
              s(mins.toSeq, takeMax = false), s(maxs.toSeq, takeMax = true),
              stats.map(_.getNumNulls).sum)
          }
        }
      }
    }
    rows.toDF("dir", "file", "column", "min", "max", "null_count")
  }

  /** Stats-based data skipping (Iceberg scan-planning analog on plain
    * parquet): the files whose footer [min, max] range for `column` can
    * intersect [lo, hi]. Files with no usable stats for the column —
    * all-null chunks, or non-numeric stats — are KEPT: skipping may only
    * drop a file it can PROVE irrelevant, so unparseable evidence always
    * degrades to reading, never to wrong answers.
    */
  def skippingFiles(column: String, lo: Double, hi: Double): Seq[String] =
    filesIntersecting(column) { (mn, mx) =>
      try !(mx.toDouble < lo || mn.toDouble > hi)
      catch { case _: NumberFormatException => true }
    }

  /** The files whose footer [min, max] for `column` may `intersect` the
    * caller's range. Null bounds, and files with no stats entry at all,
    * are kept: the walk is keyed off the FULL file list, not the stats
    * rows, because a file with no entry for the column (typo'd/nested
    * name, or written before the column existed) has proven nothing and
    * must be read.
    */
  private def filesIntersecting(column: String)(
      intersects: (String, String) => Boolean): Seq[String] = {
    val statsByFile = filesStats(Seq(column)).collect()
      .map(r => (s"${r.getAs[String]("dir")}/${r.getAs[String]("file")}",
        (r.getAs[String]("min"), r.getAs[String]("max")))).toMap
    filesMetadata().collect()
      .map(r => s"${r.getAs[String]("dir")}/${r.getAs[String]("file")}")
      .filter { path =>
        statsByFile.get(path) match {
          case Some((mn, mx)) => mn == null || mx == null || intersects(mn, mx)
          case None => true
        }
      }.toSeq
  }

  /** Read only the files [[skippingFiles]] keeps. The result is a
    * SUPERSET of the rows matching the range (file granularity); callers
    * apply their own predicate on top — same contract as partition
    * pruning. At 100 TB this is the difference between a full-table scan
    * and touching the few files a z-ordered/clustered layout confines the
    * range to.
    */
  def readSkipping(column: String, lo: Double, hi: Double): DataFrame =
    readFilesOrEmpty(skippingFiles(column, lo, hi))

  private def readFilesOrEmpty(files: Seq[String]): DataFrame =
    if (files.isEmpty) read().filter(org.apache.spark.sql.functions.lit(false))
    else scanAs(files.map(f => Paths.get(f).getParent.toString -> f), currentVersion)

  /** Unsigned UTF-8 byte comparison — parquet's comparator for
    * BINARY/UTF8 statistics. Java's String.compareTo (UTF-16 code units)
    * disagrees beyond the BMP, and a wrong collation here turns "skip"
    * into "wrong answer"; stat TRUNCATION is already safe (parquet only
    * widens truncated bounds).
    */
  private def u8cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[skippingFiles]] for STRING columns (Iceberg skips on string
    * min/max too — the reference clusters tables on category/status
    * columns): keep files whose footer [min, max] can intersect
    * [lo, hi] under the unsigned-byte collation. Missing/unusable stats
    * keep the file — skipping may only drop proven-irrelevant files.
    */
  def skippingFilesString(column: String, lo: String, hi: String): Seq[String] =
    filesIntersecting(column)((mn, mx) => !(u8cmp(mx, lo) < 0 || u8cmp(mn, hi) > 0))

  def readSkippingString(column: String, lo: String, hi: String): DataFrame =
    readFilesOrEmpty(skippingFilesString(column, lo, hi))

  /** Equality skipping for a STRING column: footer range check PLUS a
    * parquet bloom-filter probe per row group (written by
    * [[compactClustered]]). A file is dropped only when EVERY row group
    * proves the value absent — out of its [min, max], or its bloom
    * filter (when present) reports definitely-absent. Stats-only
    * skipping keeps a wide-range file that never contains the value;
    * the bloom closes exactly that gap, which is why Iceberg wires
    * blooms to its cluster columns. Numeric equality is
    * `skippingFiles(v, v)`.
    */
  def skippingFilesEq(column: String, value: String): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    val conf = spark.sparkContext.hadoopConfiguration
    val target = Binary.fromString(value)
    filesMetadata().collect()
      .map(r => s"${r.getAs[String]("dir")}/${r.getAs[String]("file")}")
      .filter { path =>
        try scala.util.Using.resource(ParquetFileReader.open(
          HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(
              Paths.get(path).toUri), conf))) { reader =>
          val blocks = reader.getFooter.getBlocks.asScala
          // keep unless every row group proves absence
          blocks.isEmpty || blocks.exists { block =>
            block.getColumns.asScala
              .find(_.getPath.toDotString == column) match {
              case None => true // column absent from this file: no proof
              case Some(chunk) =>
                val st = chunk.getStatistics
                val inRange =
                  st == null || !st.hasNonNullValue || {
                    (st.genericGetMin, st.genericGetMax) match {
                      case (mn: Binary, mx: Binary) =>
                        mn.compareTo(target) <= 0 && target.compareTo(mx) <= 0
                      case _ => true // non-binary stats: not this API's type
                    }
                  }
                if (!inRange) false
                else {
                  val bloom =
                    try reader.getBloomFilterDataReader(block)
                      .readBloomFilter(chunk)
                    catch { case _: Exception => null }
                  bloom == null || bloom.findHash(bloom.hash(target))
                }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => true }
      }.toSeq
  }

  def readSkippingEq(column: String, value: String): DataFrame =
    readFilesOrEmpty(skippingFilesEq(column, value))

  /** Small-file compaction for UNPARTITIONED tables: rewrite the current
    * snapshot into `targetFiles` files as a new commit. Partitioned
    * tables must use [[compactPartitions]] — a whole-table rewrite is
    * exactly the 100 TB scale-killer that API exists to avoid.
    */
  def compact(targetFiles: Int): Int = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    require(partitionCols.isEmpty,
      "partitioned table: use compactPartitions (per-partition binpack), " +
        "not a whole-table rewrite")
    // empty table: nothing to rewrite (and parquet refuses a zero-column
    // schema) — no-op maintenance
    if (manifest(currentVersion).dirs.isEmpty) currentVersion
    else overwriteAs(read().coalesce(targetFiles), "compact")
  }

  /** Delta `OPTIMIZE ... ZORDER BY` analog for unpartitioned tables:
    * rewrite the current snapshot clustered on the Morton curve over
    * `cols`, so parquet min/max stats prune files for box predicates on
    * any subset of those columns (see [[ZOrder]]). COW like [[compact]]:
    * every older snapshot stays readable.
    */
  def compactZOrdered(cols: Seq[String], targetFiles: Int,
      bits: Int = 8): Int = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    require(partitionCols.isEmpty,
      "partitioned table: z-order within partitions via compactPartitions " +
        "is not supported yet — unpartitioned tables only")
    if (manifest(currentVersion).dirs.isEmpty) currentVersion
    else overwriteAs(ZOrder.layout(read(), cols, bits, targetFiles), "zorder")
  }

  /** Iceberg sort-order rewrite analog for unpartitioned tables: cluster
    * the current snapshot by a RANGE repartition + in-partition sort on
    * `cols` (the linear-clustering counterpart to [[compactZOrdered]] —
    * the right layout for string dimension columns like category/status,
    * which the Morton bucketizer cannot interleave), and write parquet
    * BLOOM FILTERS for the cluster columns so [[skippingFilesEq]] can
    * drop files the min/max range alone cannot prove irrelevant.
    * One shuffle + sort, COW like every maintenance op.
    */
  def compactClustered(cols: Seq[String], targetFiles: Int,
      writeOptions: Map[String, String] = Map.empty): Int = {
    require(cols.nonEmpty, "compactClustered needs at least one column")
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    require(partitionCols.isEmpty,
      "partitioned table: cluster within partitions via compactPartitions")
    if (manifest(currentVersion).dirs.isEmpty) currentVersion
    else {
      val blooms = cols.map(c =>
        s"parquet.bloom.filter.enabled#$c" -> "true").toMap
      val clustered = read()
        .repartitionByRange(targetFiles, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
      overwriteAs(clustered, "cluster", blooms ++ writeOptions)
    }
  }

  /** Iceberg `rewrite_data_files` semantics for partitioned tables:
    * binpack each partition's small files toward `targetBytes` per output
    * file, independently per partition, optionally restricted by
    * `predicate` over the partition values (compact only hot partitions —
    * the reference's 128 MB target-file maintenance,
    * `task6-ecommerce-tables-config.yaml:52-53`).
    *
    * Partitions whose files already meet the target (one file, or every
    * file ≥ half the target — Iceberg's own "skip near-target files"
    * heuristic) and partitions excluded by the predicate are NOT
    * rewritten: the new manifest re-references their existing subdirs
    * byte-identically. Only selected partitions' rows are read, and each
    * is written as ceil(bytes / targetBytes) files — never a full-table
    * job. Every older snapshot stays readable (COW).
    *
    * Returns the new version, or the current one when nothing qualified.
    */
  def compactPartitions(targetBytes: Long,
      predicate: Map[String, String] => Boolean = _ => true): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(partitionCols.nonEmpty,
      "unpartitioned table: use compact(targetFiles)")
    val entries = manifest(currentVersion).dirs
    // group manifest entries by their partition-relative path ("p=a/q=b")
    val byPartition = entries.groupBy(relPartitionPath)
    def bytesAndFiles(dirs: Seq[String]): (Long, Int) = {
      val files = dirs.flatMap { d =>
        scala.util.Using.resource(Files.list(Paths.get(d))) { s =>
          s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
            .map(Files.size).toSeq
        }
      }
      (files.sum, files.size)
    }
    val selected = byPartition.toSeq.sortBy(_._1).filter { case (rel, dirs) =>
      predicate(partitionValues(rel)) && {
        val (bytes, nFiles) = bytesAndFiles(dirs)
        nFiles > 1 && bytes.toDouble / nFiles < targetBytes / 2.0
      }
    }
    if (selected.isEmpty) return currentVersion
    val v = nextVersion
    val newDir = dataDir(v)
    val newEntries = selected.map { case (rel, dirs) =>
      val (bytes, _) = bytesAndFiles(dirs)
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val out = Paths.get(newDir, rel).toString
      // current names (older commits through the schema events); the
      // files under a partition path carry only data columns (hive layout)
      val rows = readDirs(dirs).drop(partitionCols: _*)
      rows.coalesce(nOut).write.mode(SaveMode.ErrorIfExists).parquet(out)
      (rel, out, rows.schema)
    }
    // one record for the commit dir holds every partition's columns; the
    // reader fills a column a partition's files lack with null
    recordSchema(newDir, newEntries.map(_._3).reduce((a, b) =>
      StructType(a ++ b.filterNot(f => a.fieldNames.contains(f.name)))))
    val compactedRels = newEntries.map(_._1).toSet
    val dirs = entries.filterNot(e => compactedRels(relPartitionPath(e))) ++
      newEntries.map(_._2).sorted
    commit(v, Manifest(v, "compact", dirs, System.currentTimeMillis(),
      currentVersion))
    v
  }

  /** "p=a/q=b" suffix of a manifest entry (last #partitionCols segments). */
  private def relPartitionPath(entry: String): String = {
    val p = Paths.get(entry)
    val n = p.getNameCount
    p.subpath(n - partitionCols.size, n).toString
  }

  /** The commit dir a partition-subdir manifest entry lives under. */
  private def commitDirOf(entry: String): String = {
    var p = Paths.get(entry)
    (1 to partitionCols.size).foreach(_ => p = p.getParent)
    p.toString
  }

  /** Decoded partition values of a relative partition path. */
  private def partitionValues(rel: String): Map[String, String] =
    rel.split('/').toSeq.map { seg =>
      val i = seg.indexOf('=')
      seg.substring(0, i) ->
        java.net.URLDecoder.decode(seg.substring(i + 1), "UTF-8")
    }.toMap

  /** Keep the last `keep` snapshots; delete older manifests and any data
    * dir no surviving manifest references. Refs are GC roots: a tagged
    * or branch-head version is never expired no matter how old, and any
    * dir a surviving manifest (including branch manifests above HEAD)
    * references survives — a branch chained from an expired base keeps
    * reading.
    */
  def expireSnapshots(keep: Int): Unit = {
    val cur = currentVersion
    // A previous expiry already deleted older manifests (and possibly some
    // now-"kept" ones, if it ran with a smaller keep) — only versions whose
    // manifest still exists participate, the same guard the lineage walk uses.
    def existing(vs: Range): Seq[Int] =
      vs.filter(v => Files.exists(manifestPath(v)))
    val roots = tags.values.toSet ++ branches.values.map(_._1).toSet
    val dropped = existing(1 to (cur - keep)).filterNot(roots)
    if (dropped.isEmpty) return
    val keptAll = scala.util.Using.resource(Files.list(snapDir)) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case ManifestName(v) => v.toInt }.toSeq
    }.filterNot(dropped.contains)
    val live = keptAll.flatMap(v => manifest(v).dirs).toSet
    val liveCommits = live.map(commitDirOf)
    // a commit dir no live entry is under goes whole, schema record included
    val doomed = dropped.flatMap(v => manifest(v).dirs).filterNot(live)
      .map(d => if (liveCommits(commitDirOf(d))) d else commitDirOf(d)).distinct
    dropped.foreach(v => Files.deleteIfExists(manifestPath(v)))
    doomed.foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        scala.util.Using.resource(Files.walk(p)) { stream =>
          stream.iterator().asScala.toSeq.reverse.foreach(Files.delete)
        }
      }
    }
  }

  /** Next unallocated version: one past the highest EXISTING manifest,
    * not HEAD+1 — branch commits allocate from the same namespace while
    * HEAD stays behind, and a main commit must never collide with (or
    * silently replace) a branch's manifest file.
    */
  private def nextVersion: Int = {
    val vs = scala.util.Using.resource(Files.list(snapDir)) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case ManifestName(v) => v.toInt }.toSeq
    }
    // the schema log participates in allocation: an orphaned event
    // (crash between log write and manifest commit) must never see its
    // version reused by an unrelated data commit
    val evMax = schemaEvents.map(_.v).maxOption.getOrElse(0)
    math.max(evMax,
      math.max(currentVersion, if (vs.isEmpty) 0 else vs.max)) + 1
  }

  // ---- schema evolution: rename/drop as metadata-only commits ----

  private def schemaLogPath = snapDir.resolve("SCHEMA_LOG")

  /** All schema events, version-ordered. O(1) file read; the log is
    * O(schema changes), never O(commits).
    */
  private def schemaEvents: Seq[SchemaEvent] =
    if (!Files.exists(schemaLogPath)) Nil
    else Files.readString(schemaLogPath).linesIterator
      .filter(_.nonEmpty).map(SchemaEvent.parse).toSeq.sortBy(_.v)

  /** The commit version a manifest entry's data dir was written at. */
  private def dirVersionOf(entry: String): Int = {
    val name = Paths.get(commitDirOf(entry)).getFileName.toString
    DataDirName.findFirstMatchIn(name).map(_.group(1).toInt).getOrElse(0)
  }

  /** One schema event over a frame of files written before it: a rename
    * rewrites the physical name forward, a drop removes the column. Files
    * written after a change already carry the new schema (COW rewrites
    * and new appends use current names), so only OLDER commits transform.
    */
  private def applySchemaEvent(df: DataFrame, e: SchemaEvent): DataFrame =
    e.kind match {
      case "rename" if df.columns.contains(e.from) => df.withColumnRenamed(e.from, e.to)
      case "drop" if df.columns.contains(e.from) => df.drop(e.from)
      case _ => df
    }

  /** The physical (as-written) name of current-logical `logical` in a
    * commit written at `dirVersion` — the inverse rename walk, used to
    * look up footer statistics of pre-rename files.
    */
  private def physicalNameAt(logical: String, dirVersion: Int): String = {
    var name = logical
    schemaEvents.filter(e => e.v > dirVersion && e.v <= currentVersion)
      .reverseIterator.foreach { e =>
        if (e.kind == "rename" && e.to == name) name = e.from
      }
    name
  }

  private def schemaChange(op: String, ev: SchemaEvent): Int = {
    val v = nextVersion
    val prev =
      if (Files.exists(schemaLogPath)) Files.readString(schemaLogPath) else ""
    val tmp = snapDir.resolve(f".SCHEMA_LOG.v$v%05d.tmp")
    Files.writeString(tmp, prev + ev.copy(v = v).toJson + "\n")
    // log first, manifest second: nextVersion also scans the log, so a
    // crash between the two cannot hand this version to a later data
    // commit; an orphaned event (log entry without its manifest) applies
    // from v onward by the log's authority, the documented recovery
    Files.move(tmp, schemaLogPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    commit(v, Manifest(v, op, manifest(currentVersion).dirs,
      System.currentTimeMillis(), currentVersion))
    v
  }

  /** Metadata-only column rename (Iceberg `ALTER TABLE ... RENAME COLUMN`
    * analog): no data files are rewritten — reads resolve old commits
    * through the event log; time travel below this commit still shows
    * the old name. Partition columns cannot be renamed (their name is
    * baked into hive paths).
    */
  def renameColumn(from: String, to: String): Int = {
    val cols = read().columns.toSeq
    require(cols.contains(from), s"renameColumn: no column '$from'")
    require(!cols.contains(to), s"renameColumn: column '$to' already exists")
    require(!partitionCols.contains(from),
      s"renameColumn: '$from' is a partition column")
    schemaChange(s"rename-column $from->$to", SchemaEvent(0, "rename", from, to))
  }

  /** Metadata-only column drop: the column disappears from reads at and
    * after this commit, stays visible to time travel below it, and a
    * later append may re-introduce the name (older rows read null —
    * it is a NEW column that happens to reuse the name).
    */
  def dropColumn(name: String): Int = {
    val cols = read().columns.toSeq
    require(cols.contains(name), s"dropColumn: no column '$name'")
    require(!partitionCols.contains(name),
      s"dropColumn: '$name' is a partition column")
    require(cols.size > 1, "dropColumn: cannot drop the last column")
    schemaChange(s"drop-column $name", SchemaEvent(0, "drop", name, ""))
  }

  // ---- refs: tags (immutable) + branches (movable) + write-audit-publish

  private def refsDir = snapDir.resolve("refs")

  private def refPath(kind: String, name: String) = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad ref name: $name")
    refsDir.resolve(s"$kind.$name")
  }

  private def writeRef(p: Path, content: String): Unit = {
    Files.createDirectories(refsDir)
    val tmp = refsDir.resolve(s".${p.getFileName}.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Tag `version` with an immutable name (Iceberg tag analog).
    * Re-tagging the same version is a no-op; a different one refuses.
    */
  def tag(name: String, version: Int = -1): Unit = {
    val v = if (version < 0) currentVersion else version
    require(Files.exists(manifestPath(v)),
      s"cannot tag missing version $v")
    val p = refPath("tag", name)
    if (Files.exists(p)) {
      val cur = Files.readString(p).trim.toInt
      require(cur == v, s"tag $name already points at $cur, not $v")
    } else writeRef(p, v.toString)
  }

  /** All tags as name → version. */
  def tags: Map[String, Int] = listRefs("tag").map { case (n, s) =>
    n -> s.trim.toInt
  }

  def readTag(name: String): DataFrame = {
    val p = refPath("tag", name)
    require(Files.exists(p), s"no tag $name")
    readVersion(Files.readString(p).trim.toInt)
  }

  private def listRefs(kind: String): Map[String, String] =
    if (!Files.exists(refsDir)) Map.empty
    else scala.util.Using.resource(Files.list(refsDir)) { s =>
      s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(s"$kind."))
        .map(p => p.getFileName.toString.stripPrefix(s"$kind.") ->
          Files.readString(p)).toMap
    }

  /** Create a branch at the current HEAD (Iceberg branch analog) and
    * return its base version. The base is recorded so `publish` can
    * detect a concurrent main commit (optimistic concurrency).
    */
  def branch(name: String): Int = {
    val p = refPath("branch", name)
    require(!Files.exists(p), s"branch $name already exists")
    val base = currentVersion
    writeRef(p, s"$base $base")
    base
  }

  /** All branches as name → (head, base). */
  def branches: Map[String, (Int, Int)] = listRefs("branch").map {
    case (n, s) =>
      val parts = s.trim.split(" ")
      n -> (parts(0).toInt, parts(1).toInt)
  }

  private def branchRef(name: String): (Int, Int) = {
    val p = refPath("branch", name)
    require(Files.exists(p), s"no branch $name")
    val parts = Files.readString(p).trim.split(" ")
    (parts(0).toInt, parts(1).toInt)
  }

  def readBranch(name: String): DataFrame = readVersion(branchRef(name)._1)

  /** Append onto a branch: the manifest chains from the BRANCH head and
    * only the branch ref moves — main's HEAD, and every main reader,
    * is untouched until `publish`.
    */
  def appendToBranch(name: String, df: DataFrame,
      op: String = "append"): Int = {
    val (head, base) = branchRef(name)
    val v = nextVersion
    val entries = writeData(df, v)
    // manifest lands like any commit; HEAD stays — readers cannot see it
    val m = Manifest(v, op, manifest(head).dirs ++ entries,
      System.currentTimeMillis(), head)
    Files.createDirectories(snapDir)
    val tmp = snapDir.resolve(f".v$v%05d.json.tmp")
    Files.writeString(tmp, m.toJson)
    Files.move(tmp, manifestPath(v),
      StandardCopyOption.ATOMIC_MOVE)
    writeRef(refPath("branch", name), s"$v $base")
    v
  }

  /** Fast-forward main to the branch head — the PUBLISH of
    * write-audit-publish. Refuses if main moved since the branch was
    * created (the optimistic-concurrency conflict: the branch's chain
    * no longer contains main's latest commit). Atomic: readers see the
    * old HEAD or the new one, never an intermediate. The branch ref is
    * consumed.
    */
  def publish(name: String): Int = {
    val (head, base) = branchRef(name)
    require(currentVersion == base,
      s"cannot publish $name: main moved $base -> $currentVersion " +
        "since the branch was created")
    val tmpHead = snapDir.resolve(".HEAD.tmp")
    Files.writeString(tmpHead, head.toString)
    Files.move(tmpHead, headPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    dropBranch(name)
    head
  }

  /** Abandon a branch (the audit-failed arm of write-audit-publish).
    * Data dirs the branch wrote become unreferenced once its manifests
    * are expired; until then they cost storage only.
    */
  def dropBranch(name: String): Unit =
    Files.deleteIfExists(refPath("branch", name))

  /** Write-audit-publish in one call: stage `df` on an anonymous
    * branch, run `audit` against the STAGED state (main + staged rows —
    * what readers would see after publish), and fast-forward only if it
    * passes. Returns the published version, or None with the branch
    * dropped and main untouched.
    */
  def writeAuditPublish(df: DataFrame, audit: DataFrame => Boolean,
      op: String = "append"): Option[Int] = {
    val name = f"wap-${nextVersion}%05d"
    branch(name)
    try {
      appendToBranch(name, df, op)
      if (audit(readBranch(name))) Some(publish(name))
      else { dropBranch(name); None }
    } catch { case e: Throwable => dropBranch(name); throw e }
  }

  private def dataDir(v: Int): String =
    Paths.get(root, "data", f"v$v%05d").toString

  private def commit(v: Int, m: Manifest): Unit = {
    Files.createDirectories(snapDir)
    val tmp = snapDir.resolve(f".v$v%05d.json.tmp")
    Files.writeString(tmp, m.toJson)
    Files.move(tmp, manifestPath(v),
      StandardCopyOption.ATOMIC_MOVE)
    val tmpHead = snapDir.resolve(".HEAD.tmp")
    Files.writeString(tmpHead, v.toString)
    Files.move(tmpHead, headPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

object SnapshotTable {

  /** Manifest file-name shape, for version extraction. */
  private val ManifestName = """v(\d{5})\.json""".r
  private val DataDirName = """v(\d{5})""".r

  /** A commit dir's recorded data-column schema (Spark's JSON form). */
  private val SchemaFile = "_schema.json"

  /** One schema-evolution event: `kind` ∈ rename | drop, committed at
    * table version `v`. `to` is empty for drops.
    */
  final case class SchemaEvent(v: Int, kind: String, from: String,
      to: String) {
    def toJson: String = {
      def q(s: String) =
        "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      s"""{"v":$v,"kind":${q(kind)},"from":${q(from)},"to":${q(to)}}"""
    }
  }

  object SchemaEvent {
    def parse(json: String): SchemaEvent = {
      def str(key: String): String =
        s""""$key":"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(json)
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
          .getOrElse("")
      val v = """"v":(\d+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toInt).getOrElse(0)
      SchemaEvent(v, str("kind"), str("from"), str("to"))
    }
  }

  /** Manifest of one committed snapshot. */
  final case class Manifest(version: Int, operation: String,
      dirs: Seq[String], tsMs: Long, parent: Int = -1) {
    def toJson: String = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      s"""{"version":$version,"operation":${q(operation)},""" +
        s""""ts_ms":$tsMs,"parent":$parent,""" +
        s""""dirs":[${dirs.map(q).mkString(",")}]}"""
    }
  }

  object Manifest {
    // version 0 = empty table
    val empty: Manifest = Manifest(0, "create", Nil, 0L, 0)

    /** Minimal parser for our own manifest JSON (flat, known keys). */
    def parse(json: String): Manifest = {
      def longOf(key: String): Long =
        s""""$key":(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
      val op = s""""operation":"((?:[^"\\\\]|\\\\.)*)"""".r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse("?")
      val dirs = s""""dirs":\\[(.*?)\\]""".r.findFirstMatchIn(json)
        .map(_.group(1)).filter(_.nonEmpty)
        .map(_.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")
          .replace("\\\"", "\"").replace("\\\\", "\\")))
        .getOrElse(Nil)
      val v = longOf("version").toInt
      // legacy manifests (pre-refs) are linear: parent = version - 1
      val parent = if (json.contains("\"parent\":")) longOf("parent").toInt
                   else math.max(v - 1, 0)
      Manifest(v, op, dirs, longOf("ts_ms"), parent)
    }
  }

  /** Create (or open) a snapshot table at `root`. `partitionBy` fixes the
    * hive-style partition spec at creation time (persisted in table
    * properties); reopening an existing table ignores a matching spec and
    * refuses a conflicting one.
    */
  def create(spark: SparkSession, root: String,
      partitionBy: Seq[String] = Nil): SnapshotTable = {
    val snapDir = Paths.get(root, "_snapshots")
    if (!Files.exists(snapDir.resolve("HEAD"))) {
      Files.createDirectories(snapDir)
      if (partitionBy.nonEmpty)
        Files.writeString(snapDir.resolve("PROPERTIES"),
          s"partitionBy=${partitionBy.mkString(",")}\n")
      Files.writeString(snapDir.resolve("v00000.json"), Manifest.empty.toJson)
      Files.writeString(snapDir.resolve("HEAD"), "0")
    }
    val t = new SnapshotTable(spark, root)
    require(partitionBy.isEmpty || t.partitionCols == partitionBy,
      s"table at $root is partitioned by ${t.partitionCols.mkString(",")}, " +
        s"not ${partitionBy.mkString(",")}")
    t
  }
}
