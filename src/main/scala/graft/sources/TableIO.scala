package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Source/sink layer: the reference's only sink is atomic
  * `CREATE OR REPLACE TABLE ... AS SELECT` (A1,
  * `/root/reference/core/transformations.py:149`); its only source is a
  * BigQuery table scan (A2). Spark equivalents plus the scale paths:
  *
  *  - `replaceTable`: overwrite-mode saveAsTable — Spark's atomic CTAS.
  *  - `replaceParquet`: path-based overwrite for catalog-less runs.
  *  - `replaceBucketed`: CTAS + bucketing on a key. Pre-bucketing every
  *    survey table version by `Connect_ID` makes the N-way full-outer
  *    merge exchange-free: each SortMergeJoin reads co-bucketed files,
  *    so at 100 TB the merge moves ZERO rows over the network (the
  *    reference pays a BigQuery shuffle per join). Verified by
  *    TableIOSpec asserting no Exchange in the bucketed join plan.
  */
object TableIO {

  /** Per-session unique token (sanitized Spark applicationId) for
    * catalog table names and scratch paths created as query-build side
    * effects: two concurrent driver/bench runs on one machine get
    * disjoint names instead of clobbering each other's index mid-query. */
  def sessionToken(spark: SparkSession): String =
    spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")

  private val scratchCleanup =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Session-scoped scratch path under java.io.tmpdir: unique per
    * session (no cross-run clobbering) AND registered for recursive
    * deletion at JVM exit (no cross-run leak — token-suffixed dirs
    * would otherwise accumulate forever where the old fixed names at
    * least self-overwrote). Catalog entries need no such hook: these
    * sessions use the in-memory catalog, which dies with the JVM. */
  def scratchDir(spark: SparkSession, name: String): String = {
    val base = s"${sys.props("java.io.tmpdir")}/graft_scratch_${sessionToken(spark)}"
    if (scratchCleanup.putIfAbsent(base, java.lang.Boolean.TRUE) == null)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))))
    s"$base/$name"
  }

  /** [[scratchDir]] emptied for a fresh run, with its filesystem: a
    * gate that rebuilds its fixture from scratch deletes whatever an
    * earlier run of the same session left at `name` (an idempotent
    * re-run) and starts from an absent path. */
  def freshScratchDir(spark: SparkSession,
      name: String): (org.apache.hadoop.fs.FileSystem, String) = {
    val dir = scratchDir(spark, name)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    (fs, dir)
  }

  /** Every file under `dir`, sorted by path: the lake layers' one tree
    * walk. A dir whose name is in `prune` (a table's own log or
    * timeline, `_delta_log` or `.hoodie`) is not descended, at any
    * depth; every other dir is, hive `k=v` dirs included. Callers:
    * `DeltaCompat`'s vacuum, partitioned publish and log export;
    * `HudiCompat`'s file-slice index (snapshot, MOR and clean);
    * `IcebergCompat`'s metadata export; `SnapshotTable`'s data-dir
    * listing. */
  def listFilesRecursive(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      prune: Set[String] = Set.empty): IndexedSeq[org.apache.hadoop.fs.FileStatus] = {
    def files(p: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).iterator.flatMap { st =>
        if (!st.isDirectory) Iterator.single(st)
        else if (prune.contains(st.getPath.getName)) Iterator.empty
        else files(st.getPath)
      }
    files(dir).toIndexedSeq.sortBy(_.getPath.toString)
  }

  /** A small metadata file's whole content as UTF-8 text, read in the
    * calling process: the lake layers' one small-file reader. Callers:
    * `DeltaCompat`'s `_last_checkpoint` and JSON commits;
    * `HudiCompat`'s `hoodie.properties`; `IcebergCompat`'s
    * `version-hint.text` and metadata JSON; `SnapshotTable`'s
    * manifests, tags and sidecars; `SnapshotCatalog`'s pointer files.
    * Binary formats with ranged reads (Hudi log blocks, Puffin, DV
    * sidecars) keep their own readers. */
  def readText(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** THE COMMIT POINT of every lake log: publish `bytes` under `target`
    * only if no file has that name yet, and return whether this call
    * published it. The bytes go to a dot-temp in the target's dir
    * (`.<name>.<uuid>.tmp`, unique per call, hidden from data listings)
    * and are fully written and closed before one atomic, create-exclusive
    * name operation makes them visible, so a reader never sees a partial
    * file and a write that fails (in `close` too) publishes nothing. The
    * temp is deleted in a `finally`, whatever the outcome.
    *  - `file:` — a hard link ([[java.nio.file.Files.createLink]]), which
    *    fails with EEXIST when the name exists; rename(2) would silently
    *    replace it, and whether Hadoop's local `rename` refuses an
    *    existing target depends on the `FileSystem` class;
    *  - other schemes — `rename` of the temp when the target is absent,
    *    which HDFS specifies to fail on an existing destination (the
    *    primitive Iceberg's HadoopTableOperations relies on).
    * Callers: `SnapshotTable`'s `_manifest-N` (every single-committer
    * commit, and `appendConcurrent`, whose retry loop acts on a loss),
    * `SnapshotCatalog`'s `_cat-N`, `DeltaCompat.writeCommit`'s
    * `_delta_log/<v>.json`, `IcebergCompat`'s `vN.metadata.json` and
    * `HudiCompat`'s completed instants. The single-committer callers
    * `require` the win with a message naming the target. Pointer files
    * replaced in place (`version-hint.text`, `_last_checkpoint`,
    * `_ref-*` tags) are not commits of this kind. */
  def commitFile(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Boolean = {
    val tmp = new org.apache.hadoop.fs.Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      if ("file" == target.toUri.getScheme || fs.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath),
            java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      else !fs.exists(target) && fs.rename(tmp, target)
    } finally fs.delete(tmp, false) // a linked target keeps its content
  }

  def readTable(spark: SparkSession, name: String): DataFrame = spark.read.table(name)

  /** `spark.read.parquet(path)` without its schema-inference job where
    * the driver can answer: a file, or a flat directory of data files
    * with no `_metadata`/`_common_metadata` summary, is read with the
    * schema of its first data file by path
    * ([[Bridge.parquetInferredSchema]]), which is the one file Spark's own
    * inference reads when mergeSchema is off. Names Spark's listing hides
    * (`_SUCCESS`, `.crc` files) are skipped. Anything else — a glob, a
    * missing path, a directory with subdirectories (partitions), summary
    * files or no data files, or `spark.sql.parquet.mergeSchema` on — is
    * `spark.read.parquet(path)` as it was, job and errors included. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    firstDataFile(spark, path) match {
      case Some(f) => spark.read.schema(Bridge.parquetInferredSchema(spark, f)).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The one file Spark's inference would read for `path`, when the
    * driver can tell it from one listing: the smallest visible path of a
    * file or a flat directory (a hidden file alone, a summary or a
    * subdirectory answers None). Spark sorts the leaves the same way
    * (`ParquetUtils.splitFiles`). */
  private def firstDataFile(spark: SparkSession, path: String): Option[String] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean ||
        path.exists("{}[]*?\\".contains(_))) None
    else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(Bridge.hadoopConf(spark))
      scala.util.Try(fs.getFileStatus(p)).toOption.flatMap { st =>
        val leaves = (if (st.isFile) Array(st) else fs.listStatus(p))
          .filterNot(c => hiddenByListing(c.getPath.getName))
        if (leaves.forall(c => c.isFile && !isSummary(c.getPath.getName)))
          leaves.map(_.getPath.toString).minOption
        else None
      }
    }

  /** The names Spark's file listing drops (`InMemoryFileIndex`): `_x`
    * without `=`, `.x`, `x._COPYING_` — except the parquet summaries. */
  private def hiddenByListing(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !isSummary(name)

  private def isSummary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** Read an explicit list of engine-written parquet FILES with the
    * schema taken from the first (lexicographically) file's footer on
    * the DRIVER — `spark.read.parquet(files)` without a schema launches
    * a schema-inference Spark job per call (with mergeSchema off it
    * reads one footer too, so the result is the same). `_metadata`
    * provenance columns are unaffected by an explicit schema.
    *
    * LIMITATION: a column present only in files that do not sort first
    * is dropped. Callers: `DeltaCompat`'s checkpoint reader (the
    * checkpoint's own parts, one write); the Iceberg live-file scan,
    * its position/equality-delete reads and `readAddedBetween`; the
    * Hudi CoW snapshot and `readIncremental`; `SnapshotTable.readPruned`.
    * The last four can span several commits (Iceberg windows and
    * snapshots, Hudi incremental windows, pruned snapshot dirs), so an
    * added column there can be lost. Delta table data does not come
    * through here: `DeltaCompat`'s scan reads the declared schema. */
  def readFilesFooter(spark: SparkSession, files: Seq[String]): DataFrame = {
    require(files.nonEmpty, "readFilesFooter needs at least one file")
    spark.read.schema(Bridge.parquetFooterSchema(spark, files.min)).parquet(files: _*)
  }

  /** Atomic table replace (CTAS semantics, A1). */
  def replaceTable(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)

  /** Path-based overwrite (A1 for lake paths). */
  def replaceParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** CSV source with header + schema inference options (the lake-side
    * ingest format the reference never needed — BigQuery load jobs did
    * this upstream; an engine owning the whole pipeline needs it). */
  def readCsv(spark: SparkSession, path: String,
      header: Boolean = true, inferSchema: Boolean = true): DataFrame =
    spark.read.option("header", header).option("inferSchema", inferSchema).csv(path)

  /** JSON-lines source. */
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Schema-evolution read: union the schemas of every file under the
    * paths (columns absent from older files come back null). The
    * survey-export reality — table versions gain/lose columns over
    * years — at the FILE level, complementing the semantic N-way merge
    * ([[graft.transform.MergeTableVersions]]) at the TABLE level.
    * mergeSchema costs a footer read per file; keep it off (default)
    * for schema-stable hot paths. */
  def readParquetMerged(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** CTAS + bucket/sort by a join key. Bucketed tables joined on the
    * bucket key skip the shuffle entirely (requires
    * spark.sql.sources.bucketing.enabled, default true). */
  def replaceBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    replaceBucketed(df, table, Seq(key), buckets, path = None)

  /** Multi-key bucketed CTAS, optionally EXTERNAL (data at `path`, so
    * catalog-less sessions — whose default warehouse is the process cwd
    * — keep their data in an explicit location). Bucketing on the FULL
    * join-key list makes the table's HashPartitioning exactly the
    * join's required distribution; a subset also suffices since
    * SPARK-35703 (the other side shuffles on the matching subset), but
    * full-key bucketing keeps per-bucket fan-in minimal. */
  def replaceBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int, path: Option[String]): Unit = {
    require(keys.nonEmpty, "bucketed write needs at least one key")
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Append into an EXISTING bucketed table with a matching bucket spec
    * (Spark validates the spec against the catalog's and rejects a
    * mismatch): the appended files are hashed into the same buckets, so
    * readers keep their exchange-free joins and bucket-pruned scans over
    * old + new data alike — the maintenance write of the incremental
    * index pattern ([[graft.ops.Pq.appendIvfPqIndex]]). Existing files
    * are never rewritten; each bucket simply gains a file per append
    * (compact() is the antidote when small appended files accumulate). */
  def appendBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit = {
    require(keys.nonEmpty, "bucketed append needs at least one key")
    df.write.mode(SaveMode.Append).format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Hive-style partitioned overwrite: one directory per distinct value
    * of `partitionCols`. At 100 TB this is the primary pruning lever —
    * a reader filtering on a partition column never opens the other
    * directories (PartitionFilters in the scan, verified by
    * TableIOSpec), and dynamic overwrite replaces only the partitions
    * present in `df` (idempotent daily reruns don't clobber history). */
  def replacePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** CDC MERGE (the `MERGE INTO` shape) against a hive-partitioned
    * parquet table: apply a keyed changelog batch — `opCol` ∈ I / U / D,
    * full row payload on I and U — WITHOUT rewriting the table.
    *
    * The partition column is the write-amplification lever: only the
    * partitions the changelog actually touches are read (partition-
    * pruned scan) and rewritten (dynamic partition overwrite — untouched
    * directories keep their original files byte-for-byte, which
    * TableIOSpec pins by file listing). Per-batch cost is
    * O(touched partitions) + O(changes), never O(table) — at 100 TB the
    * difference between a minute and a day. Within touched partitions
    * the merge is: survivors (anti-join against the BROADCAST changelog
    * key set — the changelog is small by CDC nature, the corpus side
    * never shuffles) ∪ the I/U payloads.
    *
    * Caveat (inherent to dynamic overwrite): a touched partition whose
    * post-merge content is EMPTY has no rows in the output and therefore
    * keeps its old files — fail fast instead of silently resurrecting
    * deleted rows. */
  def mergePartitioned(spark: SparkSession, path: String, partitionCol: String,
      keyCol: String, changes: DataFrame, opCol: String = "op"): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val touched = changes.select(col(partitionCol)).distinct().collect()
      .map(_.get(0)).toSeq
    require(touched.nonEmpty, "empty changelog: nothing to merge")
    val base = spark.read.parquet(path)
      .filter(col(partitionCol).isInCollection(touched))
    val keys = changes.select(col(keyCol)).distinct()
    val survivors = base.join(broadcast(keys), Seq(keyCol), "left_anti")
    val upserts = changes.filter(col(opCol) =!= "D").drop(opCol)
    val merged = survivors.unionByName(
      upserts.select(survivors.columns.map(col).toIndexedSeq: _*))
    val outParts = merged.select(col(partitionCol)).distinct().collect()
      .map(_.get(0)).toSet
    require(touched.forall(p => outParts.contains(p)),
      s"mergePartitioned: partition(s) ${touched.filterNot(outParts.contains)
        .mkString(", ")} would be left EMPTY — dynamic overwrite cannot " +
        "express an empty partition; delete the directory explicitly instead")
    replacePartitioned(merged, path, Seq(partitionCol))
  }

  /** RIGHT-TO-BE-FORGOTTEN predicate delete against a partitioned
    * table: remove every row whose `keyCol` appears in `deletions`,
    * rewriting ONLY the partitions the deletion batch touches
    * (`deletions` must carry `partitionCol` — derivable when the
    * partition is a function of the key, e.g. a user bucket). The kept
    * majority inside a touched partition never joins:
    * [[graft.ops.Sketches.bloomPrunedAntiJoin]] keeps bloom-negative
    * rows with a scan-fused filter and sends only the might-contain
    * sliver through the exact anti-join. Same empty-partition fail-fast
    * as [[mergePartitioned]] (dynamic overwrite cannot express an empty
    * partition). */
  def erasePartitioned(spark: SparkSession, path: String, partitionCol: String,
      keyCol: String, deletions: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val touched = deletions.select(col(partitionCol)).distinct().collect()
      .map(_.get(0)).toSeq
    require(touched.nonEmpty, "empty deletion batch: nothing to erase")
    val base = spark.read.parquet(path)
      .filter(col(partitionCol).isInCollection(touched))
    val nDel = deletions.count().max(1L)
    val kept = graft.ops.Sketches.bloomPrunedAntiJoin(base,
      deletions.select(col(keyCol)), keyCol, expectedItems = nDel)
    val outParts = kept.select(col(partitionCol)).distinct().collect()
      .map(_.get(0)).toSet
    require(touched.forall(outParts.contains),
      s"erasePartitioned: partition(s) ${touched.filterNot(outParts.contains)
        .mkString(", ")} would be left EMPTY — delete the directory " +
        "explicitly instead")
    replacePartitioned(kept, path, Seq(partitionCol))
  }

  /** Clustered overwrite: RANGE-repartition by the cluster key and sort
    * within partitions, so every output file covers a disjoint key range
    * (verified by TableIOSpec) and rows inside a file are key-ordered.
    * Point/range filters on the key then prune at BOTH granularities a
    * parquet reader has — whole files and row groups — via min/max
    * statistics: the file-layout lever (alongside directory partitioning
    * above) that makes a 100 TB scan read only the stripes it needs.
    * `maxRecordsPerFile` keeps files splittable-sized under key skew. */
  def replaceClustered(df: DataFrame, path: String, clusterKey: String,
      numFiles: Int, maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartitionByRange(numFiles, df(clusterKey))
      .sortWithinPartitions(clusterKey)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Small-files compaction — the lakehouse maintenance pass a 100 TB
    * table needs continuously: streaming/incremental writers leave
    * thousands of KB-sized files whose per-file open/footer/task cost
    * eventually dominates scans. The row count comes from parquet footer
    * metadata (no count job — the data is read exactly once, by the
    * rewrite itself); the directory is rewritten into
    * ⌈rows / rowsPerFile⌉ files via a round-robin repartition (no key —
    * compaction must not pay a hash/range shuffle's skew exposure;
    * layout-aware rewrites are [[replaceClustered]]/[[replaceZOrdered]]).
    * The rewrite lands in a temp directory, then swaps in via
    * rename-ASIDE (live -> .compact-old, tmp -> live, delete old). The
    * table path is absent only for the instant between the two metadata
    * renames (no data copies); a crash in that window strands nothing —
    * the old layout survives in `.compact-old`, and the NEXT compact()
    * call (or a manual rename) restores it before proceeding. Within
    * one filesystem a rename is a metadata operation; concurrent
    * readers racing that instant can observe a missing path and must
    * retry — take the table offline for a zero-race guarantee. */
  def compact(spark: SparkSession, path: String, rowsPerFile: Long): Unit = {
    require(rowsPerFile >= 1, "rowsPerFile must be positive")
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(hconf)
    val tmp = path.stripSuffix("/") + ".compact-tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val old = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".compact-old")
    // self-heal a previous crashed swap: live path missing but the
    // renamed-aside layout present -> restore it and carry on
    if (!fs.exists(target) && fs.exists(old))
      require(fs.rename(old, target), s"crash recovery failed: $old -> $path")
    // Row count from parquet footers (driver-side metadata reads, one
    // tiny range-read per file) instead of a count() job — the data is
    // then read EXACTLY once, by the rewrite. The input is by definition
    // a many-small-files directory, so O(files) footer reads are the
    // cheap side of the trade at any scale.
    val n = fs.listStatus(target)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(footerRows(hconf, _)).sum
    val files = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt
    spark.read.parquet(path)
      .repartition(files).write.mode(SaveMode.Overwrite).parquet(tmp)
    fs.delete(old, true) // clear debris from a previous crashed swap
    require(fs.rename(target, old), s"compaction swap failed: $path -> $old")
    if (!fs.rename(tmpPath, target)) {
      // roll back so the table path is restored before we report failure,
      // and say whether the rollback itself worked — if it didn't, the
      // data is stranded in `old` and the next compact()'s self-heal (or
      // a manual rename) must restore it
      val rolledBack = fs.rename(old, target)
      throw new IllegalStateException(
        s"compaction swap failed: $tmp -> $path; rollback " +
          (if (rolledBack) s"succeeded ($path restored)"
           else s"FAILED — table offline, data stranded in $old"))
    }
    fs.delete(old, true)
  }

  /** VACUUM for the [[compact]] swap protocol: heal-then-clean. A crash
    * anywhere in the rename swap leaves one of two residues — the live
    * path missing with the data renamed aside (crash BETWEEN the two
    * renames), or a healthy live path with `.compact-old` / stale
    * `.compact-tmp` debris (crash after the second rename or before the
    * first). Vacuum first restores a missing live path from
    * `.compact-old` (the conservative choice compact() itself makes —
    * the tmp rewrite may be incomplete, the renamed-aside original never
    * is), THEN deletes both residue dirs. Ordering is the safety
    * property: debris is only ever deleted while the live path exists,
    * so vacuum can run on any schedule against any crash state without
    * data loss. Returns (restored, removed dirs). */
  def vacuum(spark: SparkSession, path: String): (Boolean, Int) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(hconf)
    val old = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".compact-old")
    val tmp = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".compact-tmp")
    var restored = false
    if (!fs.exists(target) && fs.exists(old)) {
      require(fs.rename(old, target), s"vacuum crash recovery failed: $old -> $path")
      restored = true
    }
    require(fs.exists(target),
      s"vacuum refusing to clean debris: live path $path missing and no " +
        ".compact-old to restore it from")
    var removed = 0
    if (fs.delete(old, true)) removed += 1
    if (fs.delete(tmp, true)) removed += 1
    (restored, removed)
  }

  /** True when `e` (or any cause below it) is a failure shape a reader
    * racing [[compact]]'s rename swap can observe, at EITHER stage:
    * plan-time path resolution (AnalysisException PATH_NOT_FOUND),
    * task execution over already-listed files that the swap moved
    * (FileNotFoundException under a SparkException), or a directory
    * LISTING that catches the swap mid-rename — on Linux local FS the
    * rename window can surface as `AccessDeniedException: ... Permission
    * denied` from InMemoryFileIndex, not a missing-path shape (observed
    * in the r12 closing-tree race test), or as an AnalysisException
    * UNABLE_TO_INFER_SCHEMA (the listing found the directory but none
    * of its parquet files). All are transient inside the
    * bounded retry window; a genuinely unreadable path still fails after
    * `attempts` tries, so widening the predicate costs only bounded
    * extra latency on a real permission error. */
  private[graft] def isPathMissing(e: Throwable): Boolean = e match {
    case null => false
    case t: org.apache.spark.SparkThrowable
      if t.getCondition == "UNABLE_TO_INFER_SCHEMA" => true
    case _: java.io.FileNotFoundException => true
    case _: java.nio.file.NoSuchFileException => true
    case _: java.nio.file.AccessDeniedException => true
    case e2 if e2.getMessage != null &&
      (e2.getMessage.contains("PATH_NOT_FOUND") ||
        e2.getMessage.contains("Path does not exist") ||
        // Spark 4 stage-failure shape when tasks exhaust their own
        // retries against a renamed-away file list (surfaces under
        // load; the cause chain is not always preserved across the
        // task->driver boundary, so match the error-class text too)
        e2.getMessage.contains("FILE_NOT_EXIST") ||
        e2.getMessage.contains("File does not exist") ||
        e2.getMessage.contains("FileNotFoundException") ||
        e2.getMessage.contains("NoSuchFileException") ||
        e2.getMessage.contains("AccessDeniedException") ||
        e2.getMessage.contains("Permission denied")) => true
    case e2 => isPathMissing(e2.getCause)
  }

  /** Run `f` over a parquet read of `path`, retrying the WHOLE
    * read-plus-action when a missing-path error surfaces — the
    * swap-window companion to [[compact]]: its rename-aside swap leaves
    * the table path absent for one metadata instant, and a plan built
    * just before the swap can also lose its listed files to the rename
    * mid-execution. Both failure shapes are transient (the new layout is
    * in place within the same instant), so a bounded retry with linear
    * backoff closes the race without any manifest indirection — and
    * without `ignoreMissingFiles`, which would silently DROP the moved
    * files' rows instead of re-planning over the new layout. Non-missing
    * errors propagate immediately; exhausting attempts rethrows the last
    * missing-path error (the table really is gone). */
  def withCompactSafeRead[T](spark: SparkSession, path: String,
      attempts: Int = 8, backoffMs: Long = 50)(f: DataFrame => T): T = {
    require(attempts >= 1, "need at least one attempt")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f(spark.read.parquet(path))
      catch {
        case scala.util.control.NonFatal(e) if isPathMissing(e) =>
          last = e
          Thread.sleep(backoffMs * (i + 1))
      }
      i += 1
    }
    throw last
  }

  /** ORC sink/source pair — second columnar format the engine speaks
    * natively (same pushdown/pruning machinery as parquet). */
  def replaceOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)
  def readOrc(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)

  /** Row count of one parquet file from its footer: a metadata read in
    * the calling process (one small range read, no data pages, no Spark
    * job).
    * Takes the `FileStatus` a listing already returned, so the caller
    * pays no extra status call. The one owner of footer row counts. */
  def footerRows(hconf: org.apache.hadoop.conf.Configuration,
      status: org.apache.hadoop.fs.FileStatus): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, hconf))
    try r.getRecordCount finally r.close()
  }

  /** STAGED WRITE, the lake layers' publish step: write `df` as parquet
    * to the staging dir `dir/.tmp-<tag>`, then rename its parts into
    * place and delete the staging dir (also when the call fails).
    * Readers of a lake table see only the files a commit names, so the
    * moved files stay invisible until the caller commits them (Delta
    * log, Iceberg manifest, Hudi instant).
    *
    * Contract:
    *  - part order: the staged parts sorted by file name, so the i-th
    *    of n parts (0-based) lands at `dir/<name(i, n)>`; parent dirs
    *    are created;
    *  - an existing target fails the call before any part moves, with
    *    both paths named, and the existing file is left untouched (a
    *    failed rename is a `require` naming both paths too);
    *  - returns each target's name and footer row count, in part order
    *    — no count() job.
    * A write that may be retried at the same names (a failed commit
    * leaves its published files behind) puts a per-attempt token in
    * them, as the Delta and Iceberg writers do.
    * The single-file form is [[stageFile]]. */
  def stageFiles(df: DataFrame, dir: String, tag: String)(
      name: (Int, Int) => String): IndexedSeq[(String, Long)] = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.tmp-$tag")
    val fs = tmp.getFileSystem(hconf)
    try {
      df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val parts = fs.listStatus(tmp)
        .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      require(parts.nonEmpty, s"staged write at $tmp produced no parquet part")
      val named = parts.indices.map(i => name(i, parts.length) -> footerRows(hconf, parts(i)))
      publish(fs, dir, parts.toIndexedSeq.map(_.getPath).zip(named.map(_._1)))
      named
    } finally fs.delete(tmp, true)
  }

  /** [[stageFiles]] for exactly one file: coalesces `df` to one
    * partition, so every row lands in `dir/<name>` (a parallel write
    * can never leave parts behind), and returns its footer row count.
    * Same contract: an existing target fails the call. */
  def stageFile(df: DataFrame, dir: String, name: String): Long =
    stageFiles(df.coalesce(1), dir, name.replace('/', '_')) { (_, n) =>
      require(n == 1, s"single-file stage of $name wrote $n parts")
      name
    }.head._2

  /** The rename tail shared by [[stageFiles]], [[writePartFiles]] and
    * `DeltaCompat`'s partitioned publish: every target is checked absent
    * before the first rename, then each staged file moves to
    * `dir/<name>`. It reads no footer; callers that return row counts
    * count the staged files themselves. */
  private[sources] def publish(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      moves: IndexedSeq[(org.apache.hadoop.fs.Path, String)]): Unit = {
    val targets = moves.map { case (src, name) =>
      val dst = new org.apache.hadoop.fs.Path(s"$dir/$name")
      require(!fs.exists(dst), s"cannot move $src -> $dst: target exists")
      src -> dst
    }
    targets.foreach { case (src, dst) =>
      fs.mkdirs(dst.getParent)
      require(fs.rename(src, dst), s"rename $src -> $dst failed")
    }
  }

  /** One-pass scratch-fixture writer: one parquet data file per value of
    * `partCol` (an integer column valued 0 until nParts), the layout the
    * lake-interop gates previously produced with a per-part
    * `filter(partCol === m).coalesce(1).write` LOOP — N full scans of
    * the source for N files (guide §2.4: remove redundant passes). Here
    * the rows shuffle ONCE, hash-partitioned by `partCol` so each value
    * lands wholly in one task and the sort-based dynamic-partition
    * writer emits exactly one file per value; every column of `df` —
    * `partCol` included — stays in the data files via a duplicated
    * partition key. `sortCols` pins the physical row order within each
    * file (for position-addressed fixtures: deletion vectors / Iceberg
    * position deletes). Files land as `dir/<namer(m)>` through
    * [[stageFiles]]' rename tail (an existing target fails).
    * Returns (fileName, rowCount) indexed by part value — footer
    * counts, so callers needing them pay no count() job. */
  def writePartFiles(df: DataFrame, dir: String, partCol: String, nParts: Int,
      sortCols: Seq[String] = Nil,
      namer: Int => String = m => f"part-$m%05d.snappy.parquet")
      : IndexedSeq[(String, Long)] = {
    require(nParts >= 1, "need nParts >= 1")
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.tmp-parts")
    val fs = tmp.getFileSystem(hconf)
    import org.apache.spark.sql.functions.col
    val wp = Iterator.from(0).map(i => s"__wp$i")
      .filterNot(df.columns.contains).next()
    val keyed = df.withColumn(wp, col(s"`$partCol`"))
      .repartition(nParts, col(wp))
    val ordered =
      if (sortCols.isEmpty) keyed
      else keyed.sortWithinPartitions((wp +: sortCols).map(c => col(s"`$c`")): _*)
    try {
      ordered.write.partitionBy(wp).mode(SaveMode.Overwrite).parquet(tmp.toString)
      val files = (0 until nParts).map { m =>
        val pdir = new org.apache.hadoop.fs.Path(tmp, s"$wp=$m")
        require(fs.exists(pdir),
          s"part $m of $partCol has no rows — the fixture expects every part populated")
        val parts = fs.listStatus(pdir).filter(_.getPath.getName.endsWith(".parquet"))
        require(parts.length == 1,
          s"expected exactly one file for part $m, got ${parts.length}")
        parts.head
      }
      val named = files.indices.map(m => namer(m) -> footerRows(hconf, files(m)))
      publish(fs, dir, files.map(_.getPath).zip(named.map(_._1)))
      named
    } finally fs.delete(tmp, true)
  }

  /** Morton (Z-order) interleave of the low `bits` bits of N ≥ 2
    * non-negative integer columns: column j's bit i lands at position
    * N·i + j, so consecutive code values walk a space-filling curve over
    * the N-dim grid. Pure shift/mask/or expression tree — codegen'd, no
    * UDF. N·bits must fit a signed long (≤ 63). */
  def mortonCode(cols: Seq[org.apache.spark.sql.Column],
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.shiftleft
    val n = cols.size
    require(n >= 2, "mortonCode needs at least 2 dimensions")
    require(bits >= 1 && n * bits <= 63,
      s"bits must satisfy 1 <= bits and $n * bits <= 63")
    val terms = cols.zipWithIndex.flatMap { case (c, j) =>
      val cl = c.cast("long")
      // bit i sits at position i after the AND; target is N*i + j
      (0 until bits).map(i => shiftleft(cl.bitwiseAND(1L << i), i * (n - 1) + j))
    }
    terms.reduce(_ bitwiseOR _)
  }

  /** 2-D convenience overload (x's bit i at 2i, y's at 2i+1). */
  def mortonCode(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column =
    mortonCode(Seq(x, y), bits)

  /** Z-order-clustered overwrite: range-repartition + sort by the Morton
    * code of N cluster keys, so every output file covers a compact
    * hyper-rectangle of the key space instead of a stripe of one key —
    * min/max statistics then prune files and row groups for filters on
    * ANY clustered dimension (the Delta/Iceberg OPTIMIZE ZORDER layout,
    * built from Spark primitives). [[replaceClustered]] is the 1-D
    * special case; locality of the 2-D and 3-D layouts is pinned by
    * TableIOSpec (per-file bounding-box volume ≪ a key-ordered
    * layout's). */
  def replaceZOrdered(df: DataFrame, path: String, clusterCols: Seq[String],
      numFiles: Int, bits: Int, maxRecordsPerFile: Long): Unit = {
    val z = mortonCode(clusterCols.map(df(_)), bits)
    // collision-free helper name (the Skew/RangeJoin convention)
    val zc = Iterator.from(0).map(i => s"__zorder$i")
      .filterNot(df.columns.contains).next()
    df.withColumn(zc, z)
      .repartitionByRange(numFiles, org.apache.spark.sql.functions.col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
  }

  /** 2-key convenience overload. */
  def replaceZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      numFiles: Int, bits: Int = 16, maxRecordsPerFile: Long = 5000000L): Unit =
    replaceZOrdered(df, path, Seq(xCol, yCol), numFiles, bits, maxRecordsPerFile)
}
