package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, when}
import org.apache.hadoop.fs.{FileSystem, Path}

import scala.jdk.CollectionConverters._

/** Manifest-pointer snapshot table: the transactional layer that makes
  * table REPLACEMENT (CTAS, compaction, re-clustering) atomic BY
  * CONSTRUCTION instead of by retry — the mini-Iceberg answer to the
  * rename-aside swap in [[TableIO.compact]], whose one-instant missing
  * path forces readers through [[TableIO.withCompactSafeRead]]'s bounded
  * retry (and whose retry predicate demonstrably missed a failure shape
  * in the r12 closing-tree race test).
  *
  * Layout under the table root:
  * {{{
  *   <root>/_manifest-00000000000000000001   # pointer file: one data-dir name per line
  *   <root>/_manifest-00000000000000000002
  *   <root>/snap-00000000000000000001/       # immutable parquet data dirs
  *   <root>/snap-00000000000000000002/
  *   <root>/snap-00000000000000000002/_stats.tsv   # optional per-file min/max sidecar
  * }}}
  *
  * A manifest is a FILE LIST (one immutable data dir per line), not a
  * single pointer: [[commit]] writes a one-dir manifest (full replace);
  * [[append]] writes ONLY the delta rows into a fresh dir and lists
  * `previous dirs + the new dir` — an O(delta) commit at any table
  * size, the property that makes incremental ingest into a 100 TB
  * table affordable. Data dirs are shared across snapshots by name;
  * nothing is ever rewritten by an append.
  *
  * Protocol (single committer; readers unlimited):
  *  - COMMIT: write parquet into a fresh `snap-N` dir, then publish
  *    `_manifest-N` through [[TableIO.commitFile]] (dot-temp write, then
  *    one create-exclusive name operation). The publish is the commit
  *    point: one metadata operation creating a NEW name — never a rename
  *    over the live path, so there is no instant where the table is
  *    unreadable, and a second committer racing for N fails instead of
  *    replacing the winner's manifest. A crash before the publish
  *    leaves an orphan data dir no manifest references: invisible to
  *    readers, reclaimed by [[vacuum]].
  *  - READ: list `_manifest-*`, take the max sequence, read its dir
  *    list, scan those dirs. Listing sees either the old manifest set
  *    or old+new — both are complete, committed states. Data dirs are
  *    immutable once committed, so a plan built against snap-N can
  *    execute concurrently with ANY number of later commits: reader
  *    isolation with zero retries.
  *  - TIME TRAVEL: [[readAt]] scans any still-retained snapshot id.
  *  - CDC: [[appendedBetween]] reads ONLY the dirs added between two
  *    snapshots of an append-only chain (O(delta), no diff join);
  *    [[diff]] is the general keyed row-level diff for arbitrary
  *    rewrites (insert / delete / update via one full-outer join).
  *  - DATA SKIPPING: commits may carry a per-file min/max sidecar for
  *    chosen numeric columns, harvested from the parquet FOOTERS of the
  *    just-written files (no second data pass); [[readPruned]] plans a
  *    scan over only the files whose [min,max] intersects a predicate
  *    range — the manifest-level pruning that turns a point/range query
  *    on a range-clustered 100 TB table into a few file reads. Files
  *    without stats are always kept (pruning is only ever a superset of
  *    the matching files; the caller's real filter still applies).
  *  - ROW-LEVEL DELETE (merge-on-read): [[deleteWhere]]/[[deleteKeys]]
  *    commit an EQUALITY-DELETE dir (`del-N`, a parquet of key rows)
  *    instead of rewriting data — O(keys) erasure at any table size.
  *    Reads anti-join the keys out of strictly OLDER data dirs (a row
  *    re-inserted after the delete survives — Iceberg's equality-delete
  *    sequencing); [[compact]] materializes pending deletes back into a
  *    pure-data snapshot (the merge-on-read → copy-on-write
  *    transition).
  *  - MULTI-WRITER APPEND: [[appendConcurrent]] is the optimistic-
  *    concurrency variant — nonce-named delta dir + a compare-and-swap
  *    manifest publish ([[TableIO.commitFile]]: hard-link create-exclusive
  *    on local filesystems, no-overwrite rename on HDFS); a lost race
  *    costs one re-read + one dir rename + one retry, never a data
  *    rewrite.
  *  - VACUUM: drop all but the newest `keepLast` snapshots' manifests,
  *    then every data dir referenced by no surviving manifest (appends
  *    share dirs, so reference-counting is by name across the kept
  *    set), plus stale dot-temps from crashed commits. Deletion only
  *    ever touches non-current versions, so vacuum is safe on any
  *    schedule; a reader still executing against a snapshot older than
  *    the retention window is the standard lakehouse retention trade,
  *    stated here explicitly.
  *
  * 100 TB posture: the pointer flip costs one small-file write + one
  * metadata link or rename regardless of table size; appends touch only the
  * delta; compaction/re-clustering rewrite data into the NEXT snapshot
  * while readers keep scanning the current one — maintenance never
  * takes the table offline and never races a reader. Reference anchor:
  * the reference's only sink is atomic `CREATE OR REPLACE TABLE`
  * (`/root/reference/core/transformations.py:149`); this layer supplies
  * the same atomic-replace contract for a path-based lake, plus the
  * reader isolation BigQuery gives for free.
  */
object SnapshotTable {

  private val ManifestPrefix = "_manifest-"
  private val SnapPrefix = "snap-"
  private val DelPrefix = "del-"
  private val StatsFile = "_stats.tsv"

  private def fmt(id: Long): String = f"$id%020d"

  /** Manifest lines are usually bare dir names, but a [[cloneTo]]
    * manifest lists ABSOLUTE source paths — all name-shape decisions
    * therefore read the LAST path component, never the raw line (an
    * absolute path can contain digits or prefixes of its own). */
  private def baseName(dirName: String): String =
    dirName.substring(dirName.lastIndexOf('/') + 1)

  /** Commit sequence a data/delete dir was born in — the first 20-digit
    * run after its prefix (dir names are `snap-<seq>` / `del-<seq>`). */
  private def seqOf(dirName: String): Long =
    baseName(dirName).dropWhile(!_.isDigit).takeWhile(_.isDigit).toLong

  private def isDeleteDir(dirName: String): Boolean =
    baseName(dirName).startsWith(DelPrefix)

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** All committed snapshot ids at `root`, ascending (empty for a
    * not-yet-created table). One directory listing. */
  def snapshots(spark: SparkSession, root: String): Seq[Long] = {
    val (fs, p) = fsFor(spark, root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .map(n => n.stripPrefix(ManifestPrefix).toLong)
      .toSeq.sorted
  }

  /** Current (highest committed) snapshot id. */
  def currentSnapshot(spark: SparkSession, root: String): Long = {
    val s = snapshots(spark, root)
    require(s.nonEmpty, s"no committed snapshot at $root")
    s.last
  }

  /** Dir lines of a manifest. Lines starting with `#` are METADATA
    * (e.g. `#batch:<key>` from [[appendIdempotent]]) — carried inside
    * the same atomic commit file, invisible to the dir list. */
  private def readManifest(fs: FileSystem, root: Path, id: Long): Seq[String] =
    TableIO.readText(fs, new Path(root, ManifestPrefix + fmt(id)))
      .split("\n").iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  private def readManifestMeta(fs: FileSystem, root: Path, id: Long): Seq[String] =
    TableIO.readText(fs, new Path(root, ManifestPrefix + fmt(id)))
      .split("\n").iterator.map(_.trim).filter(_.startsWith("#")).toSeq

  /** Data-dir names (relative to root) that snapshot `id` is made of —
    * one for a replace commit, several for an append chain. */
  def dirsAt(spark: SparkSession, root: String, id: Long): Seq[String] = {
    val (fs, rootPath) = fsFor(spark, root)
    readManifest(fs, rootPath, id)
  }

  /** Write `df` into a fresh immutable data dir; returns (next id, dir
    * name). Shared by commit/append — the dir is invisible until a
    * manifest referencing it is committed. `partitionCols` writes the
    * dir hive-partitioned (see [[appendPartitioned]]). */
  private def writeDataDir(df: DataFrame, root: String,
      statsCols: Seq[String], partitionCols: Seq[String] = Nil): (Long, String) = {
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    fs.mkdirs(rootPath)
    val next = snapshots(spark, root).lastOption.getOrElse(0L) + 1L
    val snapDir = SnapPrefix + fmt(next)
    val snapPath = new Path(rootPath, snapDir)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(snapPath.toString)
    if (statsCols.nonEmpty) writeStats(spark, fs, snapPath, statsCols)
    (next, snapDir)
  }

  /** All parquet files under `dir`, RECURSIVELY and sorted by path —
    * hive-partitioned data dirs nest their files one level per
    * partition column. */
  private def listParquetFiles(fs: FileSystem,
      dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    TableIO.listFilesRecursive(fs, dir).filter(_.getPath.getName.endsWith(".parquet"))

  /** A data dir written with a partition spec has `col=value` subdirs. */
  private def isHivePartitioned(fs: FileSystem, dir: Path): Boolean =
    fs.listStatus(dir).exists(st =>
      st.isDirectory && st.getPath.getName.contains("="))

  /** Declared schema of an engine-written dir from ONE part footer, read
    * on the DRIVER — `spark.read.parquet(dir)` without a schema launches
    * a Spark schema-INFERENCE job per call, and the snapshot layer reads
    * dirs once per consumer (MOR scans, delete grouping, audits). Each
    * dir is a single commit's write: uniform schema by construction —
    * the same single-footer answer inference gives with mergeSchema off.
    * Not applicable to hive-partitioned dirs (partition discovery
    * synthesizes the partition columns) or mergeSchema reads. */
  private def dirFooterSchema(spark: SparkSession, fs: FileSystem,
      dir: Path): org.apache.spark.sql.types.StructType = {
    val files = listParquetFiles(fs, dir)
    require(files.nonEmpty, s"no parquet files under $dir")
    org.apache.spark.sql.graftbridge.Bridge.parquetFooterSchema(spark,
      files.head.getPath.toString)
  }

  /** Flat (non-hive, non-mergeSchema) dir read with the footer schema —
    * zero inference jobs. */
  private def readFlatDirs(spark: SparkSession, fs: FileSystem,
      dirs: Seq[Path]): DataFrame =
    spark.read.schema(dirFooterSchema(spark, fs, dirs.head))
      .parquet(dirs.map(_.toString): _*)

  /** Read a set of data dirs as one DataFrame, honoring PARTITION
    * EVOLUTION: dirs written under different partition specs (flat,
    * partitioned-by-X, partitioned-by-Y) cannot share one multi-path
    * scan (partition discovery needs a common layout), so any mixed set
    * reads per-dir and unions BY NAME — a hive dir surfaces its
    * partition values as columns, a flat dir has them as data columns,
    * and the union reconciles order. Homogeneous flat sets keep the
    * single multi-path scan. Filters on a partition column prune
    * directories inside each hive dir (PartitionFilters — pinned in
    * SnapshotTableSpec) and push down as row-group filters in flat
    * dirs: each dir is pruned as well as ITS spec allows, the Iceberg
    * per-spec contract. */
  private def readDirs(spark: SparkSession, rootPath: Path, dirs: Seq[String],
      mergeSchema: Boolean): DataFrame = {
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    val anyHive = dirs.exists(d => isHivePartitioned(fs, new Path(rootPath, d)))
    if (!anyHive && !mergeSchema)
      readFlatDirs(spark, fs, dirs.map(d => new Path(rootPath, d)))
    else if (!anyHive)
      reader.parquet(dirs.map(d => new Path(rootPath, d).toString): _*)
    else dirs.map { d =>
      val p = new Path(rootPath, d)
      if (!mergeSchema && !isHivePartitioned(fs, p)) readFlatDirs(spark, fs, Seq(p))
      else reader.parquet(p.toString)
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = mergeSchema))
  }

  /** The commit point: publish `_manifest-N` through
    * [[TableIO.commitFile]] — one create-exclusive metadata op making a
    * NEW name visible with its whole content, never touching the live
    * pointer set. A taken N (a second committer) fails the call and
    * leaves the winner's manifest as it was. */
  private def commitManifest(spark: SparkSession, root: String, next: Long,
      dirs: Seq[String], meta: Seq[String] = Nil): Long = {
    require(meta.forall(_.startsWith("#")), "manifest metadata lines start with #")
    val (fs, rootPath) = fsFor(spark, root)
    val manifest = new Path(rootPath, ManifestPrefix + fmt(next))
    val body = (dirs ++ meta).mkString("", "\n", "\n").getBytes("UTF-8")
    require(TableIO.commitFile(fs, manifest, body), s"snapshot $manifest already " +
      "exists — snapshot commits require a single committer per table")
    next
  }

  /** Commit `df` as the next snapshot of the table at `root` (full
    * REPLACE: the new manifest lists only the new data dir); returns
    * the new snapshot id. `statsCols` optionally harvests per-file
    * min/max for those numeric columns from the just-written parquet
    * footers into the dir's `_stats.tsv` (see [[readPruned]]). */
  def commit(df: DataFrame, root: String, statsCols: Seq[String] = Nil): Long = {
    val (next, snapDir) = writeDataDir(df, root, statsCols)
    commitManifest(df.sparkSession, root, next, Seq(snapDir))
  }

  /** APPEND `df` to the table at `root`: writes only the delta rows
    * into a fresh data dir and commits a manifest of `previous dirs +
    * new dir` — O(delta) regardless of table size; nothing existing is
    * rewritten. Returns the new snapshot id. */
  def append(df: DataFrame, root: String, statsCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    val prior =
      snapshots(spark, root).lastOption
        .map(id => readManifest(fs, rootPath, id)).getOrElse(Nil)
    val (next, snapDir) = writeDataDir(df, root, statsCols)
    commitManifest(spark, root, next, prior :+ snapDir)
  }

  private val KmvFile = "_kmv.tsv"
  private val KmvK = 64

  /** Harvest a per-dir KMV (k-minimum-values) DISTINCT-VALUE sketch for
    * `cols` into `<dir>/_kmv.tsv`: the [[KmvK]] smallest 60-bit
    * md5 hashes of each column's distinct values, one line per column.
    * Costs one narrow pass over the JUST-WRITTEN dir — O(delta) on an
    * append, never O(table). KMV sketches merge by set-union-then-trim,
    * so table-wide NDV is later answered from sidecars alone
    * ([[approxDistinct]]); md5 makes every hash (and so the estimate)
    * engine-replayable — no RNG, no implementation-defined hash. */
  private def writeKmvSidecar(spark: SparkSession, fs: FileSystem,
      snapPath: Path, cols: Seq[String]): Unit = {
    val df = spark.read.parquet(snapPath.toString)
    val lines = cols.map { c =>
      val hs = df.filter(col(c).isNotNull)
        .select(org.apache.spark.sql.functions.conv(
          org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.md5(col(c).cast("string")), 1, 15),
          16, 10).cast("long").as("h"))
        .distinct().orderBy(col("h")).limit(KmvK)
        .collect().map(_.getLong(0))
      s"$c\t${hs.mkString(",")}"
    }
    val out = fs.create(new Path(snapPath, KmvFile), true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Commit/append variants carrying NDV sketches: same write paths as
    * [[commit]]/[[append]] plus the KMV sidecar harvest on the new dir. */
  def commitWithNdv(df: DataFrame, root: String, kmvCols: Seq[String],
      statsCols: Seq[String] = Nil): Long = {
    require(kmvCols.nonEmpty, "commitWithNdv needs sketch columns")
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    val (next, snapDir) = writeDataDir(df, root, statsCols)
    writeKmvSidecar(spark, fs, new Path(rootPath, snapDir), kmvCols)
    commitManifest(spark, root, next, Seq(snapDir))
  }

  def appendWithNdv(df: DataFrame, root: String, kmvCols: Seq[String],
      statsCols: Seq[String] = Nil): Long = {
    require(kmvCols.nonEmpty, "appendWithNdv needs sketch columns")
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    val prior = snapshots(spark, root).lastOption
      .map(id => readManifest(fs, rootPath, id)).getOrElse(Nil)
    val (next, snapDir) = writeDataDir(df, root, statsCols)
    writeKmvSidecar(spark, fs, new Path(rootPath, snapDir), kmvCols)
    commitManifest(spark, root, next, prior :+ snapDir)
  }

  /** METADATA-ONLY approximate distinct count of `column` over the
    * current snapshot: union the per-dir KMV sidecars, trim to the k
    * smallest, estimate NDV as `(k-1)·2^60 / kth_min` (the standard KMV
    * estimator; exact when fewer than k distinct hashes exist). Zero
    * data scanned at query time — the ANALYZE statistic a 100 TB table
    * keeps current incrementally, each append contributing one O(delta)
    * harvest. Returns (kth_min, estimate, n_merged): `kth_min` is -1 on
    * the exact path. Refuses pending equality deletes (NDV would count
    * masked rows). Every dir must carry a sidecar line for `column` —
    * sketched columns are a table-level contract, enforced loudly. */
  def approxDistinct(spark: SparkSession, root: String,
      column: String): (Long, Double, Int) = {
    val (fs, rootPath) = fsFor(spark, root)
    val dirs = readManifest(fs, rootPath, currentSnapshot(spark, root))
    require(!dirs.exists(isDeleteDir),
      s"approxDistinct is undefined under pending equality deletes at $root")
    val merged = scala.collection.mutable.SortedSet.empty[Long]
    dirs.foreach { d =>
      val p = new Path(rootPath, new Path(d, KmvFile).toString)
      require(fs.exists(p),
        s"dir $d has no NDV sidecar at $root — commitWithNdv/appendWithNdv " +
          "must be used consistently for sketched tables")
      val line = TableIO.readText(fs, p).split("\n").iterator.map(_.trim)
        .find(_.startsWith(column + "\t"))
      require(line.isDefined, s"dir $d's NDV sidecar has no line for $column")
      val payload = line.get.substring(column.length + 1).trim
      if (payload.nonEmpty)
        payload.split(",").foreach(h => merged += h.toLong)
    }
    val ks = merged.take(KmvK).toSeq
    if (merged.size < KmvK) (-1L, merged.size.toDouble, merged.size)
    else {
      val kth = ks.last
      (kth, (KmvK - 1).toDouble * math.pow(2.0, 60) / kth.toDouble, KmvK)
    }
  }

  /** Commit with PARQUET-NATIVE BLOOM FILTERS on `bloomCols` (split-
    * block blooms in the file footers, `parquet.bloom.filter.enabled#
    * <col>`): point-predicate reads then skip row groups whose bloom
    * excludes the value — the data-skipping complement to the min/max
    * sidecar, which is useless for point lookups on HIGH-CARDINALITY
    * UNSORTED keys (every file's [min,max] spans the whole domain, so
    * range pruning keeps everything; a bloom rejects per row group with
    * ~1% false positives). The skipping happens inside the parquet
    * reader on any engine that honors the spec — including DuckDB
    * reading the same files. `ndv` sizes the blooms (bits ∝ distinct
    * values per row group). */
  def commitWithBlooms(df: DataFrame, root: String, bloomCols: Seq[String],
      ndv: Long = 100000L): Long = {
    require(bloomCols.nonEmpty, "commitWithBlooms needs bloom columns")
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    fs.mkdirs(rootPath)
    val next = snapshots(spark, root).lastOption.getOrElse(0L) + 1L
    val snapDir = SnapPrefix + fmt(next)
    val w = bloomCols.foldLeft(df.write.mode(SaveMode.Overwrite)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    w.parquet(new Path(rootPath, snapDir).toString)
    commitManifest(spark, root, next, Seq(snapDir))
  }

  /** The columns with a parquet bloom filter in the FIRST row group of
    * the first data file (by path) of snapshot `id` — the structural
    * audit that [[commitWithBlooms]] actually wrote blooms (readers skip
    * silently, so presence is the observable). Metadata-only. */
  def bloomColumns(spark: SparkSession, root: String, id: Long): Seq[String] = {
    val (fs, rootPath) = fsFor(spark, root)
    val dir = readManifest(fs, rootPath, id).filterNot(isDeleteDir).head
    val file = listParquetFiles(fs, new Path(rootPath, dir)).head
    val hconf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, hconf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val block = r.getFooter.getBlocks.get(0)
      val br = r.getBloomFilterDataReader(block)
      block.getColumns.asScala
        .filter(cc => br.readBloomFilter(cc) != null)
        .map(_.getPath.toDotString).toSeq
    } finally r.close()
  }

  /** METADATA-ONLY min/max of a numeric column over the current
    * snapshot, merged from the per-file `_stats.tsv` sidecars — the
    * `SELECT min(x), max(x)` a lakehouse answers without scanning.
    * Requires every data file to carry a stats line for `column`
    * (a partial answer would silently be wrong); refuses pending
    * equality deletes (masked rows could hold the extremes). */
  def metadataMinMax(spark: SparkSession, root: String,
      column: String): (Double, Double) = {
    val (fs, rootPath) = fsFor(spark, root)
    val dirs = readManifest(fs, rootPath, currentSnapshot(spark, root))
    require(!dirs.exists(isDeleteDir),
      s"metadataMinMax is undefined under pending equality deletes at $root")
    var lo = Double.PositiveInfinity
    var hi = Double.NegativeInfinity
    dirs.foreach { d =>
      val dirPath = new Path(rootPath, d)
      val statsPath = new Path(dirPath, StatsFile)
      require(fs.exists(statsPath),
        s"dir $d has no stats sidecar at $root — commit with statsCols to " +
          "answer min/max from metadata")
      val ranges = TableIO.readText(fs, statsPath).split("\n").iterator
        .map(_.trim).filter(_.nonEmpty).map(_.split("\t"))
        .filter(p => p.length == 4 && p(1) == column)
        .map(p => p(0) -> (p(2).toDouble, p(3).toDouble)).toMap
      val files = listParquetFiles(fs, dirPath).map(_.getPath.getName)
      val uncovered = files.filterNot(ranges.contains)
      require(uncovered.isEmpty,
        s"dir $d has files without $column stats (${uncovered.take(3)}) — " +
          "a metadata min/max over partial stats would be wrong")
      ranges.values.foreach { case (mn, mx) =>
        lo = math.min(lo, mn); hi = math.max(hi, mx)
      }
    }
    require(lo <= hi, s"no $column stats found at $root")
    (lo, hi)
  }

  /** METADATA-ONLY row count of the current snapshot: summed from the
    * parquet footers of the manifest's files — O(files) tiny range
    * reads, zero data scanned, the `SELECT count(*)` a lakehouse
    * answers from statistics. Refuses tables with pending equality
    * deletes (footers overcount the masked rows — compact first, or
    * pay the merge-on-read scan). */
  def metadataCount(spark: SparkSession, root: String): Long = {
    val (fs, rootPath) = fsFor(spark, root)
    val dirs = readManifest(fs, rootPath, currentSnapshot(spark, root))
    require(!dirs.exists(isDeleteDir),
      s"metadataCount is undefined under pending equality deletes at $root " +
        "— compact() to materialize them first")
    val hconf = spark.sparkContext.hadoopConfiguration
    dirs.iterator.flatMap(d =>
      listParquetFiles(fs, new Path(rootPath, d)).iterator)
      .map(TableIO.footerRows(hconf, _)).sum
  }

  /** PARTITION EVOLUTION append: write the delta hive-partitioned by
    * `partitionCols` while earlier dirs keep whatever spec they were
    * written under (flat, or partitioned by different columns) — the
    * table's partition spec evolves WITHOUT rewriting history, exactly
    * Iceberg's contract. Reads reconcile the specs by name (see
    * [[readDirs]]); a filter on the partition column directory-prunes
    * the new dirs and row-group-prunes the old — each generation is
    * pruned as well as its own layout allows. At 100 TB this is the
    * "we should have partitioned by day" migration executed as one
    * O(delta) commit instead of a table rewrite. */
  def appendPartitioned(df: DataFrame, root: String,
      partitionCols: Seq[String], statsCols: Seq[String] = Nil): Long = {
    require(partitionCols.nonEmpty, "appendPartitioned needs partition columns")
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    val prior =
      snapshots(spark, root).lastOption
        .map(id => readManifest(fs, rootPath, id)).getOrElse(Nil)
    val (next, snapDir) = writeDataDir(df, root, statsCols, partitionCols)
    commitManifest(spark, root, next, prior :+ snapDir)
  }

  /** Full-replace commit under a partition spec (see
    * [[appendPartitioned]] for the evolution story). */
  def commitPartitioned(df: DataFrame, root: String,
      partitionCols: Seq[String], statsCols: Seq[String] = Nil): Long = {
    require(partitionCols.nonEmpty, "commitPartitioned needs partition columns")
    val (next, snapDir) = writeDataDir(df, root, statsCols, partitionCols)
    commitManifest(df.sparkSession, root, next, Seq(snapDir))
  }

  /** WRITE-AUDIT-PUBLISH commit: stage the data dir, AUDIT the staged
    * parquet (NOT-NULL columns and UNIQUE keys, each one aggregate over
    * the staged files — the rows are already on disk, so the audit
    * never recomputes `df`'s lineage), and only then flip the manifest.
    * A failed audit throws and publishes NOTHING: readers keep the
    * previous snapshot, the staged dir is an orphan no manifest
    * references (vacuum fodder) — the quarantine-by-default posture a
    * production lake wants for constraint enforcement, and the WAP
    * pattern Iceberg documents with branch gymnastics, here native to
    * the manifest flip. Returns the new snapshot id. */
  def commitAudited(df: DataFrame, root: String, notNull: Seq[String],
      uniqueKey: Seq[String] = Nil, statsCols: Seq[String] = Nil): Long = {
    require(notNull.nonEmpty || uniqueKey.nonEmpty,
      "commitAudited without constraints is just commit()")
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    val (next, snapDir) = writeDataDir(df, root, statsCols)
    val staged = spark.read.parquet(new Path(rootPath, snapDir).toString)
    // ONE audit job over the staged files: when both constraint kinds are
    // present, per-key group sizes and per-column null counts ride the
    // same two-level aggregate (sum of per-group null counts == total
    // nulls), instead of one job per constraint kind — the audit is a
    // fixed per-commit cost on the WAP path, so halving its job count
    // halves the publish latency a continuous-ingest writer pays per
    // batch (guide §1.2: remove passes before tuning inside them).
    val nullAggs = notNull.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(c))
    val (nullViolations: Seq[(String, Long)], dupKeys: Long) =
      if (uniqueKey.isEmpty) {
        val row = staged.agg(nullAggs.head, nullAggs.tail: _*).head()
        (notNull.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }
          .filter(_._2 > 0), 0L)
      } else {
        val perKey = count(lit(1)).as("__n") +: notNull.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"))
        val total =
          sum(when(col("__n") > 1, 1L).otherwise(0L)).as("__dup_keys") +:
            notNull.map(c => sum(col(s"__nulls_$c")).as(c))
        val row = staged.groupBy(uniqueKey.map(col): _*)
          .agg(perKey.head, perKey.tail: _*)
          .agg(total.head, total.tail: _*).head()
        (notNull.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }
          .filter(_._2 > 0), row.getLong(0))
      }
    if (nullViolations.nonEmpty || dupKeys > 0) {
      val why = (nullViolations.map { case (c, n) => s"$c has $n NULLs" } ++
        (if (dupKeys > 0) Seq(s"duplicate ${uniqueKey.mkString("(", ",", ")")} keys")
         else Nil)).mkString("; ")
      throw new IllegalStateException(
        s"audit failed, snapshot NOT published at $root: $why " +
          "(staged dir left as an orphan for vacuum)")
    }
    commitManifest(spark, root, next, Seq(snapDir))
  }

  /** Atomic MERGE-ON-READ UPSERT (the MERGE INTO ... WHEN MATCHED
    * UPDATE / WHEN NOT MATCHED INSERT shape): ONE commit lists both an
    * equality-delete dir holding the batch's keys and a data dir
    * holding the batch's rows. Both carry the same sequence, so the
    * delete masks matching rows in every OLDER dir but never the batch
    * itself ([[applyDeletes]] requires `dseq > seq` strictly) — updated
    * keys are replaced, new keys are inserted, and readers see either
    * the whole batch or none of it (the manifest flip is the only
    * publish point). Cost is O(batch): nothing existing is rewritten,
    * the table-sized anti-join of a copy-on-write MERGE is deferred to
    * the next [[compact]]. Single-committer contract. */
  def upsert(df: DataFrame, root: String, keyCols: Seq[String],
      statsCols: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    require(!df.columns.exists(c => c == SeqCol || c == DelSeqCol),
      s"$SeqCol/$DelSeqCol are reserved by the snapshot layer")
    val cur = currentSnapshot(spark, root)
    val prior = readManifest(fs, rootPath, cur)
    val next = cur + 1
    val delDir = DelPrefix + fmt(next)
    val snapDir = SnapPrefix + fmt(next)
    df.select(keyCols.map(col): _*).distinct()
      .write.mode(SaveMode.Overwrite)
      .parquet(new Path(rootPath, delDir).toString)
    val snapPath = new Path(rootPath, snapDir)
    df.write.mode(SaveMode.Overwrite).parquet(snapPath.toString)
    if (statsCols.nonEmpty) writeStats(spark, fs, snapPath, statsCols)
    commitManifest(spark, root, next, prior :+ delDir :+ snapDir)
  }

  /** INCREMENTAL compaction: merge ONLY the data dirs at or below
    * `smallMaxRows` into one fresh dir, leaving larger dirs untouched —
    * the continuous-ingest maintenance pass whose cost is O(small
    * files), not O(table). A 100 TB table fed by thousands of O(delta)
    * appends needs exactly this: full [[compact]] rewrites everything
    * to fix a long tail of small dirs; this rewrites the tail alone.
    * Refuses tables with pending equality deletes (a delete's sequence
    * relationship to merged dirs would be ambiguous — [[compact]]
    * materializes them first). No-op (returns the current id) when
    * fewer than two dirs qualify. Row counts come from parquet footers;
    * the small rows are read once, by the rewrite. */
  def compactSmall(spark: SparkSession, root: String, smallMaxRows: Long,
      rowsPerFile: Long, statsCols: Seq[String] = Nil): Long = {
    require(smallMaxRows >= 1 && rowsPerFile >= 1, "thresholds must be positive")
    val (fs, rootPath) = fsFor(spark, root)
    val cur = currentSnapshot(spark, root)
    val dirs = readManifest(fs, rootPath, cur)
    require(!dirs.exists(isDeleteDir),
      s"compactSmall is undefined under pending equality deletes at $root " +
        "— run compact() to materialize them first")
    val hconf = spark.sparkContext.hadoopConfiguration
    def rowsOf(d: String): Long =
      listParquetFiles(fs, new Path(rootPath, d)).iterator
        .map(TableIO.footerRows(hconf, _)).sum
    val counted = dirs.map(d => d -> rowsOf(d))
    val (small, big) = counted.partition(_._2 <= smallMaxRows)
    if (small.size < 2) return cur
    val n = small.map(_._2).sum
    val files = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt
    val merged = readDirs(spark, rootPath, small.map(_._1), mergeSchema = false)
      .repartition(files)
    val (next, snapDir) = writeDataDir(merged, root, statsCols)
    commitManifest(spark, root, next, big.map(_._1) :+ snapDir)
  }

  /** EXACTLY-ONCE APPEND for at-least-once writers (Structured
    * Streaming's `foreachBatch` re-runs a batch after a failure): the
    * batch key is recorded as a `#batch:<key>` metadata line INSIDE the
    * committed manifest, so the dedup marker and the data commit are
    * one atomic file — there is no window where the data landed but the
    * marker did not (the flaw of a separate marker file). A replay of
    * an already-committed key returns its original snapshot id without
    * writing anything; a replay of a crashed attempt (data dir written,
    * no manifest) re-appends and the orphan dir is vacuum fodder.
    * Lookup scans manifests NEWEST-FIRST (replays in practice hit the
    * most recent batches) and is bounded by retention. Single-committer
    * contract, like [[append]]. */
  def appendIdempotent(df: DataFrame, root: String, batchKey: String,
      statsCols: Seq[String] = Nil): Long = {
    require(batchKey.nonEmpty && !batchKey.contains("\n"),
      s"bad batch key: '$batchKey'")
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    val marker = s"#batch:$batchKey"
    val prior = snapshots(spark, root).reverse
    prior.find(id => readManifestMeta(fs, rootPath, id).contains(marker)) match {
      case Some(id) => id // replayed batch: already committed, no-op
      case None =>
        val priorDirs = prior.headOption
          .map(id => readManifest(fs, rootPath, id)).getOrElse(Nil)
        val (next, snapDir) = writeDataDir(df, root, statsCols)
        commitManifest(spark, root, next, priorDirs :+ snapDir, Seq(marker))
    }
  }

  /** INCREMENTAL SNAPSHOT-TO-SNAPSHOT SYNC (the declarative-pipeline
    * primitive): bring `dstRoot` up to date with `srcRoot` by
    * transforming ONLY the source rows appended since the last sync —
    * O(delta) end to end. The sync CURSOR is not a separate state file:
    * it is the `sync:<src snapshot id>` batch marker the destination's
    * own [[appendIdempotent]] commit carries, so cursor and data are
    * one atomic manifest — a crash between "transform" and "commit"
    * replays the SAME delta under the SAME key and dedups; there is no
    * state to drift. First sync full-loads the current source snapshot;
    * later syncs pull [[appendedBetween]] deltas (refusing rewritten
    * windows, as that method does). Returns the destination snapshot id,
    * or None when already current (the no-op re-run). Destination
    * retention must cover the sync cadence — vacuuming every marked
    * manifest would forget the cursor (the standard cross-layer
    * retention contract). `transform` must be row-wise/append-monotone
    * (filter/project/enrich) for per-delta application to equal the
    * full recompute. */
  def syncAppend(spark: SparkSession, srcRoot: String, dstRoot: String,
      transform: DataFrame => DataFrame): Option[Long] = {
    val srcCur = currentSnapshot(spark, srcRoot)
    val (dfs, dstPath) = fsFor(spark, dstRoot)
    val synced: Seq[Long] = snapshots(spark, dstRoot).flatMap { id =>
      readManifestMeta(dfs, dstPath, id).collect {
        case m if m.startsWith("#batch:sync:") =>
          m.stripPrefix("#batch:sync:").toLong
      }
    }
    val last = synced.sorted.lastOption
    if (last.contains(srcCur)) None
    else {
      require(last.forall(_ < srcCur),
        s"sync cursor ${last.get} is AHEAD of source snapshot $srcCur at " +
          s"$srcRoot — the source was rolled back; reconcile manually")
      val delta = last match {
        case None => readAt(spark, srcRoot, srcCur) // initial full load
        case Some(f) => appendedBetween(spark, srcRoot, f, srcCur)
      }
      Some(appendIdempotent(transform(delta), dstRoot, s"sync:$srcCur"))
    }
  }

  /** OPTIMISTIC-CONCURRENCY APPEND: the multi-writer variant of
    * [[append]]. The delta is written ONCE into a nonce-named immutable
    * dir; the commit loop then re-reads the current manifest, re-points
    * the dir name at the next sequence (one directory rename — metadata
    * only, the parquet is never rewritten), and attempts the
    * [[TableIO.commitFile]] CAS. Losing a race costs one re-read + one
    * rename + one retry; appends by different writers never conflict logically
    * (each lists `winner's dirs + its own dir`), so every attempt that
    * finds the CAS free commits a CONSISTENT successor — the classic
    * Iceberg retry loop. Concurrent appenders are safe among themselves
    * and with any number of readers; maintenance (compact / vacuum /
    * rollback) keeps the single-writer contract. Returns the committed
    * snapshot id. */
  def appendConcurrent(df: DataFrame, root: String,
      statsCols: Seq[String] = Nil, maxAttempts: Int = 64): Long = {
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    fs.mkdirs(rootPath)
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    var id = snapshots(spark, root).lastOption.getOrElse(0L) + 1L
    var dirName = SnapPrefix + fmt(id) + "-" + nonce
    val firstPath = new Path(rootPath, dirName)
    df.write.mode(SaveMode.Overwrite).parquet(firstPath.toString)
    if (statsCols.nonEmpty) writeStats(spark, fs, firstPath, statsCols)
    var attempt = 0
    while (attempt < maxAttempts) {
      val last = snapshots(spark, root).lastOption.getOrElse(0L)
      val prior =
        if (last == 0L) Nil else readManifest(fs, rootPath, last)
      val next = last + 1L
      if (next != id) {
        val renamed = SnapPrefix + fmt(next) + "-" + nonce
        require(fs.rename(new Path(rootPath, dirName), new Path(rootPath, renamed)),
          s"could not re-point append dir $dirName -> $renamed at $root")
        dirName = renamed
        id = next
      }
      val body = (prior :+ dirName).mkString("", "\n", "\n").getBytes("UTF-8")
      if (TableIO.commitFile(fs, new Path(rootPath, ManifestPrefix + fmt(id)), body)) return id
      attempt += 1
    }
    throw new IllegalStateException(
      s"appendConcurrent lost $maxAttempts consecutive commit races at $root")
  }

  /** Read the current snapshot. No retry wrapper needed: the manifest
    * resolves to immutable directories that survive any concurrent
    * commit (until vacuumed past retention). `mergeSchema` unions the
    * footer schemas across the chain's dirs — the schema-evolution
    * read for append chains whose later batches added columns (older
    * rows surface NULL there, parquet's standard evolution contract);
    * off by default because footer merging costs an O(files) driver
    * pass a fixed-schema table never needs. */
  def read(spark: SparkSession, root: String, mergeSchema: Boolean = false): DataFrame =
    readAt(spark, root, currentSnapshot(spark, root), mergeSchema)

  /** Time travel: read snapshot `id` (must still be retained). When the
    * manifest lists delete dirs (see [[deleteKeys]]) the scan is a
    * MERGE-ON-READ: data dirs are unioned with their commit sequence and
    * every equality-delete set masks the rows of STRICTLY OLDER data
    * dirs via one null-safe anti join — a row re-inserted after a
    * delete survives, exactly Iceberg's equality-delete sequencing. */
  def readAt(spark: SparkSession, root: String, id: Long,
      mergeSchema: Boolean = false): DataFrame = {
    val (fs, rootPath) = fsFor(spark, root)
    readSnapshotDirs(spark, rootPath, readManifest(fs, rootPath, id), mergeSchema)
  }

  /** Deletes-aware scan of one manifest's dir list, names resolved
    * against `rootPath` (shared by [[readAt]] and [[branchRead]]). */
  private def readSnapshotDirs(spark: SparkSession, rootPath: Path,
      dirs: Seq[String], mergeSchema: Boolean): DataFrame = {
    val (delDirs, dataDirs) = dirs.partition(isDeleteDir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    if (delDirs.isEmpty)
      readDirs(spark, rootPath, dataDirs, mergeSchema)
    else {
      val data = dataDirs.map { dn =>
        val p = new Path(rootPath, dn)
        val base =
          if (!mergeSchema && !isHivePartitioned(fs, p))
            readFlatDirs(spark, fs, Seq(p))
          else reader.parquet(p.toString)
        base.withColumn(SeqCol, lit(seqOf(dn)))
      }.reduce((a, b) => a.unionByName(b, allowMissingColumns = mergeSchema))
      applyDeletes(spark, rootPath, delDirs, data).drop(SeqCol)
    }
  }

  /** Internal column carrying a data row's commit sequence during a
    * merge-on-read scan (dropped before the result surfaces). */
  private val SeqCol = "__graft_seq"
  private val DelSeqCol = "__graft_dseq"

  /** Mask `data` (which carries [[SeqCol]]) with every equality-delete
    * dir in `delDirs`: one left_anti join per distinct delete-key
    * schema, each null-safe on the keys and restricted to deletes
    * YOUNGER than the data row's dir (`dseq > seq`). Delete sets are
    * deltas — tiny next to the table — so AQE plans these as broadcast
    * anti joins; the data side is never shuffled. */
  private def applyDeletes(spark: SparkSession, rootPath: Path,
      delDirs: Seq[String], data: DataFrame): DataFrame = {
    require(!data.columns.contains(DelSeqCol),
      s"column name $DelSeqCol is reserved by the snapshot layer")
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // delete dirs are flat engine-written key sets: footer reads (no
    // inference job) both for the key-schema grouping and the scans
    val byKeySchema: Seq[(Seq[String], Seq[String])] = delDirs
      .groupBy(dn => dirFooterSchema(spark, fs, new Path(rootPath, dn))
        .fieldNames.sorted.toSeq)
      .toSeq.sortBy(_._1.mkString(","))
    byKeySchema.foldLeft(data) { case (acc, (keyCols, dns)) =>
      val dels = dns.map { dn =>
        readFlatDirs(spark, fs, Seq(new Path(rootPath, dn)))
          .withColumn(DelSeqCol, lit(seqOf(dn)))
      }.reduce(_ unionByName _)
      val d = acc.as("d")
      val x = dels.as("x")
      val cond = keyCols.map(k => col(s"d.`$k`") <=> col(s"x.`$k`"))
        .reduce(_ && _) && col(s"x.`$DelSeqCol`") > col(s"d.`$SeqCol`")
      d.join(x, cond, "left_anti")
    }
  }

  /** MERGE-ON-READ equality DELETE: write ONLY the key rows matching
    * `predicate` (projected to `keyCols`) into a fresh delete dir and
    * commit `previous dirs + delete dir` — an O(matching keys) commit
    * that never rewrites data, the operation that makes a
    * right-to-be-forgotten pass on a 100 TB table affordable. Readers
    * of every snapshot from this one on anti-join the keys out (see
    * [[readAt]]); the physical rows linger, time-travel-readable, until
    * a [[compact]] materializes the deletes and [[vacuum]] reclaims the
    * old generation. Rows appended AFTER the delete are not masked even
    * if they reuse a deleted key (delete sequencing). NULL keys in
    * matching rows delete NULL-keyed rows (null-safe equality) — no
    * silent null drop. Returns the new snapshot id. */
  def deleteWhere(spark: SparkSession, root: String, predicate: Column,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteWhere needs at least one key column")
    deleteKeys(
      read(spark, root).filter(predicate).select(keyCols.map(col): _*).distinct(),
      root)
  }

  /** Lower-level equality delete: `keys`' schema IS the delete-key
    * column set (must be columns of the table); every current-or-older
    * data row null-safe-matching a key row is masked from subsequent
    * reads. See [[deleteWhere]]. */
  def deleteKeys(keys: DataFrame, root: String): Long = {
    val spark = keys.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    require(!keys.columns.exists(c => c == SeqCol || c == DelSeqCol),
      s"$SeqCol/$DelSeqCol are reserved by the snapshot layer")
    val prior = readManifest(fs, rootPath, currentSnapshot(spark, root))
    val next = currentSnapshot(spark, root) + 1
    val delDir = DelPrefix + fmt(next)
    keys.write.mode(SaveMode.Overwrite)
      .parquet(new Path(rootPath, delDir).toString)
    commitManifest(spark, root, next, prior :+ delDir)
  }

  /** SCD TYPE-2 HISTORY derived from the snapshot chain: for a keyed
    * table, the validity interval of every (key, value) version across
    * the given snapshot ids — `valid_from`/`valid_to` as snapshot ids,
    * gaps (key absent from intermediate snapshots) split intervals, and
    * re-appearing identical values start a NEW interval (absence is a
    * real end, not a pause). One union of the requested snapshot reads
    * + one key-partitioned window pass (the islands technique: island
    * id = snap position − row_number within (key, value)); no
    * cross-snapshot join. This is the "turn time travel into a history
    * table" derivation a warehouse migration wants — the snapshot layer
    * already stores the versions, this materializes them as SCD2. */
  def scd2FromSnapshots(spark: SparkSession, root: String,
      keyCols: Seq[String], ids: Seq[Long]): DataFrame = {
    require(keyCols.nonEmpty && ids.nonEmpty, "need key columns + snapshot ids")
    require(ids == ids.sorted && ids.distinct == ids, "ids must be ascending")
    import org.apache.spark.sql.expressions.Window
    val posOf = ids.zipWithIndex.toMap
    val states = ids.map { id =>
      val df = readAt(spark, root, id)
      val valueCols = df.columns.filterNot(keyCols.contains).toSeq
      df.select(keyCols.map(col) :+
        org.apache.spark.sql.functions.struct(valueCols.map(col): _*).as("__v") :+
        lit(id).as("snap_id") :+ lit(posOf(id).toLong).as("__pos"): _*)
    }.reduce(_ unionByName _)
    val byKey = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__pos"))
    // islands: within a key, consecutive positions with the SAME value
    // share (pos - rank-within-(key,value-run)). Using a value-change
    // flag + running sum keeps it one window pass and handles gaps:
    // a gap breaks position-consecutiveness, so the island id (pos -
    // row_number within the same key AND same change-group) changes.
    val flagged = states
      .withColumn("__chg",
        when(org.apache.spark.sql.functions.lag(col("__v"), 1).over(byKey).isNull ||
          !(org.apache.spark.sql.functions.lag(col("__v"), 1).over(byKey) <=> col("__v")) ||
          org.apache.spark.sql.functions.lag(col("__pos"), 1).over(byKey) =!=
            col("__pos") - 1, 1L).otherwise(0L))
      .withColumn("__grp",
        org.apache.spark.sql.functions.sum(col("__chg")).over(
          byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(keyCols.map(col) :+ col("__grp"): _*)
      .agg(org.apache.spark.sql.functions.first(col("__v")).as("__v"),
        org.apache.spark.sql.functions.min(col("snap_id")).as("valid_from"),
        org.apache.spark.sql.functions.max(col("snap_id")).as("valid_to"))
      .withColumn("is_current", col("valid_to") === lit(ids.last))
      .select(keyCols.map(col) :+ col("__v") :+ col("valid_from") :+
        col("valid_to") :+ col("is_current"): _*)
  }

  /** Commit wall-clock timestamps: (snapshot id, manifest modification
    * time millis), ascending by id. The mtime is stamped by the
    * filesystem at the atomic publish — no clock data inside the
    * manifest, so determinism of content-addressed tests is untouched. */
  def commitTimes(spark: SparkSession, root: String): Seq[(Long, Long)] = {
    val (fs, rootPath) = fsFor(spark, root)
    snapshots(spark, root).map(id =>
      id -> fs.getFileStatus(new Path(rootPath, ManifestPrefix + fmt(id)))
        .getModificationTime)
  }

  /** Time travel BY TIMESTAMP: read the newest snapshot published at or
    * before `tsMillis` (the "what did the table say when the report
    * ran" read). Throws if the table has no snapshot that old —
    * distinguishable from an empty table. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long,
      mergeSchema: Boolean = false): DataFrame = {
    val at = commitTimes(spark, root).filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no snapshot at or before $tsMillis at $root (retention may have " +
        "reclaimed it)")
    readAt(spark, root, at.maxBy(t => (t._2, t._1))._1, mergeSchema)
  }

  /** O(delta) CDC over an append-only chain: the rows added between
    * snapshot `fromId` (exclusive) and `toId` (inclusive), read from
    * ONLY the data dirs that joined the manifest in between — no diff
    * join, no scan of the pre-existing table. Requires every dir of
    * `fromId` to still be listed by `toId` (i.e. no replace/compact in
    * the window — those rewrite history, use [[diff]]). */
  def appendedBetween(spark: SparkSession, root: String, fromId: Long,
      toId: Long): DataFrame = {
    val (fs, rootPath) = fsFor(spark, root)
    val fromDirs = readManifest(fs, rootPath, fromId)
    val toDirs = readManifest(fs, rootPath, toId)
    require(fromDirs.forall(toDirs.contains),
      s"snapshots $fromId..$toId are not an append-only chain at $root " +
        "(a replace/compact rewrote the file list) — use diff() instead")
    val delta = toDirs.filterNot(fromDirs.contains)
    require(!delta.exists(isDeleteDir),
      s"snapshots $fromId..$toId include an equality delete at $root — " +
        "the window is not append-only, use diff() instead")
    if (delta.isEmpty) readAt(spark, root, toId).limit(0)
    else readDirs(spark, rootPath, delta, mergeSchema = false)
  }

  /** General row-level CDC between two retained snapshots: one
    * full-outer join on `keyCols` comparing every other column
    * null-safely. Returns the key columns plus `change_type` in
    * {'insert','delete','update'} — unchanged rows are dropped. Works
    * across arbitrary rewrites (replace, compact, erasure); for
    * append-only windows prefer [[appendedBetween]], which reads only
    * the delta. Scale: the join shuffles both snapshot states on the
    * key — the honest lower bound for diffing two arbitrary states. */
  def diff(spark: SparkSession, root: String, fromId: Long, toId: Long,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diff needs at least one key column")
    val from = readAt(spark, root, fromId)
    val to = readAt(spark, root, toId)
    val valueCols = from.columns.filterNot(keyCols.contains).toSeq
    require(to.columns.sorted.sameElements(from.columns.sorted),
      s"diff requires identical schemas between snapshots $fromId and $toId")
    val f = from.select(
      keyCols.map(col) :+
        org.apache.spark.sql.functions.struct(valueCols.map(col): _*).as("__from"): _*)
    val t = to.select(
      keyCols.map(col) :+
        org.apache.spark.sql.functions.struct(valueCols.map(col): _*).as("__to"): _*)
    f.join(t, keyCols, "full_outer")
      .withColumn("change_type",
        org.apache.spark.sql.functions.when(col("__from").isNull, lit("insert"))
          .when(col("__to").isNull, lit("delete"))
          .when(!(col("__from") <=> col("__to")), lit("update")))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(col) :+ col("change_type"): _*)
  }

  /** Schema drift between two retained snapshots — the audit a lake
    * runs before pointing consumers at a new version: every column that
    * was `added`, `removed`, or `retyped` between `fromId` and `toId`,
    * as (column_name, change) rows. Pure METADATA: both sides come from
    * parquet footer schemas (merged across each snapshot's dirs so an
    * append-chain evolution is visible), no data is read. Unchanged
    * columns are omitted — an empty result IS the no-drift signal. */
  def schemaDrift(spark: SparkSession, root: String, fromId: Long,
      toId: Long): DataFrame = {
    def types(id: Long): Map[String, String] =
      readAt(spark, root, id, mergeSchema = true).schema
        .map(f => f.name -> f.dataType.simpleString).toMap
    val (from, to) = (types(fromId), types(toId))
    val rows =
      (to.keySet -- from.keySet).toSeq.map(c => (c, "added")) ++
        (from.keySet -- to.keySet).toSeq.map(c => (c, "removed")) ++
        (from.keySet & to.keySet).toSeq.filter(c => from(c) != to(c))
          .map(c => (c, "retyped"))
    import spark.implicits._
    rows.sorted.toDF("column_name", "change")
  }

  /** Harvest per-file min/max for `statsCols` from the parquet FOOTERS
    * of the files just written under `snapPath` (row-group column-chunk
    * statistics — no second pass over the data) into
    * `<snapPath>/_stats.tsv`: `file \t column \t min \t max` with
    * values as doubles. Numeric columns only (int/long/float/double/
    * date days); a column absent from a file's footer stats (all-null
    * chunk, unsupported type) simply emits no line — [[prunedFiles]]
    * keeps such files, so skipping stats is always safe. */
  private def writeStats(spark: SparkSession, fs: FileSystem, snapPath: Path,
      statsCols: Seq[String]): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val wanted = statsCols.toSet
    val lines = new scala.collection.mutable.ArrayBuffer[String]
    listParquetFiles(fs, snapPath)
      .foreach { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val perCol = new scala.collection.mutable.HashMap[String, (Double, Double)]
          r.getFooter.getBlocks.asScala.foreach { block =>
            block.getColumns.asScala.foreach { cc =>
              val name = cc.getPath.toDotString
              if (wanted.contains(name)) {
                val stats = cc.getStatistics
                if (stats != null && !stats.isEmpty && stats.hasNonNullValue) {
                  (stats.genericGetMin, stats.genericGetMax) match {
                    case (mn: Number, mx: Number) =>
                      val (lo, hi) = (mn.doubleValue(), mx.doubleValue())
                      val cur = perCol.get(name)
                      perCol(name) = cur match {
                        case Some((clo, chi)) => (math.min(clo, lo), math.max(chi, hi))
                        case None => (lo, hi)
                      }
                    case _ => () // non-numeric (e.g. Binary) — no stats line
                  }
                }
              }
            }
          }
          perCol.toSeq.sortBy(_._1).foreach { case (name, (lo, hi)) =>
            lines += s"${st.getPath.getName}\t$name\t$lo\t$hi"
          }
        } finally r.close()
      }
    val out = fs.create(new Path(snapPath, StatsFile), true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Manifest-level data skipping for the current snapshot: the parquet
    * file paths whose recorded `[min,max]` of `column` intersects
    * `[lo,hi]`, plus every file with no recorded stats (absent sidecar,
    * all-null chunk, unsupported type) — pruning returns a SUPERSET of
    * the files that can match, never fewer. Returns (selected paths,
    * total file count). Driver-side cost is O(files) tiny sidecar
    * reads — the same class as listing; the point is the EXECUTOR cost
    * avoided: on a range-clustered table a narrow predicate plans a
    * scan over a handful of files instead of the whole table. */
  def prunedFiles(spark: SparkSession, root: String, column: String,
      lo: Double, hi: Double): (Seq[String], Int) = {
    val byDir = prunedFilesByDir(spark, root, column, lo, hi)
    (byDir._1.flatMap(_._2), byDir._2)
  }

  /** [[prunedFiles]] keyed by data dir (for the merge-on-read pruned
    * scan, which needs each file's commit sequence): (Seq of
    * (dirName, selected file paths), total data file count). */
  private def prunedFilesByDir(spark: SparkSession, root: String,
      column: String, lo: Double, hi: Double): (Seq[(String, Seq[String])], Int) = {
    val (fs, rootPath) = fsFor(spark, root)
    val dirs = readManifest(fs, rootPath, currentSnapshot(spark, root))
      .filterNot(isDeleteDir)
    dirs.foreach(d => require(!isHivePartitioned(fs, new Path(rootPath, d)),
      s"stats pruning reads raw file paths, which would drop $d's hive " +
        "partition columns — compact() the table to a flat layout first"))
    var total = 0
    val selected = dirs.map { d =>
      val dirPath = new Path(rootPath, d)
      val statsPath = new Path(dirPath, StatsFile)
      val ranges: Map[String, (Double, Double)] =
        if (!fs.exists(statsPath)) Map.empty
        else TableIO.readText(fs, statsPath).split("\n").iterator
          .map(_.trim).filter(_.nonEmpty)
          .map(_.split("\t"))
          .filter(p => p.length == 4 && p(1) == column)
          .map(p => p(0) -> (p(2).toDouble, p(3).toDouble))
          .toMap
      d -> listParquetFiles(fs, dirPath)
        .flatMap { st =>
          total += 1
          ranges.get(st.getPath.getName) match {
            case Some((mn, mx)) if mx < lo || mn > hi => None // provably disjoint
            case _ => Some(st.getPath.toString)
          }
        }
    }
    (selected, total)
  }

  /** Scan the current snapshot reading ONLY the files that can contain
    * `column` values in `[lo,hi]` (see [[prunedFiles]]), with the
    * predicate re-applied exactly — identical results to a full-scan
    * filter by construction, at the cost of just the intersecting
    * files. */
  def readPruned(spark: SparkSession, root: String, column: String,
      lo: Double, hi: Double): DataFrame = {
    val (byDir, _) = prunedFilesByDir(spark, root, column, lo, hi)
    val selected = byDir.filter(_._2.nonEmpty)
    val pred: Column = col(column) >= lit(lo) && col(column) <= lit(hi)
    if (selected.isEmpty) read(spark, root).filter(pred).limit(0)
    else {
      val (fs, rootPath) = fsFor(spark, root)
      val delDirs = readManifest(fs, rootPath, currentSnapshot(spark, root))
        .filter(isDeleteDir)
      if (delDirs.isEmpty)
        graft.sources.TableIO.readFilesFooter(spark, selected.flatMap(_._2)).filter(pred)
      else {
        // merge-on-read pruned scan: the per-dir grouping keeps each
        // file's commit sequence so pending deletes mask exactly the
        // rows they would on the full scan
        val data = selected.map { case (dn, files) =>
          graft.sources.TableIO.readFilesFooter(spark, files)
            .withColumn(SeqCol, lit(seqOf(dn)))
        }.reduce(_ unionByName _)
        applyDeletes(spark, rootPath, delDirs, data).drop(SeqCol).filter(pred)
      }
    }
  }

  /** Maintenance rewrite as a snapshot commit: read the CURRENT
    * snapshot, rewrite it into ⌈rows/rowsPerFile⌉ round-robin files (the
    * [[TableIO.compact]] layout policy), commit as the NEXT snapshot
    * (single-dir manifest — an append chain's many small delta dirs
    * collapse back into one). Readers of the current snapshot are
    * untouched throughout; the old layout stays time-travel-readable
    * until vacuum. Returns the new snapshot id. */
  def compact(spark: SparkSession, root: String, rowsPerFile: Long,
      statsCols: Seq[String] = Nil): Long = {
    require(rowsPerFile >= 1, "rowsPerFile must be positive")
    val (fs, rootPath) = fsFor(spark, root)
    val cur = currentSnapshot(spark, root)
    val dirs = readManifest(fs, rootPath, cur)
    val (delDirs, dataDirs) = dirs.partition(isDeleteDir)
    // row count from parquet footers (same discipline as
    // [[TableIO.compact]]): the data itself is read exactly once, by
    // the rewrite — O(files) tiny footer range-reads are the cheap side
    // of the trade for a many-small-files input at any scale. With
    // equality deletes pending, footers overcount the masked rows —
    // compaction MATERIALIZES the deletes (the merge-on-read →
    // copy-on-write transition), so the live count needs the MOR scan.
    val hconf = spark.sparkContext.hadoopConfiguration
    if (delDirs.nonEmpty) {
      // The merge-on-read scan runs ONCE: the deletes-applied relation is
      // persisted (DISK_ONLY — cluster-safe, rebuilds from lineage on
      // block loss), the live count reads the persisted blocks, and the
      // rewrite re-reads them. Previously this path paid TWO full MOR
      // scans — one for the count, one for the write (guide §1.2 step 1:
      // don't run a pass twice when one materialization serves both).
      val live = readAt(spark, root, cur)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val n = live.count()
        val files = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt
        commit(live.repartition(files), root, statsCols)
      } finally live.unpersist(blocking = false)
    } else {
      val n = dataDirs.iterator.flatMap { d =>
        listParquetFiles(fs, new Path(rootPath, d)).iterator
      }.map(TableIO.footerRows(hconf, _)).sum
      val files = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt
      commit(readAt(spark, root, cur).repartition(files), root, statsCols)
    }
  }

  /** Z-order maintenance rewrite as a snapshot commit (the
    * [[TableIO.replaceZOrdered]] layout under snapshot isolation). */
  def zorder(spark: SparkSession, root: String, clusterCols: Seq[String],
      numFiles: Int, bits: Int = 16, statsCols: Seq[String] = Nil,
      normalize: Boolean = false): Long = {
    val cur = read(spark, root)
    // `normalize` range-scales every cluster column to the full
    // bits-wide range (v * 2^bits / (max+1); non-negative keys, one
    // extent aggregate at plan-build time — the ivfTopK discipline).
    // Raw low-bit interleaving silently degrades to a single-column
    // sort when dimensions have unequal bit widths: a 16-bit key's high
    // bits dominate every range boundary while an 11-bit key's top bits
    // are constant zero, so files stripe on the wide column alone and
    // min/max pruning on the narrow one selects everything. Range
    // normalization is what Delta/Iceberg OPTIMIZE ZORDER does for the
    // same reason.
    val zin: Seq[Column] =
      if (!normalize) clusterCols.map(cur(_))
      else {
        import org.apache.spark.sql.functions.max
        val aggs = clusterCols.map(c => max(col(c).cast("long")).as(c))
        val maxes = cur.agg(aggs.head, aggs.tail: _*).head()
        clusterCols.zipWithIndex.map { case (c, i) =>
          val mx = if (maxes.isNullAt(i)) 0L else math.max(maxes.getLong(i), 0L)
          (cur(c).cast("long") * lit(1L << bits)) / lit(mx + 1L)
        }
      }
    val z = TableIO.mortonCode(zin, bits)
    val zc = Iterator.from(0).map(i => s"__zorder$i")
      .filterNot(cur.columns.contains).next()
    commit(
      cur.withColumn(zc, z)
        .repartitionByRange(numFiles, org.apache.spark.sql.functions.col(zc))
        .sortWithinPartitions(zc)
        .drop(zc),
      root, statsCols)
  }

  /** O(1) ROLLBACK: commit a NEW snapshot whose manifest is a copy of a
    * retained older snapshot's dir list — no data read, no data
    * written, one pointer flip regardless of table size (the file-list
    * payoff: the bad version is not erased, it stays time-travelable
    * for the incident audit until vacuum, and the dirs the rollback
    * re-references survive retention through the same name-based
    * reference counting appends rely on). Returns the new snapshot id. */
  def rollback(spark: SparkSession, root: String, toId: Long): Long = {
    val (fs, rootPath) = fsFor(spark, root)
    val dirs = readManifest(fs, rootPath, toId) // throws if reclaimed
    val next = currentSnapshot(spark, root) + 1
    commitManifest(spark, root, next, dirs)
  }

  private val RefPrefix = "_ref-"

  /** Create or move a named TAG pointing at snapshot `id` (must be
    * committed). A tagged snapshot is pinned: [[vacuum]] retains it
    * beyond the `keepLast` window until [[dropTag]] releases it — the
    * Iceberg tag/retention contract (release audits, reproducibility
    * pins, rollback anchors). The ref is written to a dot-temp and
    * renamed into place; moving an existing tag deletes the old ref first
    * (single-committer contract, as for commits). */
  def tag(spark: SparkSession, root: String, name: String, id: Long): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"tag names are [A-Za-z0-9_]+: '$name'")
    require(snapshots(spark, root).contains(id),
      s"cannot tag uncommitted/reclaimed snapshot $id at $root")
    val (fs, rootPath) = fsFor(spark, root)
    val tmp = new Path(rootPath, s".ref-$name.tmp")
    val out = fs.create(tmp, true)
    try out.write((fmt(id) + "\n").getBytes("UTF-8")) finally out.close()
    fs.delete(new Path(rootPath, RefPrefix + name), false)
    require(fs.rename(tmp, new Path(rootPath, RefPrefix + name)),
      s"tag flip failed for '$name' at $root")
  }

  /** All tags at `root` as name -> snapshot id. One directory listing. */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val (fs, rootPath) = fsFor(spark, root)
    if (!fs.exists(rootPath)) Map.empty
    else fs.listStatus(rootPath).iterator
      .filter(st => !st.isDirectory && st.getPath.getName.startsWith(RefPrefix))
      .map(st => st.getPath.getName.stripPrefix(RefPrefix) ->
        TableIO.readText(fs, st.getPath).trim.toLong)
      .toMap
  }

  /** Read the snapshot a tag pins (time travel by name). */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val id = tags(spark, root).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $root"))
    readAt(spark, root, id)
  }

  /** Release a tag; the pinned snapshot becomes reclaimable by the next
    * [[vacuum]] (unless still inside the keepLast window). */
  def dropTag(spark: SparkSession, root: String, name: String): Boolean = {
    val (fs, rootPath) = fsFor(spark, root)
    fs.delete(new Path(rootPath, RefPrefix + name), false)
  }

  /** Retention pass: keep the newest `keepLast` committed snapshots'
    * manifests PLUS every [[tag]]-pinned snapshot, delete the older
    * manifests, then every data dir referenced by NO surviving manifest
    * (append chains share dirs, so liveness is reference-counted by
    * name across the kept set), plus stale dot-temps from crashed
    * commits. Returns the number of snapshots removed. Never deletes
    * the current snapshot (`keepLast >= 1` enforced). */
  // ----- branches (git-like mutable refs over the shared data-dir pool) -----

  private val BranchPrefix = "_branch-"
  private val BranchDirRe = ("^" + SnapPrefix + "\\d{20}-br[0-9a-f]{8}$").r

  private def branchRoot(root: String, name: String): String = {
    require(name.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
      s"invalid branch name: $name")
    s"$root/$BranchPrefix$name"
  }

  /** CREATE a branch at snapshot `fromId` (default: current). A branch
    * is its own manifest chain under `<root>/_branch-<name>/`, seeded
    * with the fork snapshot's dir list and NUMBERED FROM the fork id —
    * zero data copied, and the branch's commit ids stay comparable to
    * the dir sequences it inherits. Root-level reads never see branch
    * manifests (they live one level down), so main and branch are
    * isolated by construction. Returns the branch's initial id. */
  def branchCreate(spark: SparkSession, root: String, name: String,
      fromId: Option[Long] = None): Long = {
    val (fs, rootPath) = fsFor(spark, root)
    val id = fromId.getOrElse(currentSnapshot(spark, root))
    val dirs = readManifest(fs, rootPath, id)
    val bRoot = branchRoot(root, name)
    require(snapshots(spark, bRoot).isEmpty,
      s"branch $name already exists at $root")
    fs.mkdirs(new Path(bRoot))
    commitManifest(spark, bRoot, id, dirs, Seq(s"#fork:$id"))
  }

  /** Names of live branches at `root`. */
  def branches(spark: SparkSession, root: String): Seq[String] = {
    val (fs, rootPath) = fsFor(spark, root)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(BranchPrefix))
      .map(_.getPath.getName.stripPrefix(BranchPrefix)).toSeq.sorted
  }

  /** Current snapshot id of a branch. */
  def branchCurrent(spark: SparkSession, root: String, name: String): Long =
    currentSnapshot(spark, branchRoot(root, name))

  /** APPEND on a branch: the delta dir is written into the MAIN root's
    * shared dir pool under a branch-marked nonce name (`snap-<id>-br…`,
    * never colliding with a main `snap-<id>` commit), and only the
    * branch manifest advances — main's current snapshot is untouched.
    * O(delta) like [[append]]. */
  def branchAppend(df: DataFrame, root: String, name: String,
      statsCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    val bRoot = branchRoot(root, name)
    val bPath = new Path(bRoot)
    val cur = currentSnapshot(spark, bRoot)
    val prior = readManifest(fs, bPath, cur)
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val next = cur + 1
    val dirName = SnapPrefix + fmt(next) + "-br" + nonce
    val dirPath = new Path(rootPath, dirName)
    df.write.mode(SaveMode.Overwrite).parquet(dirPath.toString)
    if (statsCols.nonEmpty) writeStats(spark, fs, dirPath, statsCols)
    commitManifest(spark, bRoot, next, prior :+ dirName)
  }

  /** Read a branch's current state (deletes-aware, data resolved
    * against the main root's dir pool). */
  def branchRead(spark: SparkSession, root: String, name: String,
      mergeSchema: Boolean = false): DataFrame = {
    val (_, rootPath) = fsFor(spark, root)
    val bRoot = branchRoot(root, name)
    val bPath = new Path(bRoot)
    val (bfs, _) = fsFor(spark, bRoot)
    val dirs = readManifest(bfs, bPath, currentSnapshot(spark, bRoot))
    readSnapshotDirs(spark, rootPath, dirs, mergeSchema)
  }

  /** MERGE a branch's appends back into main — the fast-forward case:
    * every dir the branch INHERITED must still be listed by main's
    * current manifest (main may have appended meanwhile; a rewrite —
    * compact/replace — diverges the lineage and needs a keyed
    * [[upsert]] instead, so it REQUIREs out). Branch-only dirs are
    * re-pointed to the merge commit's sequence (one directory rename
    * each — metadata only; they are branch-exclusive until now, so the
    * rename races nothing), giving them the Iceberg commit-time
    * sequencing a later equality delete on main compares against. The
    * merge CONSUMES the branch (ref dir dropped). Returns the new main
    * snapshot id. */
  def mergeBranch(spark: SparkSession, root: String, name: String): Long = {
    val (fs, rootPath) = fsFor(spark, root)
    val bRoot = branchRoot(root, name)
    val bPath = new Path(bRoot)
    val bDirs = readManifest(fs, bPath, currentSnapshot(spark, bRoot))
    val mainCur = currentSnapshot(spark, root)
    val mainDirs = readManifest(fs, rootPath, mainCur)
    val (branchOnly, inherited) =
      bDirs.partition(d => BranchDirRe.matches(baseName(d)))
    require(inherited.toSet.subsetOf(mainDirs.toSet),
      s"branch $name has diverged from a rewritten main at $root: " +
        "fast-forward merge needs every inherited dir still live; use a " +
        "keyed upsert for diverged lineages")
    val next = mainCur + 1
    // The renames happen BEFORE the manifest commit, so a
    // failure anywhere in this window would leave the branch manifest
    // pointing at renamed-away dirs — unreadable, with the dirs orphaned
    // until vacuum. Track completed renames and ROLL THEM BACK on any
    // failure (a later rename error, or commitManifest's taken-version
    // require): the branch stays readable and retryable.
    val done = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val id = try {
      val renamed = branchOnly.zipWithIndex.map { case (dn, i) =>
        val nn = SnapPrefix + fmt(next) + f"-m$i%03d"
        require(fs.rename(new Path(rootPath, dn), new Path(rootPath, nn)),
          s"could not re-point branch dir $dn -> $nn at $root")
        done += ((dn, nn))
        nn
      }
      commitManifest(spark, root, next, mainDirs ++ renamed)
    } catch {
      case e: Throwable =>
        done.reverseIterator.foreach { case (dn, nn) =>
          if (!fs.rename(new Path(rootPath, nn), new Path(rootPath, dn)))
            System.err.println(s"[snapshot] mergeBranch rollback failed: " +
              s"$nn -> $dn at $root; branch $name references $dn until " +
              "restored manually")
        }
        throw e
    }
    fs.delete(bPath, true)
    id
  }

  /** DROP a branch without merging: the ref dir disappears, the
    * branch's data dirs become unreferenced, and the next [[vacuum]]
    * reclaims them — the reject path of a fork/validate/merge
    * experiment workflow. */
  def branchDrop(spark: SparkSession, root: String, name: String): Unit = {
    val (fs, _) = fsFor(spark, root)
    val bPath = new Path(branchRoot(root, name))
    require(fs.exists(bPath), s"no branch $name at $root")
    fs.delete(bPath, true)
  }

  /** SHALLOW CLONE: create a new table at `dstRoot` whose first
    * manifest lists the SOURCE's current data dirs by absolute path —
    * zero bytes of data copied at any table size (Delta's shallow
    * clone). The clone's manifest id EQUALS the source's current id, so
    * every inherited dir's commit sequence stays strictly below any
    * future clone-local commit — equality deletes on the clone sequence
    * correctly against inherited data. Writes to the clone (append /
    * deleteWhere / compact) land under `dstRoot` and never touch the
    * source; the source must not be vacuumed below the cloned snapshot
    * while the clone lives (the standard shallow-clone retention
    * caveat, same as Delta's). Returns the clone's snapshot id. */
  def cloneTo(spark: SparkSession, srcRoot: String, dstRoot: String): Long = {
    val (sfs, sPath) = fsFor(spark, srcRoot)
    val cur = currentSnapshot(spark, srcRoot)
    val abs = readManifest(sfs, sPath, cur)
      .map(d => sfs.makeQualified(new Path(sPath, d)).toUri.getPath)
    require(snapshots(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already has commits")
    val (dfs, dPath) = fsFor(spark, dstRoot)
    dfs.mkdirs(dPath)
    commitManifest(spark, dstRoot, cur, abs)
  }

  def vacuum(spark: SparkSession, root: String, keepLast: Int = 2): Int = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val (fs, rootPath) = fsFor(spark, root)
    val ids = snapshots(spark, root)
    require(ids.nonEmpty, s"no committed snapshot at $root")
    val pinned = tags(spark, root).values.toSet
    val keep = ids.takeRight(keepLast).toSet ++ ids.filter(pinned.contains)
    // live branches pin every dir any of their manifests reference —
    // branch data dirs live in the root pool and must survive a main
    // retention pass (a merged/dropped branch releases them)
    val branchKept: Set[String] = branches(spark, root).iterator.flatMap { b =>
      val bRoot = branchRoot(root, b)
      val bPath = new Path(bRoot)
      snapshots(spark, bRoot).flatMap(id => readManifest(fs, bPath, id))
    }.toSet
    val keptDirs: Set[String] =
      keep.flatMap(id => readManifest(fs, rootPath, id)) ++ branchKept
    var removed = 0
    // manifests first: once the old manifests are gone, "referenced by a
    // surviving manifest" is exactly `keptDirs`, and the dir sweep below
    // reclaims everything else — including dirs shared by several
    // dropped snapshots (deleted once) and orphans from crashed commits
    ids.filterNot(keep).foreach { id =>
      fs.delete(new Path(rootPath, ManifestPrefix + fmt(id)), false)
      removed += 1
    }
    fs.listStatus(rootPath).foreach { st =>
      val name = st.getPath.getName
      val deadSnap = st.isDirectory &&
        (name.startsWith(SnapPrefix) || name.startsWith(DelPrefix)) &&
        !keptDirs.contains(name)
      val staleTmp = !st.isDirectory && name.endsWith(".tmp") &&
        (name.startsWith("." + ManifestPrefix) || name.startsWith(".ref-"))
      if (deadSnap || staleTmp) fs.delete(st.getPath, true)
    }
    removed
  }
}
