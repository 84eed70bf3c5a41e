package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interop front door for the PUBLIC Apache Hudi COPY-ON-WRITE table
  * layout (the `.hoodie/` timeline + base-file naming convention,
  * documented in the open Hudi spec): resolve the table's live FILE
  * SLICES from the completed timeline and read them — no Hudi library
  * needed. The second leg of the lake-migration story next to
  * [[DeltaCompat]]: a CoW Hudi table is plain parquet whose visibility
  * rules live in file NAMES (`<fileId>_<writeToken>_<instantTime>
  * .parquet`) plus the timeline (`.hoodie/<instant>.commit` appears
  * only when the commit COMPLETED; `.commit.inflight` /
  * `.commit.requested` mark in-flight writers whose data files must
  * stay invisible).
  *
  * Snapshot semantics replayed here:
  *  - only instants with a completed `<ts>.commit` are visible — a
  *    crashed/racing writer leaves data files carrying an instant that
  *    never completed, and they are filtered out by instant, exactly
  *    how Hudi readers get atomicity over eventually-consistent
  *    storage;
  *  - an UPDATE rewrites a file group: same `fileId`, new base file at
  *    the new instant. Per (partition, fileId) the LATEST completed
  *    instant wins — the "latest file slice" rule.
  *
  * Scope (checked loudly): COPY_ON_WRITE only. A MERGE_ON_READ table
  * (`.deltacommit` instants / `.log.*` files) needs the Hudi log-block
  * format merged at read time; `replacecommit` (clustering /
  * insert_overwrite) re-points file groups through replace metadata
  * this reader does not parse. Both refuse rather than silently
  * returning stale slices. File listing walks the table tree
  * driver-side — the layout every Hudi reader falls back to without
  * the optional metadata table; at very large file counts the listing
  * itself should come from `.hoodie/metadata/` (out of scope, named
  * loudly in the error path should it matter: listing cost, not
  * correctness).
  */
object HudiCompat {

  private val CompletedCommit = """^(\d+)\.commit$""".r
  private val CompletedDeltaCommit = """^(\d+)\.deltacommit$""".r
  private val BaseFile = """^([^_]+)_([^_]+)_(\d+)\.parquet$""".r
  private val LogFile = """^\.([^_]+)_(\d+)\.log\.(\d+)(?:_(.+))?$""".r

  /** Completed instants on the timeline (`.commit` for CoW writes and
    * compactions, `.deltacommit` for MOR log appends), ascending. */
  def completedInstants(spark: SparkSession, dir: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new Path(s"$dir/.hoodie")
    require(fs.exists(meta), s"$dir has no .hoodie — not a Hudi table")
    val names = fs.listStatus(meta).map(_.getPath.getName)
    require(!names.exists(_.endsWith(".replacecommit")),
      s"$dir carries .replacecommit instants — clustering/insert_overwrite " +
        "re-points file groups through replace metadata this reader does " +
        "not parse; reading by file slice alone would return stale groups")
    names.collect {
      case CompletedCommit(ts) => ts
      case CompletedDeltaCommit(ts) => ts
    }.toSeq.sorted
  }

  private def hasDeltaCommits(spark: SparkSession, dir: String): Boolean = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new Path(s"$dir/.hoodie")
    fs.exists(meta) && fs.listStatus(meta).exists(
      _.getPath.getName.matches("""\d+\.deltacommit(\..*)?"""))
  }

  /** The live base-file paths: per (partition, fileId) the latest
    * COMPLETED instant's base file. `asOf` = TIME TRAVEL: only instants
    * at or before it participate, so the table reads as it stood at
    * that commit (slices rewritten later resolve to their older base
    * file while it still exists — i.e. until cleaning reclaims it, the
    * standard Hudi retention caveat). */
  def liveFiles(spark: SparkSession, dir: String,
      asOf: Option[String] = None): Seq[String] = {
    require(!hasDeltaCommits(spark, dir),
      s"$dir carries .deltacommit instants — a MERGE_ON_READ table whose " +
        "file slices include log blocks; the base-file-only API would " +
        "return stale rows — read through readHoodieTable (MOR merge)")
    val completed = completedInstants(spark, dir)
      .filter(ts => asOf.forall(ts <= _)).toSet
    require(completed.nonEmpty, s"no completed commits at $dir" +
      asOf.map(v => s" at or before instant $v").getOrElse(""))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(dir)).toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) { if (name != ".hoodie") walk(st.getPath) }
      else name match {
        case BaseFile(fileId, _, instant) =>
          val full = st.getPath.toUri.getPath
          // partition = the file's PARENT dir relative to the table
          // root ("" for a non-partitioned table, where base files sit
          // at the root). Derived structurally — string-stripping the
          // file name off `full` would leave the name itself as the
          // partition at root, giving every file a unique slice key
          // and silently disabling latest-file-slice dedup.
          val partition = st.getPath.getParent.toUri.getPath
            .stripPrefix(root).stripPrefix("/")
          if (completed.contains(instant)) out += ((partition, fileId, instant, full))
        case _ =>
          require(!name.contains(".log."),
            s"$dir holds Hudi log files ($name) — a MERGE_ON_READ table " +
              "whose log blocks this compat reader cannot merge")
        // other marker/metadata sidecars and foreign files: not base files
      }
    }
    walk(new Path(dir))
    require(out.nonEmpty, s"Hudi table at $dir has no visible base files")
    out.groupBy(t => (t._1, t._2)).values
      .map(_.maxBy(_._3)._4).toSeq.sorted
  }

  /** Read the table's current snapshot, or (`asOf`) a past one — the
    * CoW fast path when the timeline holds only full commits, the MOR
    * merge when `.deltacommit` instants are present. */
  def readHoodieTable(spark: SparkSession, dir: String,
      asOf: Option[String] = None): DataFrame =
    if (hasDeltaCommits(spark, dir)) readMorSnapshot(spark, dir, asOf)
    else TableIO.readFilesFooter(spark, liveFiles(spark, dir, asOf))

  /** MERGE-ON-READ snapshot: per file group, the latest completed base
    * file merged with its attached log blocks — the newest version of
    * each record key wins (later instant, then later block, then later
    * record within a block). Log-ONLY file groups (inserted into logs
    * before any compaction) read fine with no base file. Per the
    * public format, a log file attaches to the slice whose base
    * instant its NAME carries, so post-compaction stale logs drop out;
    * block VISIBILITY is per the block's own deltacommit instant.
    *
    * Scale shape: log files are data — they parse in executors, one
    * task per log file; the merge is one key-partitioned window over
    * base ∪ log rows (base rows read columnar with pushdown intact,
    * ordering columns derived from file names / block positions). The
    * record key comes from `hoodie.properties`
    * (`hoodie.table.recordkey.fields`) or the `recordKeyField`
    * override; composite keys refuse loudly. */
  def readMorSnapshot(spark: SparkSession, dir: String,
      asOf: Option[String] = None,
      recordKeyField: Option[String] = None,
      keepInstant: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val completed = completedInstants(spark, dir)
      .filter(ts => asOf.forall(ts <= _)).toSet
    require(completed.nonEmpty, s"no completed instants at $dir" +
      asOf.map(v => s" at or before instant $v").getOrElse(""))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(dir)).toUri.getPath
    val bases = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]
    val logs = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Int, String)]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) { if (name != ".hoodie") walk(st.getPath) }
      else {
        val partition = st.getPath.getParent.toUri.getPath
          .stripPrefix(root).stripPrefix("/")
        name match {
          case BaseFile(fileId, _, instant) =>
            if (completed.contains(instant))
              bases += ((partition, fileId, instant, st.getPath.toUri.getPath))
          case LogFile(fileId, baseInstant, version, _) =>
            logs += ((partition, fileId, baseInstant, version.toInt,
              st.getPath.toUri.getPath))
          case _ => // metadata sidecars / foreign files
        }
      }
    }
    walk(new Path(dir))
    val groups = (bases.map(b => (b._1, b._2)) ++ logs.map(l => (l._1, l._2))).distinct
    require(groups.nonEmpty, s"Hudi table at $dir has no visible file groups")
    val baseFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    val logFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    groups.foreach { case (part, fid) =>
      val gBases = bases.filter(b => b._1 == part && b._2 == fid)
      val gLogs = logs.filter(l => l._1 == part && l._2 == fid)
      val base = if (gBases.isEmpty) None else Some(gBases.maxBy(_._3))
      val sliceBase = base.map(_._3).getOrElse {
        val bis = gLogs.map(_._3).distinct
        require(bis.size == 1,
          s"file group ($part, $fid) at $dir has logs at base instants " +
            s"${bis.sorted.mkString(", ")} but no base file — a cleaned " +
            "compaction this reader cannot reconstruct")
        bis.head
      }
      base.foreach(b => baseFiles += b._4)
      // logs attached to an OLDER base instant are pre-compaction
      // leftovers already folded into the base — excluded by name
      gLogs.filter(_._3 == sliceBase).sortBy(_._4).foreach(logFiles += _._5)
    }
    if (logFiles.isEmpty) {
      require(baseFiles.nonEmpty, s"Hudi table at $dir has no visible files")
      val plain = spark.read.parquet(baseFiles.toSeq.sorted: _*)
      return if (!keepInstant) plain
        else plain.withColumn("_hoodie_instant",
          regexp_extract(col("_metadata.file_path"), "_(\\d+)\\.parquet$", 1))
    }
    // table schema: the base files' parquet schema when any exist,
    // else the first log block's SCHEMA header
    val (tableStruct, avroJson): (StructType, String) =
      if (baseFiles.nonEmpty) {
        // one table = one schema (this writer emits uniform base files);
        // a single driver-side footer read replaces the Spark
        // schema-inference job spark.read.parquet(files: _*) launches
        val st = org.apache.spark.sql.graftbridge.Bridge
          .parquetFooterSchema(spark, baseFiles.toSeq.sorted.head)
        (st, HudiLogFormat.avroOf(st, "hudi_log_record").toString)
      } else {
        val sj = HudiLogFormat.firstSchema(
          spark.sparkContext.hadoopConfiguration, logFiles.head).getOrElse(
          throw new IllegalArgumentException(
            s"log-only Hudi table at $dir has no data block to take a schema from"))
        (HudiLogFormat.structOf(new org.apache.avro.Schema.Parser().parse(sj)), sj)
      }
    val keyField = recordKeyField.getOrElse(recordKeyFromProperties(spark, dir))
    require(tableStruct.fieldNames.contains(keyField),
      s"record key field '$keyField' not in table schema " +
        tableStruct.fieldNames.mkString("(", ", ", ")"))
    val completedSer = completed
    val schemaJsonSer = avroJson
    val logStruct = tableStruct
      .add("_hoodie_instant", StringType).add("_block", IntegerType)
      .add("_rec", IntegerType)
    val rowsRdd = spark.sparkContext
      .parallelize(logFiles.toSeq, math.max(1, math.min(logFiles.size, 64)))
      .flatMap { lf =>
        // executors re-derive a default Hadoop conf: log paths carry
        // their scheme, and this engine's lake roots resolve from it
        val conf = new org.apache.hadoop.conf.Configuration()
        HudiLogFormat.parseFile(conf, lf, completedSer, schemaJsonSer).map {
          case (instant, bi, ri, vals) =>
            Row.fromSeq(vals.toSeq :+ instant :+ bi :+ ri)
        }
      }
    val logDf = spark.createDataFrame(rowsRdd, logStruct)
    val merged =
      if (baseFiles.isEmpty) logDf
      else spark.read.schema(tableStruct).parquet(baseFiles.toSeq: _*)
        .withColumn("_hoodie_instant",
          regexp_extract(col("_metadata.file_path"), "_(\\d+)\\.parquet$", 1))
        .withColumn("_block", lit(-1)).withColumn("_rec", lit(-1))
        .unionByName(logDf)
    val w = Window.partitionBy(col(keyField))
      .orderBy(col("_hoodie_instant").desc, col("_block").desc, col("_rec").desc)
    val outCols = tableStruct.fieldNames.toSeq ++
      (if (keepInstant) Seq("_hoodie_instant") else Nil)
    merged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(outCols.map(c => col(s"`$c`")): _*)
  }

  /** MERGE-ON-READ record-level INCREMENTAL pull — the newest version
    * of every record key whose WINNING row was written by an instant
    * strictly after `sinceInstant` (the `_hoodie_commit_time` contract
    * real Hudi writers embed as a meta column, derived here from
    * file-name / log-block provenance instead): updates arriving
    * through log blocks and log-only inserts both surface; untouched
    * keys do not. The checkpoint ladder is [[completedInstants]].
    * Caveat (same trade as the CoW file-slice pull): a COMPACTION
    * stamps its group's rows with its own instant, so rows folded from
    * pre-checkpoint logs redeliver once after it — foreign files lack
    * the embedded `_hoodie_commit_time` that lets real Hudi see
    * through compactions; consumers upsert by key downstream. */
  def readMorIncremental(spark: SparkSession, dir: String,
      sinceInstant: String,
      recordKeyField: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    readMorSnapshot(spark, dir, None, recordKeyField, keepInstant = true)
      .filter(col("_hoodie_instant") > lit(sinceInstant))
      .drop("_hoodie_instant")
  }

  /** `hoodie.table.recordkey.fields` from `.hoodie/hoodie.properties`
    * (single field; composite keys refuse — merging on a synthesized
    * concatenation would silently mis-merge colliding parts). */
  def recordKeyFromProperties(spark: SparkSession, dir: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"$dir/.hoodie/hoodie.properties")
    require(fs.exists(p),
      s"$dir has no .hoodie/hoodie.properties — pass recordKeyField to " +
        "merge its log blocks")
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val fields = text.linesIterator.map(_.trim)
      .find(_.startsWith("hoodie.table.recordkey.fields="))
      .map(_.substring("hoodie.table.recordkey.fields=".length).trim)
      .getOrElse(throw new IllegalArgumentException(
        s"hoodie.properties at $dir names no record key — pass recordKeyField"))
    require(!fields.contains(","),
      s"composite record key '$fields' is out of this reader's scope")
    fields
  }

  /** Fixture: write `.hoodie/hoodie.properties` for a MOR table. */
  def writeProperties(spark: SparkSession, dir: String, tableType: String,
      recordKeyField: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$dir/.hoodie"))
    val out = fs.create(new Path(s"$dir/.hoodie/hoodie.properties"), true)
    try out.write((s"hoodie.table.type=$tableType\n" +
      s"hoodie.table.recordkey.fields=$recordKeyField\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Fixture: append a data block for `rows` to a file group's log
    * file (creating it at `logVersion` if absent). */
  def appendLogData(df: DataFrame, dir: String, partition: String,
      fileId: String, baseInstant: String, logVersion: Int,
      instant: String): Unit = {
    val spark = df.sparkSession
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (partition.nonEmpty) fs.mkdirs(new Path(s"$dir/$partition"))
    val logName = s".${fileId}_$baseInstant.log.${logVersion}_0-0-0"
    val path = if (partition.isEmpty) s"$dir/$logName" else s"$dir/$partition/$logName"
    HudiLogFormat.appendDataBlock(spark.sparkContext.hadoopConfiguration,
      path, instant, df.schema, df.collect().toSeq)
  }

  /** Fixture: append a rollback command block to a log file. */
  def appendLogRollback(spark: SparkSession, dir: String, partition: String,
      fileId: String, baseInstant: String, logVersion: Int,
      instant: String, targetInstant: String): Unit = {
    val logName = s".${fileId}_$baseInstant.log.${logVersion}_0-0-0"
    val path = if (partition.isEmpty) s"$dir/$logName" else s"$dir/$partition/$logName"
    HudiLogFormat.appendRollbackBlock(spark.sparkContext.hadoopConfiguration,
      path, instant, targetInstant)
  }

  /** Fixture: the deltacommit twins of [[beginCommit]]/[[completeCommit]]. */
  def beginDeltaCommit(spark: SparkSession, dir: String, instant: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$dir/.hoodie"))
    Seq(s"$instant.deltacommit.requested", s"$instant.deltacommit.inflight")
      .foreach { n =>
        val out = fs.create(new Path(s"$dir/.hoodie/$n"), true)
        try out.write(Array.emptyByteArray) finally out.close()
      }
  }

  def completeDeltaCommit(spark: SparkSession, dir: String, instant: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$dir/.hoodie/$instant.deltacommit"), true)
    try out.write("{}".getBytes("UTF-8")) finally out.close()
  }

  /** INCREMENTAL QUERY (Hudi's flagship consumption mode, file-slice
    * granularity): the LIVE base files whose instant is AFTER
    * `sinceInstant` — i.e. the file groups created or rewritten since
    * the consumer's last checkpoint. CoW rewrites carry the whole file
    * group, so a consumer re-processes the touched groups (upserting
    * by key downstream), never the untouched ones; row-level change
    * extraction inside a group needs the `_hoodie_commit_time` meta
    * column real Hudi writers embed — out of scope for foreign files
    * that lack it. */
  def incrementalFiles(spark: SparkSession, dir: String,
      sinceInstant: String): Seq[String] = {
    val all = liveFiles(spark, dir)
    all.filter { p =>
      new Path(p).getName match {
        case BaseFile(_, _, instant) => instant > sinceInstant
        case _ => false
      }
    }
  }

  /** Read the file groups created/rewritten after `sinceInstant`. */
  def readIncremental(spark: SparkSession, dir: String,
      sinceInstant: String): DataFrame = {
    val files = incrementalFiles(spark, dir, sinceInstant)
    require(files.nonEmpty, s"no file slices after $sinceInstant at $dir")
    TableIO.readFilesFooter(spark, files)
  }

  /** CLEAN (the Hudi cleaner, keep-slices-serving-`keepInstant`
    * policy) — the disk-reclaim leg completing the maintenance triad
    * with [[graft.sources.DeltaCompat.vacuum]] and
    * [[graft.sources.IcebergCompat.expireSnapshots]]: per file group,
    * every slice OLDER than the one serving `keepInstant` is reclaimed
    * — its base file plus, for merge-on-read, the log files attached
    * to its base instant. Slices newer than `keepInstant` and the one
    * serving it stay, so every query as-of `keepInstant` or later
    * keeps working; older time travel hits the standard Hudi retention
    * caveat (the slice is gone). In-flight writers' files are not
    * touched (only completed instants participate). Returns the
    * deleted absolute paths, sorted. */
  def clean(spark: SparkSession, dir: String,
      keepInstant: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val completed = completedInstants(spark, dir).toSet
    require(completed.nonEmpty, s"no completed instants at $dir")
    val root = fs.makeQualified(new Path(dir)).toUri.getPath
    val bases = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]
    val logs = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) { if (name != ".hoodie") walk(st.getPath) }
      else {
        val partition = st.getPath.getParent.toUri.getPath
          .stripPrefix(root).stripPrefix("/")
        name match {
          case BaseFile(fileId, _, instant) =>
            if (completed.contains(instant))
              bases += ((partition, fileId, instant, st.getPath.toUri.getPath))
          case LogFile(fileId, baseInstant, _, _) =>
            logs += ((partition, fileId, baseInstant, st.getPath.toUri.getPath))
          case _ => // metadata sidecars / foreign files
        }
      }
    }
    walk(new Path(dir))
    val victims = scala.collection.mutable.ArrayBuffer.empty[String]
    bases.groupBy(b => (b._1, b._2)).foreach { case ((part, fid), gBases) =>
      val serving = gBases.filter(_._3 <= keepInstant)
        .sortBy(_._3).lastOption.map(_._3)
      val keep = gBases.map(_._3).filter(_ > keepInstant).toSet ++ serving
      gBases.filterNot(b => keep.contains(b._3)).foreach { b =>
        victims += b._4
        // MOR: log files attached to the reclaimed slice's base instant
        logs.filter(l => l._1 == part && l._2 == fid && l._3 == b._3)
          .foreach(victims += _._4)
      }
    }
    val out = victims.toSeq.sorted
    out.foreach(p => fs.delete(new Path(p), false))
    out
  }

  /** Test/export fixture support: write one base file for `fileId` at
    * `instant` under `partition`, plus (optionally) the completed
    * commit marker. Writers in-flight simply skip [[completeCommit]] —
    * exactly the visibility protocol. */
  def writeBaseFile(df: DataFrame, dir: String, partition: String,
      fileId: String, instant: String): Unit = {
    val fs = new Path(dir).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val name = s"$partition/${fileId}_0-0-0_$instant.parquet"
    fs.delete(new Path(s"$dir/$name"), false)
    TableIO.stageFile(df, dir, name)
  }

  /** Mark `instant` requested+inflight (the writer-side breadcrumbs a
    * reader must ignore until completion). */
  def beginCommit(spark: SparkSession, dir: String, instant: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$dir/.hoodie"))
    Seq(s"$instant.commit.requested", s"$instant.commit.inflight").foreach { n =>
      val out = fs.create(new Path(s"$dir/.hoodie/$n"), true)
      try out.write(Array.emptyByteArray) finally out.close()
    }
  }

  /** Complete `instant`: the atomic visibility flip. */
  def completeCommit(spark: SparkSession, dir: String, instant: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$dir/.hoodie/$instant.commit"), true)
    try out.write("{}".getBytes("UTF-8")) finally out.close()
  }
}
