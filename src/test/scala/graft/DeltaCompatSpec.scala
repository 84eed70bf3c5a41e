package graft

import org.apache.spark.sql.functions._

import graft.sources.DeltaCompat

/** Edge pins for the Delta-log compat reader: last-action-wins
  * reconciliation (re-add after remove resurrects the file),
  * checkpoint read/write (including vacuumed pre-checkpoint JSON),
  * percent-encoded path round-trips, and loud refusals for absolute
  * paths / dangling checkpoints / non-Delta dirs. */
class DeltaCompatSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): (String, org.apache.hadoop.fs.FileSystem) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-delta").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (dir, fs)
  }

  private def writePart(dir: String, fs: org.apache.hadoop.fs.FileSystem,
      name: String, rows: Seq[(Long, String)]): Unit = {
    val tmp = s"$dir/.tmp-$name"
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name")))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  private def writeCommit(dir: String, fs: org.apache.hadoop.fs.FileSystem,
      id: Long, lines: Seq[String]): Unit = {
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_delta_log"))
    val out = fs.create(new org.apache.hadoop.fs.Path(
      f"$dir/_delta_log/$id%020d.json"), true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  test("re-add after remove resurrects the file; last action per path wins") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a")))
    writePart(dir, fs, "b.parquet", Seq((2L, "b")))
    writeCommit(dir, fs, 0, Seq(
      """{"add":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    writeCommit(dir, fs, 1, Seq(
      """{"remove":{"path":"a.parquet","dataChange":true}}"""))
    assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last) == Seq("b.parquet"))
    writeCommit(dir, fs, 2, Seq(
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last)
      == Seq("a.parquet", "b.parquet"))
    val got = DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b")))
  }

  test("checkpoint write + read: pre-checkpoint JSON vacuumed, later commits replay") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a")))
    writePart(dir, fs, "b.parquet", Seq((2L, "b")))
    writePart(dir, fs, "c.parquet", Seq((3L, "c")))
    writeCommit(dir, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    writeCommit(dir, fs, 1, Seq(
      """{"remove":{"path":"a.parquet","dataChange":true}}"""))
    val v = DeltaCompat.checkpoint(spark, dir)
    assert(v == 1L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_delta_log/00000000000000000001.checkpoint.parquet")))
    // the checkpoint subsumes the old JSON: vacuum it, reads still work
    (0L to 1L).foreach(i => fs.delete(new org.apache.hadoop.fs.Path(
      f"$dir/_delta_log/$i%020d.json"), false))
    assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last) == Seq("b.parquet"))
    // later commits replay ON TOP of the checkpoint — including a
    // tombstone resurrection (add of a checkpoint-removed path)
    writeCommit(dir, fs, 2, Seq(
      """{"add":{"path":"c.parquet","dataChange":true}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last)
      == Seq("a.parquet", "b.parquet", "c.parquet"))
    // a remove after the checkpoint wins over the checkpoint's add
    writeCommit(dir, fs, 3, Seq(
      """{"remove":{"path":"b.parquet","dataChange":true}}"""))
    val got = DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (3L, "c")))
    // re-checkpoint at the new head — MULTI-PART this time (the
    // protocol's shape for large state); everything still resolves
    assert(DeltaCompat.checkpoint(spark, dir, parts = 3) == 3L)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$dir/_delta_log/*.checkpoint.*.*.parquet")).nonEmpty,
      "multi-part checkpoint files expected")
    (2L to 3L).foreach(i => fs.delete(new org.apache.hadoop.fs.Path(
      f"$dir/_delta_log/$i%020d.json"), false))
    assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last)
      == Seq("a.parquet", "c.parquet"))
  }

  test("percent-encoded paths decode on read and encode on export; absolute paths refuse") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a b=c%.parquet", Seq((1L, "x")))
    writeCommit(dir, fs, 0, Seq(
      """{"add":{"path":"a%20b=c%25.parquet","dataChange":true}}"""))
    assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last)
      == Seq("a b=c%.parquet"))
    assert(DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().toSet == Set((1L, "x")))
    // absolute path (external file) refuses loudly
    writeCommit(dir, fs, 1, Seq(
      """{"add":{"path":"file:///elsewhere/z.parquet","dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] { DeltaCompat.liveFiles(spark, dir) }
    assert(e.getMessage.contains("absolute"))
    // exporter round-trip: a snapshot table whose part lives under an
    // exotic dir name reads back identically through the Delta log
    val root = java.nio.file.Files.createTempDirectory("graft-uniform-enc").toString
    graft.sources.SnapshotTable.commit(
      Seq((7L, "q")).toDF("id", "v"), root)
    assert(DeltaCompat.exportDeltaLog(spark, root) == 1)
    assert(DeltaCompat.readDeltaTable(spark, root)
      .as[(Long, String)].collect().toSet == Set((7L, "q")))
  }

  test("unsupported protocol features refuse loudly instead of reading wrong data") {
    // deletion vectors: silently ignoring them would resurrect deleted rows
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a")))
    writeCommit(dir, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"add":{"path":"a.parquet","dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":40,"cardinality":2}}}"""))
    val e = intercept[IllegalArgumentException] { DeltaCompat.liveFiles(spark, dir) }
    assert(e.getMessage.contains("deletion vectors"))
    // reader version beyond this reader's contract
    val (dir2, fs2) = mkTable()
    writePart(dir2, fs2, "a.parquet", Seq((1L, "a")))
    writeCommit(dir2, fs2, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    val e2 = intercept[IllegalArgumentException] { DeltaCompat.liveFiles(spark, dir2) }
    assert(e2.getMessage.contains("minReaderVersion"))
    // column mapping renames every physical column
    val (dir3, fs3) = mkTable()
    writePart(dir3, fs3, "a.parquet", Seq((1L, "a")))
    writeCommit(dir3, fs3, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"},"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    val e3 = intercept[IllegalArgumentException] { DeltaCompat.liveFiles(spark, dir3) }
    assert(e3.getMessage.contains("column mapping"))
    // an EXPLICIT mode=none is fine
    val (dir4, fs4) = mkTable()
    writePart(dir4, fs4, "a.parquet", Seq((1L, "a")))
    writeCommit(dir4, fs4, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"},"configuration":{"delta.columnMapping.mode":"none"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    assert(DeltaCompat.liveFiles(spark, dir4).map(_.split('/').last) == Seq("a.parquet"))
  }

  test("time travel: asOf replays commits <= v; newer checkpoints bypassed; vacuumed history refuses") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a")))
    writePart(dir, fs, "b.parquet", Seq((2L, "b")))
    writeCommit(dir, fs, 0, Seq("""{"add":{"path":"a.parquet","dataChange":true}}"""))
    writeCommit(dir, fs, 1, Seq(
      """{"remove":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    // v0: a alive; v1 (current): only b
    assert(DeltaCompat.readDeltaTable(spark, dir, asOf = Some(0L))
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    assert(DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().toSet == Set((2L, "b")))
    // a checkpoint at v1 must not poison v0 reads (bypassed), and after
    // vacuuming commit 0 the v0 read refuses BY NAME
    DeltaCompat.checkpoint(spark, dir)
    assert(DeltaCompat.readDeltaTable(spark, dir, asOf = Some(0L))
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    fs.delete(new org.apache.hadoop.fs.Path(
      f"$dir/_delta_log/${0L}%020d.json"), false)
    val e = intercept[IllegalArgumentException] {
      DeltaCompat.liveFiles(spark, dir, asOf = Some(0L))
    }
    assert(e.getMessage.contains("not reconstructible"))
    // the current read still works off the checkpoint
    assert(DeltaCompat.readDeltaTable(spark, dir).count() == 1)
  }

  test("addedBetween: append-only windows replay; rewrites and vacuumed commits refuse") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a")))
    writePart(dir, fs, "b.parquet", Seq((2L, "b")))
    writePart(dir, fs, "c.parquet", Seq((3L, "c")))
    writeCommit(dir, fs, 0, Seq("""{"add":{"path":"a.parquet","dataChange":true}}"""))
    writeCommit(dir, fs, 1, Seq("""{"add":{"path":"b.parquet","dataChange":true}}"""))
    writeCommit(dir, fs, 2, Seq("""{"add":{"path":"c.parquet","dataChange":true}}"""))
    assert(DeltaCompat.addedBetween(spark, dir, 0, 2)
      .map(_.split('/').last) == Seq("b.parquet", "c.parquet"))
    assert(DeltaCompat.readAddedBetween(spark, dir, 1, 2)
      .as[(Long, String)].collect().toSet == Set((3L, "c")))
    // add-then-remove WITHIN the window cancels out
    writeCommit(dir, fs, 3, Seq("""{"add":{"path":"d.parquet","dataChange":true}}"""))
    writeCommit(dir, fs, 4, Seq("""{"remove":{"path":"d.parquet","dataChange":true}}"""))
    assert(DeltaCompat.addedBetween(spark, dir, 2, 4).isEmpty)
    // a remove of a PRE-window file refuses (rewrite/delete window)
    writeCommit(dir, fs, 5, Seq("""{"remove":{"path":"a.parquet","dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaCompat.addedBetween(spark, dir, 4, 5)
    }
    assert(e.getMessage.contains("append-only"))
    // a vacuumed commit inside the window refuses
    fs.delete(new org.apache.hadoop.fs.Path(
      f"$dir/_delta_log/${1L}%020d.json"), false)
    val e2 = intercept[IllegalArgumentException] {
      DeltaCompat.addedBetween(spark, dir, 0, 2)
    }
    assert(e2.getMessage.contains("missing"))
  }

  test("dangling checkpoint pointer and non-Delta dirs refuse loudly") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a")))
    writeCommit(dir, fs, 0, Seq(
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    val cp = fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/_delta_log/_last_checkpoint"), true)
    try cp.write("""{"version":0,"size":1}""".getBytes("UTF-8"))
    finally cp.close()
    val e = intercept[IllegalArgumentException] {
      DeltaCompat.liveFiles(spark, dir)
    }
    assert(e.getMessage.contains("missing"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaCompat.liveFiles(spark,
        java.nio.file.Files.createTempDirectory("graft-notdelta").toString)
    }
    assert(e2.getMessage.contains("_delta_log"))
  }

  test("driver-side JSON replay is capped; a checkpoint folds the tail back under it") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a")))
    writeCommit(dir, fs, 0, Seq("""{"add":{"path":"a.parquet","dataChange":true}}"""))
    (1L to 5L).foreach { v =>
      writeCommit(dir, fs, v, Seq(s"""{"commitInfo":{"operation":"NOOP$v"}}"""))
    }
    val key = "spark.graft.delta.maxDriverReplayCommits"
    spark.conf.set(key, "3")
    try {
      val e = intercept[IllegalArgumentException] {
        DeltaCompat.liveFiles(spark, dir)
      }
      assert(e.getMessage.contains("maxDriverReplayCommits"))
      // folding the tail into a checkpoint brings the table back under
      // the cap with no data change — the error message's named fix
      DeltaCompat.checkpoint(spark, dir)
      assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last) == Seq("a.parquet"))
    } finally spark.conf.unset(key)
  }

  test("writeCommit is exclusive: a second commit of one version throws, the first stays byte-identical") {
    val (dir, fs) = mkTable()
    DeltaCompat.writeCommit(fs, dir, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"commitInfo":{"operation":"FIRST"}}"""))
    val path = java.nio.file.Paths.get(s"$dir/_delta_log/00000000000000000000.json")
    val first = java.nio.file.Files.readAllBytes(path)
    assert(new String(first, "UTF-8") ==
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n" +
        """{"commitInfo":{"operation":"FIRST"}}""" + "\n")
    intercept[java.io.IOException] {
      DeltaCompat.writeCommit(fs, dir, 0L, Seq("""{"commitInfo":{"operation":"SECOND"}}"""))
    }
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(path), first))
  }

  test("re-checkpointing one version replaces its files, whatever the part count") {
    val (dir, fs) = mkTable()
    Seq("a", "b", "c").zipWithIndex.foreach { case (n, i) =>
      writePart(dir, fs, s"$n.parquet", Seq((i.toLong, n)))
    }
    writeCommit(dir, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}""",
      """{"add":{"path":"c.parquet","dataChange":true}}"""))
    def cpFiles = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$dir/_delta_log/*.checkpoint*.parquet")).map(_.getPath.getName).toSeq
    assert(DeltaCompat.checkpoint(spark, dir, parts = 3) == 0L)
    assert(cpFiles.nonEmpty && cpFiles.forall(_.startsWith(
      "00000000000000000000.checkpoint.0")), s"multi-part names expected, got $cpFiles")
    assert(DeltaCompat.checkpoint(spark, dir) == 0L)
    assert(cpFiles == Seq("00000000000000000000.checkpoint.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_delta_log/00000000000000000000.json"), false)
    assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last)
      == Seq("a.parquet", "b.parquet", "c.parquet"))
  }

  test("a checkpoint whose write job fails leaves the table readable") {
    val (dir, fs) = failingTable()
    Seq("a", "b").zipWithIndex.foreach { case (n, i) =>
      writePart(dir, fs, s"$n.parquet", Seq((i.toLong, n)))
    }
    writeCommit(dir, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    assert(DeltaCompat.checkpoint(spark, dir) == 0L)
    // the checkpoint is now the only record of the table's state
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_delta_log/00000000000000000000.json"), false)
    val e = FailingFs.failingOn(_.endsWith(".parquet")) {
      intercept[Exception](DeltaCompat.checkpoint(spark, dir))
    }
    assert(FailingFs.injected(e), s"got $e")
    assert(DeltaCompat.latestVersion(spark, dir) == 0L)
    assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last)
      == Seq("a.parquet", "b.parquet"))
    assert(DeltaCompat.checkpoint(spark, dir) == 0L)
    assert(DeltaCompat.liveFiles(spark, dir).map(_.split('/').last)
      == Seq("a.parquet", "b.parquet"))
  }

  test("a merge retried after a failed attempt lands despite the attempt's orphan files") {
    val (dir, fs) = failingTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a"), (2L, "b")))
    writeCommit(dir, fs, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    def merge() = DeltaCompat.mergeInto(spark, dir,
      Seq((2L, "B!"), (9L, "new")).toDF("id", "v"), Seq("id"))
    // the data files publish, then the change-data publish fails: the
    // data files stay behind, named by no commit
    val e = FailingFs.failingOn(_.contains("/_change_data/")) {
      intercept[Exception](merge())
    }
    assert(FailingFs.injected(e), s"got $e")
    assert(DeltaCompat.latestVersion(spark, dir) == 0L)
    assert(merge() == 1L)
    assert(DeltaCompat.readDeltaTable(spark, dir).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "B!"), (9L, "new")))
  }

  /** A table whose commit 1 adds column `w`: commit 0 declares (id, v)
    * and adds a.parquet = (1, x), (2, y); commit 1 declares (id, v, w)
    * and adds b.parquet = (3, z, 30). */
  private def addColumnTable(): (String, org.apache.hadoop.fs.FileSystem) = {
    import org.apache.spark.sql.types._
    val (dir, fs) = mkTable()
    def schemaJson(fields: StructField*): String =
      StructType(fields).json.replace("\\", "\\\\").replace("\"", "\\\"")
    val (id, v) = (StructField("id", LongType), StructField("v", StringType))
    writePart(dir, fs, "a.parquet", Seq((1L, "x"), (2L, "y")))
    writeCommit(dir, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"${schemaJson(id, v)}"}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    graft.sources.TableIO.stageFile(Seq((3L, "z", 30L)).toDF("id", "v", "w"), dir, "b.parquet")
    writeCommit(dir, fs, 1, Seq(
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"${schemaJson(id, v, StructField("w", LongType))}"}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    (dir, fs)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("an added column reads through every Delta reader and merges, before and after a checkpoint") {
    Seq(false, true).foreach { checkpointed =>
      val (dir, fs) = addColumnTable()
      if (checkpointed) assert(DeltaCompat.checkpoint(spark, dir) == 1L)
      val evolved = Set(Seq(1L, "x", null), Seq(2L, "y", null), Seq(3L, "z", 30L))
      val table = DeltaCompat.readDeltaTable(spark, dir)
      assert(table.columns.toSeq == Seq("id", "v", "w"))
      assert(rowsOf(table) == evolved, s"checkpointed=$checkpointed")
      // no mask, no partition join: the scan reads no _metadata columns
      assert(!table.queryExecution.optimizedPlan.toString.contains("_metadata"))
      val added = DeltaCompat.readAddedBetween(spark, dir, -1L, 1L)
      assert(added.columns.toSeq == Seq("id", "v", "w"),
        s"checkpointed=$checkpointed: got ${added.columns.toSeq}")
      assert(rowsOf(added) == evolved)
      val feed = DeltaCompat.readChangeFeed(spark, dir, -1L, 1L)
      assert(feed.columns.toSeq == Seq("id", "v", "w", "_change_type", "_commit_version"))
      assert(rowsOf(feed.drop("_change_type")) ==
        Set(Seq(1L, "x", null, 0L), Seq(2L, "y", null, 0L), Seq(3L, "z", 30L, 1L)))
      if (checkpointed) {
        // the checkpoint alone carries the evolved schema
        (0L to 1L).foreach(i => fs.delete(new org.apache.hadoop.fs.Path(
          f"$dir/_delta_log/$i%020d.json"), false))
        assert(rowsOf(DeltaCompat.readDeltaTable(spark, dir)) == evolved)
      }
      // a source carrying the new column is the table's schema
      assert(DeltaCompat.mergeInto(spark, dir,
        Seq((1L, "X", 10L), (4L, "n", 40L)).toDF("id", "v", "w"), Seq("id")) == 2L)
      assert(rowsOf(DeltaCompat.readDeltaTable(spark, dir)) == Set(
        Seq(1L, "X", 10L), Seq(2L, "y", null), Seq(3L, "z", 30L), Seq(4L, "n", 40L)),
        s"checkpointed=$checkpointed")
    }
  }

  /** A fresh table dir on the `failfs` scheme ([[FailingFs]]). */
  private def failingTable(): (String, org.apache.hadoop.fs.FileSystem) = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[FailingFs].getName)
    val dir = "failfs://" + java.nio.file.Files.createTempDirectory("graft-delta-fail")
    (dir, new org.apache.hadoop.fs.Path(dir).getFileSystem(conf))
  }
}

/** The local filesystem under the `failfs` scheme, failing every file
  * create and rename whose target path matches the predicate set by
  * [[FailingFs.failingOn]]: a write that dies mid-flight, as on
  * executor loss or a full disk. */
class FailingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failfs:///")
  override def getScheme: String = "failfs"
  private def check(p: org.apache.hadoop.fs.Path): Unit =
    if (FailingFs.failOn.get()(p.toString))
      throw new java.io.IOException(s"injected failure at $p")
  override protected def createOutputStreamWithMode(f: org.apache.hadoop.fs.Path,
      append: Boolean, permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    check(f)
    super.createOutputStreamWithMode(f, append, permission)
  }
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    check(dst)
    super.rename(src, dst)
  }
}

object FailingFs {
  private val failOn =
    new java.util.concurrent.atomic.AtomicReference[String => Boolean](_ => false)
  def failingOn[T](pred: String => Boolean)(body: => T): T = {
    failOn.set(pred)
    try body finally failOn.set(_ => false)
  }
  /** Whether `e` or one of its causes is a failure injected here. */
  def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected failure"))
}
