package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{DeletionVectors, DeltaCompat}

/** Edge pins for the Delta deletion-vector codec and its application by
  * the compat reader, plus column-mapping resolution: Z85 and portable
  * roaring round-trips (array, bitmap, and multi-key shapes), sidecar
  * CRC verification, masked reads, checkpoint carriage of DVs +
  * protocol/metaData, and the loud path-only refusals. */
class DeletionVectorsSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): (String, org.apache.hadoop.fs.FileSystem) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dv").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (dir, fs)
  }

  private def writePart(dir: String, fs: org.apache.hadoop.fs.FileSystem,
      name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = s"$dir/.tmp-$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
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

  private def dvJson(d: DeletionVectors.Descriptor): String = {
    val off = d.offset.map(o => s""","offset":$o""").getOrElse("")
    s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}"$off,"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
  }

  test("Z85 and portable roaring round-trip: array, bitmap, and 64-bit keys") {
    val bytes = Array.tabulate(32)(i => (i * 37 % 251).toByte)
    assert(DeletionVectors.z85Decode(DeletionVectors.z85Encode(bytes))
      .sameElements(bytes))
    // small array containers
    val small = Array(0L, 1L, 5L, 65535L, 65536L, 131071L)
    assert(DeletionVectors.deserialize(DeletionVectors.serialize(small))
      .sameElements(small))
    // > 4096 values in one 16-bit block forces a bitmap container
    val dense = (0L until 5000L).toArray
    assert(DeletionVectors.deserialize(DeletionVectors.serialize(dense))
      .sameElements(dense))
    // positions above 2^32 exercise multiple RoaringBitmapArray keys
    val wide = Array(3L, (1L << 32) + 7L, (5L << 32) + 65536L)
    assert(DeletionVectors.deserialize(DeletionVectors.serialize(wide))
      .sameElements(wide))
  }

  test("sidecar write/read verifies CRC; corrupt data refuses") {
    val (dir, fs) = mkTable()
    val d = DeletionVectors.writeSidecar(fs, dir, Array(1L, 3L, 9L))
    assert(DeletionVectors.readDeleted(fs, dir, d).sameElements(Array(1L, 3L, 9L)))
    // flip a data byte past the header: checksum must catch it
    val p = DeletionVectors.sidecarPath(dir, d)
    val in = fs.open(p)
    val all = try in.readAllBytes() finally in.close()
    all(8) = (all(8) ^ 0x40).toByte
    val out = fs.create(p, true)
    try out.write(all) finally out.close()
    val e = intercept[Exception] { DeletionVectors.readDeleted(fs, dir, d) }
    assert(e.getMessage.contains("checksum") || e.getMessage.contains("magic"))
  }

  test("DV'd reads mask deleted rows; path-only API refuses; checkpoints carry everything") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet",
      (0L until 20L).map(i => (i, s"a$i")).toDF("id", "v"))
    writePart(dir, fs, "b.parquet",
      (100L until 110L).map(i => (i, s"b$i")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      """{"metaData":{"id":"t-dv","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    // commit 1: re-add a.parquet with a sidecar DV masking rows 0,2,4
    val d1 = DeletionVectors.writeSidecar(fs, dir, Array(0L, 2L, 4L))
    writeCommit(dir, fs, 1, Seq(
      s"""{"add":{"path":"a.parquet","dataChange":true,"deletionVector":${dvJson(d1)}}}"""))
    val got1 = DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(got1.size == 27 && !got1.contains(0L) && !got1.contains(2L) &&
      !got1.contains(4L) && got1.contains(1L) && got1.contains(100L),
      s"sidecar DV must mask exactly rows 0,2,4 of a.parquet, got ${got1.size}")
    // the path-only API refuses rather than resurrecting deleted rows
    val e = intercept[IllegalArgumentException] { DeltaCompat.liveFiles(spark, dir) }
    assert(e.getMessage.contains("deletion vectors"))
    // commit 2: a LARGER replacement DV (inline) — last add wins
    val d2 = DeletionVectors.inlineDescriptor((0L until 10L).toArray)
    writeCommit(dir, fs, 2, Seq(
      s"""{"add":{"path":"a.parquet","dataChange":true,"deletionVector":${dvJson(d2)}}}"""))
    assert(DeltaCompat.readDeltaTable(spark, dir).count() == 20,
      "inline replacement DV (10 masked of 20 + 10 live in b) must win")
    // time travel re-applies the OLD DV
    assert(DeltaCompat.readDeltaTable(spark, dir, asOf = Some(1L)).count() == 27)
    // checkpoint + vacuum the JSON: protocol, metaData, and DVs survive
    val v = DeltaCompat.checkpoint(spark, dir)
    assert(v == 2L)
    (0L to 2L).foreach { i =>
      fs.delete(new org.apache.hadoop.fs.Path(f"$dir/_delta_log/$i%020d.json"), false)
    }
    assert(DeltaCompat.readDeltaTable(spark, dir).count() == 20,
      "post-vacuum read must still apply the checkpointed DV")
    val cp = spark.read.parquet(f"$dir/_delta_log/$v%020d.checkpoint.parquet")
    assert(cp.filter(col("protocol").isNotNull).count() == 1,
      "checkpoint must carry the protocol action")
    assert(cp.filter(col("metaData").isNotNull).count() == 1,
      "checkpoint must carry the metaData action")
    assert(cp.filter(col("add.deletionVector").isNotNull).count() == 1,
      "checkpoint must carry the live DV descriptor")
    // a protocol feature gate still fires post-vacuum (visibility kept)
    writeCommit(dir, fs, 3, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"]}}"""))
    val e2 = intercept[IllegalArgumentException] { DeltaCompat.readDeltaTable(spark, dir) }
    assert(e2.getMessage.contains("v2Checkpoint"))
  }

  test("column mapping (name and id modes) resolves physical columns to the logical schema") {
    def schemaJson(mode: String): String = {
      def field(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true, new MetadataBuilder()
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys).build())
      val st = StructType(Seq(
        field("id", "col-aaaa", 1L, LongType),
        field("v", "col-bbbb", 2L, StringType)))
      st.json.replace("\\", "\\\\").replace("\"", "\\\"")
    }
    Seq("name", "id").foreach { mode =>
      val (dir, fs) = mkTable()
      writePart(dir, fs, "a.parquet",
        Seq((1L, "x"), (2L, "y")).toDF("col-aaaa", "col-bbbb"))
      writeCommit(dir, fs, 0, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t-cm","format":{"provider":"parquet"},"schemaString":"${schemaJson(mode)}","configuration":{"delta.columnMapping.mode":"$mode"}}}""",
        """{"add":{"path":"a.parquet","dataChange":true}}"""))
      val got = DeltaCompat.readDeltaTable(spark, dir)
      assert(got.columns.toSeq == Seq("id", "v"),
        s"mode=$mode must surface logical names, got ${got.columns.toSeq}")
      assert(got.as[(Long, String)].collect().toSet == Set((1L, "x"), (2L, "y")))
      // path-only API refuses: raw files carry physical names
      val e = intercept[IllegalArgumentException] { DeltaCompat.liveFiles(spark, dir) }
      assert(e.getMessage.contains("column mapping"))
    }
    // mode set but schemaString missing: refuse, never read physical names
    val (dir2, fs2) = mkTable()
    writePart(dir2, fs2, "a.parquet", Seq((1L, "x")).toDF("col-aaaa", "col-bbbb"))
    writeCommit(dir2, fs2, 0, Seq(
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    val e2 = intercept[IllegalArgumentException] {
      DeltaCompat.readDeltaTable(spark, dir2)
    }
    assert(e2.getMessage.contains("schemaString"))
  }

  test("column mapping composes with deletion vectors") {
    val (dir, fs) = mkTable()
    def field(name: String, phys: String, id: Long) =
      StructField(name, LongType, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build())
    val schemaJson = StructType(Seq(field("k", "col-k", 1L)))
      .json.replace("\\", "\\\\").replace("\"", "\\\"")
    writePart(dir, fs, "a.parquet", (0L until 10L).toDF("col-k"))
    val d = DeletionVectors.writeSidecar(fs, dir, Array(7L, 8L, 9L))
    writeCommit(dir, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","columnMapping"]}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"$schemaJson","configuration":{"delta.columnMapping.mode":"name"}}}""",
      s"""{"add":{"path":"a.parquet","dataChange":true,"deletionVector":${dvJson(d)}}}"""))
    val got = DeltaCompat.readDeltaTable(spark, dir)
    assert(got.columns.toSeq == Seq("k"))
    assert(got.as[Long].collect().sorted.sameElements(0L until 7L),
      "DV mask must apply before the logical rename")
  }

  test("column-mapped readAddedBetween and readChangeFeed return logical names") {
    def field(name: String, phys: String, id: Long, dt: DataType) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build())
    val schemaJson = StructType(Seq(field("id", "col-1", 1L, LongType),
      field("v", "col-2", 2L, StringType)))
      .json.replace("\\", "\\\\").replace("\"", "\\\"")
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "x")).toDF("col-1", "col-2"))
    writePart(dir, fs, "b.parquet", Seq((2L, "y")).toDF("col-1", "col-2"))
    writeCommit(dir, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t-cm","format":{"provider":"parquet"},"schemaString":"$schemaJson","configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    writeCommit(dir, fs, 1, Seq("""{"add":{"path":"b.parquet","dataChange":true}}"""))
    // commit 2 deletes b's row with an explicit cdc file, physical names too
    graft.sources.TableIO.stageFile(Seq((2L, "y", "delete"))
      .toDF("col-1", "col-2", "_change_type"), dir, "_change_data/c2.parquet")
    writeCommit(dir, fs, 2, Seq(
      """{"remove":{"path":"b.parquet","dataChange":true}}""",
      """{"cdc":{"path":"_change_data/c2.parquet","dataChange":false}}"""))
    val added = DeltaCompat.readAddedBetween(spark, dir, 0L, 1L)
    assert(added.columns.toSeq == Seq("id", "v"), s"got ${added.columns.toSeq}")
    assert(added.as[(Long, String)].collect().toSeq == Seq((2L, "y")))
    val feed = DeltaCompat.readChangeFeed(spark, dir, -1L, 2L)
    assert(feed.columns.toSeq == Seq("id", "v", "_change_type", "_commit_version"),
      s"got ${feed.columns.toSeq}")
    assert(feed.as[(Long, String, String, Long)].collect().toSet == Set(
      (1L, "x", "insert", 0L), (2L, "y", "insert", 1L), (2L, "y", "delete", 2L)))
  }

  test("a DV whose cardinality disagrees with its positions refuses on the partitioned read and in materializeDeletes") {
    // declares 2 masked rows, holds 1
    def badDv(fs: org.apache.hadoop.fs.FileSystem, dir: String) =
      DeletionVectors.writeSidecar(fs, dir, Array(0L)).copy(cardinality = 2L)
    val dvProtocol =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
    val (pdir, pfs) = mkTable()
    DeltaCompat.createDeltaTable((0L until 6L).map(i => (i, (i % 2).toInt))
      .toDF("id", "m"), pdir, Seq("m"))
    val f0 = DeltaCompat.liveFilesFull(spark, pdir)
      .find(_.partitionValues("m").contains("0")).get
    writeCommit(pdir, pfs, 1, Seq(dvProtocol,
      s"""{"add":{"path":"${f0.path.stripPrefix(pdir + "/")}","partitionValues":{"m":"0"},"dataChange":true,"deletionVector":${dvJson(badDv(pfs, pdir))}}}"""))
    val e1 = intercept[IllegalArgumentException] { DeltaCompat.readDeltaTable(spark, pdir) }
    assert(e1.getMessage.contains("cardinality"), e1.getMessage)
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", (0L until 4L).map(i => (i, s"v$i")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(dvProtocol,
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    writeCommit(dir, fs, 1, Seq(
      s"""{"add":{"path":"a.parquet","dataChange":true,"deletionVector":${dvJson(badDv(fs, dir))}}}"""))
    val e2 = intercept[IllegalArgumentException] { DeltaCompat.materializeDeletes(spark, dir) }
    assert(e2.getMessage.contains("cardinality"), e2.getMessage)
    assert(DeltaCompat.latestVersion(spark, dir) == 1L, "nothing may be committed")
  }

  test("deleteWhere layers masks without rewriting data; time travel sees through") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    val dataFilesBefore = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    assert(DeltaCompat.deleteWhere(spark, dir, col("id") < 3L) == 1L)
    assert(DeltaCompat.readDeltaTable(spark, dir).count() == 7)
    // layered second delete: old mask unioned in
    assert(DeltaCompat.deleteWhere(spark, dir, col("id") === 5L) == 2L)
    assert(DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      Seq(3L, 4L, 6L, 7L, 8L, 9L))
    // no data file was rewritten
    val dataFilesAfter = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    assert(dataFilesAfter == dataFilesBefore, "deleteWhere must not rewrite data")
    // time travel reads through every layer
    assert(DeltaCompat.readDeltaTable(spark, dir, asOf = Some(0L)).count() == 10)
    assert(DeltaCompat.readDeltaTable(spark, dir, asOf = Some(1L)).count() == 7)
    // a no-match predicate commits nothing
    assert(DeltaCompat.deleteWhere(spark, dir, col("id") === 999L) == 2L)
  }

  test("schema evolution: columns added in metaData read as null from old files") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "x")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    // v1 evolves the schema (adds `extra`) and appends a file carrying it
    val tmp = s"$dir/.tmp-b"
    Seq((2L, "y", 7L)).toDF("id", "v", "extra").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/b.parquet")))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType)))
      .json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeCommit(dir, fs, 1, Seq(
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"$schemaJson"}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    val got = DeltaCompat.readDeltaTable(spark, dir)
    assert(got.columns.toSeq == Seq("id", "v", "extra"),
      s"declared schema must win over footer inference, got ${got.columns.toSeq}")
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    assert(rows == Set((1L, "x", None), (2L, "y", Some(7L))),
      s"pre-evolution rows must read the new column as null, got $rows")
  }

  test("change feed: explicit cdc wins, whole-file adds/removes derive, refusals fire") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    // commit 1: rewrite with explicit cdc (update of id=2)
    writePart(dir, fs, "a2.parquet", Seq((1L, "a"), (2L, "B")).toDF("id", "v"))
    val tmp = s"$dir/.tmp-cdc"
    Seq((2L, "b", "update_preimage"), (2L, "B", "update_postimage"))
      .toDF("id", "v", "_change_type").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_change_data"))
    assert(fs.rename(part,
      new org.apache.hadoop.fs.Path(s"$dir/_change_data/cdc-1.parquet")))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    writeCommit(dir, fs, 1, Seq(
      """{"remove":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"a2.parquet","dataChange":true}}""",
      """{"cdc":{"path":"_change_data/cdc-1.parquet","dataChange":false}}"""))
    // commit 2: plain delete of a2 (derived)
    writeCommit(dir, fs, 2, Seq(
      """{"remove":{"path":"a2.parquet","dataChange":true}}"""))
    val feed = DeltaCompat.readChangeFeed(spark, dir, -1L, 2L)
      .select(col("_commit_version"), col("_change_type"), col("id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(feed == Set(
      (0L, "insert", 1L, "a"), (0L, "insert", 2L, "b"),
      (1L, "update_preimage", 2L, "b"), (1L, "update_postimage", 2L, "B"),
      (2L, "delete", 1L, "a"), (2L, "delete", 2L, "B")), s"got $feed")
    // a DV commit without cdc refuses (its delta is not whole-file)
    val d = DeletionVectors.inlineDescriptor(Array(0L))
    writeCommit(dir, fs, 3, Seq(
      s"""{"add":{"path":"a2.parquet","dataChange":true,"deletionVector":${dvJson(d)}}}"""))
    val e = intercept[Exception] { DeltaCompat.readChangeFeed(spark, dir, 2L, 3L) }
    assert(e.getMessage.contains("cdc"))
    // a vacuumed removed file refuses delete derivation by name
    // (a2's remove in commit 2 is the DERIVED one — commit 1's remove
    // is superseded by its explicit cdc actions)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/a2.parquet"), false)
    val e2 = intercept[Exception] { DeltaCompat.readChangeFeed(spark, dir, 1L, 2L) }
    assert(e2.getMessage.contains("vacuumed"))
  }

  test("mergeInto rewrites only matched files, emits cdc, refuses ambiguity") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    writePart(dir, fs, "b.parquet", Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    // update id=2 (lives in a.parquet), insert id=9 — b.parquet untouched
    val v1 = DeltaCompat.mergeInto(spark, dir,
      Seq((2L, "B!"), (9L, "new")).toDF("id", "v"), Seq("id"))
    assert(v1 == 1L)
    val got = DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B!"), (3L, "c"), (4L, "d"), (9L, "new")),
      s"merge must replace matched keys and insert the rest, got $got")
    // b.parquet was not rewritten
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/b.parquet")))
    val live = DeltaCompat.liveFiles(spark, dir).map(
      p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(live.contains("b.parquet") && !live.contains("a.parquet"),
      s"only the matched file may rotate out of the live set, got $live")
    // the merge's row-level delta flows through the change feed
    val feed = DeltaCompat.readChangeFeed(spark, dir, 0L, 1L)
      .select(col("_change_type"), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set(
      ("update_preimage", 2L, "b"), ("update_postimage", 2L, "B!"),
      ("insert", 9L, "new")), s"got $feed")
    // duplicate source keys refuse
    val e = intercept[IllegalArgumentException] {
      DeltaCompat.mergeInto(spark, dir,
        Seq((1L, "x"), (1L, "y")).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    // a merge into a DV'd file materializes the mask in the rewrite
    assert(DeltaCompat.deleteWhere(spark, dir, col("id") === 3L) == 2L)
    val v3 = DeltaCompat.mergeInto(spark, dir,
      Seq((4L, "D!")).toDF("id", "v"), Seq("id"))
    assert(v3 == 3L)
    val after = DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(after == Set((1L, "a"), (2L, "B!"), (4L, "D!"), (9L, "new")),
      s"deleted id=3 must stay deleted through the rewrite, got $after")
    // the rewritten file carries no DV descriptor anymore
    assert(DeltaCompat.liveFilesWithDv(spark, dir).forall(_._2.isEmpty),
      "merge must materialize the mask of files it rewrites")
  }

  test("materializeDeletes rewrites DV'd files clean, invisible to the change feed") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", (0L until 8L).map(i => (i, s"v$i")).toDF("id", "v"))
    writePart(dir, fs, "b.parquet", (8L until 12L).map(i => (i, s"v$i")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    assert(DeltaCompat.deleteWhere(spark, dir, col("id") % 3L === 0L) == 1L)
    val v2 = DeltaCompat.materializeDeletes(spark, dir)
    assert(v2 == 2L)
    // both files carried masks (0,3,6 and 9) — both rewritten clean
    assert(DeltaCompat.liveFilesWithDv(spark, dir).forall(_._2.isEmpty),
      "no live DV may remain after materialization")
    assert(DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L, 11L))
    // time travel still sees the DV'd state and the original
    assert(DeltaCompat.readDeltaTable(spark, dir, asOf = Some(1L)).count() == 8)
    assert(DeltaCompat.readDeltaTable(spark, dir, asOf = Some(0L)).count() == 12)
    // dataChange=false: the feed over the materialize window is empty
    val e = intercept[IllegalArgumentException] {
      DeltaCompat.readChangeFeed(spark, dir, 1L, 2L)
    }
    assert(e.getMessage.contains("no data-changing commits"))
    // …while the delete window still reports its cdc rows
    val feed = DeltaCompat.readChangeFeed(spark, dir, 0L, 1L)
      .select(col("_change_type"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(feed == Set(("delete", 0L), ("delete", 3L), ("delete", 6L),
      ("delete", 9L)), s"got $feed")
    // idempotent: nothing left to materialize
    assert(DeltaCompat.materializeDeletes(spark, dir) == 2L)
  }

  test("vacuum deletes only files no kept version references") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", (0L until 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    assert(DeltaCompat.deleteWhere(spark, dir, col("id") < 2L) == 1L)
    assert(DeltaCompat.materializeDeletes(spark, dir) == 2L)
    def names(sub: String = ""): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir + sub)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filterNot(_.isDirectory).map(_.getPath.getName).toSet
    }
    assert(names().exists(_.startsWith("deletion_vector_")), "sidecar present")
    // keepFrom=0 keeps everything
    assert(DeltaCompat.vacuum(spark, dir, 0L).isEmpty)
    // keepFrom=2: a.parquet (replaced) + its sidecar + commit 1's cdc go
    val gone = DeltaCompat.vacuum(spark, dir, 2L)
    assert(gone.exists(_.endsWith("a.parquet")), s"got $gone")
    assert(gone.exists(_.contains("deletion_vector_")), s"got $gone")
    assert(gone.exists(_.startsWith("_change_data/")), s"got $gone")
    assert(!names().contains("a.parquet") &&
      !names().exists(_.startsWith("deletion_vector_")))
    // the kept state still reads fine; pre-keepFrom history refuses
    assert(DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L))
    assert(DeltaCompat.readDeltaTable(spark, dir, asOf = Some(2L)).count() == 4)
    intercept[Exception] {
      DeltaCompat.readDeltaTable(spark, dir, asOf = Some(0L)).count()
    }
    // out-of-range keepFrom refuses
    val e = intercept[IllegalArgumentException] {
      DeltaCompat.vacuum(spark, dir, 99L)
    }
    assert(e.getMessage.contains("version range"))
  }

  test("restore rolls back as a new commit; history stays; vacuumed target refuses") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", (0L until 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    assert(DeltaCompat.deleteWhere(spark, dir, col("id") < 2L) == 1L) // v1: DV
    assert(DeltaCompat.mergeInto(spark, dir,
      Seq((5L, "V5")).toDF("id", "v"), Seq("id")) == 2L) // v2: rewrite
    // restore to v1: the DV'd original comes back, the rewrite drops
    assert(DeltaCompat.restore(spark, dir, 1L) == 3L)
    val got = DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(got == (2L until 6L).map(i => (i, s"v$i")).toSet,
      s"restored state must equal v1 (DV mask included), got $got")
    // history intact: the rewritten v2 state still time-travels
    assert(DeltaCompat.readDeltaTable(spark, dir, asOf = Some(2L))
      .as[(Long, String)].collect().toMap.apply(5L) == "V5")
    // restore to v0 undoes the delete too
    assert(DeltaCompat.restore(spark, dir, 0L) == 4L)
    assert(DeltaCompat.readDeltaTable(spark, dir).count() == 6)
    // an already-current target refuses
    val e0 = intercept[IllegalArgumentException] {
      DeltaCompat.restore(spark, dir, 0L)
    }
    assert(e0.getMessage.contains("nothing to restore"))
    // a vacuumed target refuses by name
    assert(DeltaCompat.restore(spark, dir, 2L) == 5L)
    DeltaCompat.vacuum(spark, dir, 5L)
    val e = intercept[IllegalArgumentException] {
      DeltaCompat.restore(spark, dir, 0L)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("addedBetween refuses windows that attach deletion vectors") {
    val (dir, fs) = mkTable()
    writePart(dir, fs, "a.parquet", Seq((1L, "x")).toDF("id", "v"))
    writeCommit(dir, fs, 0, Seq(
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    val d = DeletionVectors.inlineDescriptor(Array(0L))
    writeCommit(dir, fs, 1, Seq(
      s"""{"add":{"path":"a.parquet","dataChange":true,"deletionVector":${dvJson(d)}}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaCompat.addedBetween(spark, dir, 0L, 1L)
    }
    assert(e.getMessage.contains("deletion vectors"))
  }
}
