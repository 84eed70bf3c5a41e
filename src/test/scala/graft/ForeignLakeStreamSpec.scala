package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{HudiCompat, IcebergCompat, SnapshotTable}

/** Edge pins for the foreign-lake micro-batch source: offset ladders
  * per format, checkpointed resume pulling exactly the delta, head
  * pinning under AvailableNow, and loud refusals (rewrite windows,
  * nested schemas, unknown formats). */
class ForeignLakeStreamSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(tag: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-fls-$tag").toString
    (dir, new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration))
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

  /** Drain one AvailableNow run of the source into `dst`. */
  private def drainOnce(format: String, src: String, dst: String,
      ckpt: String): Unit = {
    val q = spark.readStream.format("foreign-lake")
      .option("format", format).option("path", src)
      .load()
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) { SnapshotTable.append(batch, dst); () }
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  test("delta: checkpointed resume pulls exactly the new commits") {
    val (src, fs) = mkDir("delta")
    val dst = src + "-dst"
    val ckpt = src + "-ckpt"
    writePart(src, fs, "a.parquet", Seq((1L, "a"), (2L, "b")))
    writeCommit(src, fs, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    drainOnce("delta", src, dst, ckpt)
    assert(SnapshotTable.read(spark, dst).count() == 2)
    // the foreign table advances two commits; a resumed run pulls ONLY
    // the delta, from the checkpointed foreign version
    writePart(src, fs, "b.parquet", Seq((3L, "c")))
    writeCommit(src, fs, 1, Seq("""{"add":{"path":"b.parquet","dataChange":true}}"""))
    writePart(src, fs, "c.parquet", Seq((4L, "d"), (5L, "e")))
    writeCommit(src, fs, 2, Seq("""{"add":{"path":"c.parquet","dataChange":true}}"""))
    drainOnce("delta", src, dst, ckpt)
    val snaps = SnapshotTable.snapshots(spark, dst)
    assert(snaps.size == 2, s"resume must append exactly one micro-batch, got $snaps")
    assert(SnapshotTable.read(spark, dst).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // nothing new: a third run appends nothing
    drainOnce("delta", src, dst, ckpt)
    assert(SnapshotTable.snapshots(spark, dst).size == 2)
  }

  test("delta: a rewrite window refuses loudly instead of double-counting") {
    val (src, fs) = mkDir("delta-rw")
    writePart(src, fs, "a.parquet", Seq((1L, "a")))
    writeCommit(src, fs, 0, Seq("""{"add":{"path":"a.parquet","dataChange":true}}"""))
    val dst = src + "-dst"
    drainOnce("delta", src, dst, src + "-ckpt")
    // commit 1 REWRITES a.parquet
    writePart(src, fs, "a2.parquet", Seq((1L, "a2")))
    writeCommit(src, fs, 1, Seq(
      """{"remove":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"a2.parquet","dataChange":true}}"""))
    val e = intercept[Exception] { drainOnce("delta", src, dst, src + "-ckpt") }
    assert(e.toString.contains("append-only") ||
      Option(e.getCause).exists(_.toString.contains("append-only")), s"got $e")
  }

  test("hudi: instant-laddered offsets resume across new file groups") {
    val (src, _) = mkDir("hudi")
    val dst = src + "-dst"; val ckpt = src + "-ckpt"
    HudiCompat.beginCommit(spark, src, "001")
    HudiCompat.writeBaseFile(Seq((1L, "a")).toDF("id", "v"), src, "p=a", "fgA", "001")
    HudiCompat.completeCommit(spark, src, "001")
    drainOnce("hudi", src, dst, ckpt)
    assert(SnapshotTable.read(spark, dst).count() == 1)
    HudiCompat.beginCommit(spark, src, "002")
    HudiCompat.writeBaseFile(Seq((2L, "b"), (3L, "c")).toDF("id", "v"),
      src, "p=b", "fgB", "002")
    HudiCompat.completeCommit(spark, src, "002")
    drainOnce("hudi", src, dst, ckpt)
    assert(SnapshotTable.read(spark, dst).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(SnapshotTable.snapshots(spark, dst).size == 2)
  }

  test("iceberg: snapshot-index offsets resume across appends") {
    val (src, _) = mkDir("iceberg")
    val dst = src + "-dst"; val ckpt = src + "-ckpt"
    // snapshot 101: one data file; snapshot 102: it + one more
    val f1 = "d1.parquet"; val f2 = "d2.parquet"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    writePart(src, fs, f1, Seq((1L, "a")))
    writePart(src, fs, f2, Seq((2L, "b")))
    val m1 = IcebergCompat.writeManifest(spark, src, "m1.avro", Seq((1, f1, 1L)))
    val ml1 = IcebergCompat.writeManifestList(spark, src, "ml1.avro", Seq(m1))
    IcebergCompat.writeMetadata(spark, src, 1, Seq((101L, ml1)))
    drainOnce("iceberg", src, dst, ckpt)
    assert(SnapshotTable.read(spark, dst).count() == 1)
    val m2 = IcebergCompat.writeManifest(spark, src, "m2.avro",
      Seq((0, f1, 1L), (1, f2, 1L)))
    val ml2 = IcebergCompat.writeManifestList(spark, src, "ml2.avro", Seq(m2))
    IcebergCompat.writeMetadata(spark, src, 2, Seq((101L, ml1), (102L, ml2)))
    drainOnce("iceberg", src, dst, ckpt)
    assert(SnapshotTable.read(spark, dst).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(SnapshotTable.snapshots(spark, dst).size == 2)
  }

  test("cdf mode: change rows stream with types and versions; non-delta refuses") {
    val (src, fs) = mkDir("cdf")
    writePart(src, fs, "a.parquet", Seq((1L, "a"), (2L, "b")))
    writePart(src, fs, "b.parquet", Seq((3L, "c")))
    writeCommit(src, fs, 0, Seq(
      """{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
      """{"add":{"path":"a.parquet","dataChange":true}}"""))
    // commit 1: delete a, append b — schema inference keeps a live file
    writeCommit(src, fs, 1, Seq(
      """{"remove":{"path":"a.parquet","dataChange":true}}""",
      """{"add":{"path":"b.parquet","dataChange":true}}"""))
    val dst = s"$src-dst"
    val q = spark.readStream.format("foreign-lake")
      .option("format", "delta").option("path", src).option("mode", "cdf")
      .load()
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) { SnapshotTable.append(batch, dst); () }
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$src-ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = SnapshotTable.read(spark, dst)
      .select(col("_commit_version"), col("_change_type"), col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((0L, "insert", 1L), (0L, "insert", 2L),
      (1L, "delete", 1L), (1L, "delete", 2L), (1L, "insert", 3L)), s"got $got")
    // cdf over hudi refuses at definition
    val e = intercept[Exception] {
      spark.readStream.format("foreign-lake")
        .option("format", "hudi").option("path", src).option("mode", "cdf")
        .load()
    }
    assert(e.getMessage.contains("cdf"))
  }

  test("unknown formats and nested schemas refuse at stream definition") {
    val e = intercept[Exception] {
      spark.readStream.format("foreign-lake")
        .option("format", "paimon").option("path", "/nope").load()
    }
    assert(e.getMessage.contains("delta | hudi | iceberg") ||
      Option(e.getCause).exists(_.getMessage.contains("delta | hudi | iceberg")))
    val (src, fs) = mkDir("nested")
    val tmp = s"$src/.tmp-n"
    Seq((1L, (2L, "x"))).toDF("id", "s").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(s"$src/n.parquet")))
    writeCommit(src, fs, 0, Seq("""{"add":{"path":"n.parquet","dataChange":true}}"""))
    val e2 = intercept[Exception] {
      spark.readStream.format("foreign-lake")
        .option("format", "delta").option("path", src).load()
    }
    assert(e2.toString.contains("flat primitive") ||
      Option(e2.getCause).exists(_.toString.contains("flat primitive")))
  }
}
