package graft

import graft.sources.IcebergCompat
import graft.sources.IcebergCompat.Entry

/** Edge pins for the Iceberg compat reader: snapshot resolution through
  * version-hint → metadata JSON → manifest list → manifests, DELETED
  * entry handling, EXISTING carry-over, v2 position/equality delete
  * application with the spec's sequence rules, and loud refusals for
  * v3 / non-parquet / non-Iceberg dirs. */
class IcebergCompatSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): String =
    java.nio.file.Files.createTempDirectory("graft-iceberg").toString

  private def writeFile(dir: String, name: String,
      df: org.apache.spark.sql.DataFrame): Long = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir/.tmp-$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/data/$name")))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    df.count()
  }

  private def writeData(dir: String, name: String, rows: Seq[(Long, String)]): Long =
    writeFile(dir, name, rows.toDF("id", "v"))

  test("snapshot chain: added, existing-carry-over, deleted; hint picks current") {
    val dir = mkTable()
    val na = writeData(dir, "a.parquet", Seq((1L, "a")))
    val nb = writeData(dir, "b.parquet", Seq((2L, "b"), (3L, "b")))
    val nc = writeData(dir, "c.parquet", Seq((4L, "c")))
    // snapshot 1: adds a + b
    val m1 = IcebergCompat.writeManifest(spark, dir, "m1.avro",
      Seq((1, "data/a.parquet", na), (1, "data/b.parquet", nb)))
    val ml1 = IcebergCompat.writeManifestList(spark, dir, "ml1.avro", Seq(m1))
    IcebergCompat.writeMetadata(spark, dir, 1, Seq((101L, ml1)))
    assert(IcebergCompat.readIcebergTable(spark, dir).count() == 3)
    // snapshot 2 (overwrite): a DELETED, b EXISTING, c ADDED
    val m2 = IcebergCompat.writeManifest(spark, dir, "m2.avro",
      Seq((2, "data/a.parquet", na), (0, "data/b.parquet", nb),
        (1, "data/c.parquet", nc)))
    val ml2 = IcebergCompat.writeManifestList(spark, dir, "ml2.avro", Seq(m2))
    IcebergCompat.writeMetadata(spark, dir, 2, Seq((101L, ml1), (102L, ml2)))
    val got = IcebergCompat.readIcebergTable(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(got == Set((2L, "b"), (3L, "b"), (4L, "c")),
      s"deleted entry must drop, existing must carry, got $got")
    // TIME TRAVEL: snapshot 101 is addressable by id from the current
    // metadata file — no hint rewrite needed
    assert(IcebergCompat.readIcebergTable(spark, dir, snapshotId = Some(101L))
      .count() == 3)
    // the hint can only lag: one hinted back at v1 still resolves v2,
    // and so does an unparsable one
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (text <- Seq("1", "not a version")) {
      val hint = fs.create(new org.apache.hadoop.fs.Path(
        s"$dir/metadata/version-hint.text"), true)
      try hint.write(text.getBytes("UTF-8")) finally hint.close()
      assert(IcebergCompat.currentMetadataFile(spark, dir).getName == "v2.metadata.json")
      assert(IcebergCompat.readIcebergTable(spark, dir).as[(Long, String)].collect().toSet == got)
    }
  }

  test("addedBetween: append-only windows replay; overwrites and new deletes refuse") {
    val dir = mkTable()
    val na = writeData(dir, "a.parquet", Seq((1L, "a")))
    val nb = writeData(dir, "b.parquet", Seq((2L, "b")))
    val nc = writeData(dir, "c.parquet", Seq((3L, "c")))
    val m1 = IcebergCompat.writeManifest(spark, dir, "m1.avro",
      Seq((1, "data/a.parquet", na)))
    val ml1 = IcebergCompat.writeManifestList(spark, dir, "ml1.avro", Seq(m1))
    val m2 = IcebergCompat.writeManifest(spark, dir, "m2.avro",
      Seq((0, "data/a.parquet", na), (1, "data/b.parquet", nb),
        (1, "data/c.parquet", nc)))
    val ml2 = IcebergCompat.writeManifestList(spark, dir, "ml2.avro", Seq(m2))
    IcebergCompat.writeMetadata(spark, dir, 1, Seq((101L, ml1), (102L, ml2)))
    assert(IcebergCompat.readAddedBetween(spark, dir, 101L, 102L)
      .as[(Long, String)].collect().toSet == Set((2L, "b"), (3L, "c")))
    // snapshot 3 drops a.parquet: the (101 -> 103] window refuses
    val m3 = IcebergCompat.writeManifest(spark, dir, "m3.avro",
      Seq((2, "data/a.parquet", na), (0, "data/b.parquet", nb),
        (0, "data/c.parquet", nc)))
    val ml3 = IcebergCompat.writeManifestList(spark, dir, "ml3.avro", Seq(m3))
    IcebergCompat.writeMetadata(spark, dir, 2,
      Seq((101L, ml1), (102L, ml2), (103L, ml3)))
    val e = intercept[IllegalArgumentException] {
      IcebergCompat.addedBetween(spark, dir, 101L, 103L)
    }
    assert(e.getMessage.contains("append-only"))
    // a window that introduces an equality-delete file refuses too
    writeFile(dir, "ed.parquet", Seq(Tuple1(1L)).toDF("id"))
    val m4 = IcebergCompat.writeManifestEntries(spark, dir, "m4.avro", Seq(
      Entry(0, "data/a.parquet", na, content = 0, seq = 1L),
      Entry(1, "data/ed.parquet", 1L, content = 2, seq = 2L, equalityIds = Seq(1))))
    val ml4 = IcebergCompat.writeManifestList(spark, dir, "ml4.avro", Seq(m4))
    IcebergCompat.writeMetadata(spark, dir, 3,
      Seq((101L, ml1), (104L, ml4)), schemaFields = Seq((1, "id")))
    val e2 = intercept[IllegalArgumentException] {
      IcebergCompat.addedBetween(spark, dir, 101L, 104L)
    }
    assert(e2.getMessage.contains("delete-file set"))
  }

  test("position deletes drop exactly the addressed rows, sequence-scoped") {
    val dir = mkTable()
    val na = writeData(dir, "a.parquet",
      Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w")))
    // position delete: rows 1 and 3 (0-based) of a.parquet
    val target = s"$dir/data/a.parquet"
    writeFile(dir, "pd.parquet",
      Seq((target, 1L), (target, 3L)).toDF("file_path", "pos"))
    val m = IcebergCompat.writeManifestEntries(spark, dir, "m1.avro", Seq(
      Entry(1, "data/a.parquet", na, content = 0, seq = 1L),
      Entry(1, "data/pd.parquet", 2L, content = 1, seq = 2L)))
    val ml = IcebergCompat.writeManifestList(spark, dir, "ml1.avro", Seq(m))
    IcebergCompat.writeMetadata(spark, dir, 1, Seq((101L, ml)))
    val got = IcebergCompat.readIcebergTable(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "x"), (3L, "z")),
      s"positions 1 and 3 must drop, got $got")
    // a position delete with seq BELOW the data file's does not apply
    val m2 = IcebergCompat.writeManifestEntries(spark, dir, "m2.avro", Seq(
      Entry(1, "data/a.parquet", na, content = 0, seq = 5L),
      Entry(1, "data/pd.parquet", 2L, content = 1, seq = 2L)))
    val ml2 = IcebergCompat.writeManifestList(spark, dir, "ml2.avro", Seq(m2))
    IcebergCompat.writeMetadata(spark, dir, 2, Seq((102L, ml2)))
    assert(IcebergCompat.readIcebergTable(spark, dir).count() == 4,
      "an older position delete must not touch a newer data file")
  }

  test("equality deletes honor the strict sequence rule: re-inserts survive") {
    val dir = mkTable()
    val na = writeData(dir, "a.parquet", Seq((1L, "old"), (2L, "old")))
    val nr = writeData(dir, "b.parquet", Seq((1L, "reinserted")))
    // equality delete on id=1 at seq 2: kills the seq-1 row, NOT the
    // seq-3 re-insert
    writeFile(dir, "ed.parquet", Seq(Tuple1(1L)).toDF("id"))
    val m = IcebergCompat.writeManifestEntries(spark, dir, "m1.avro", Seq(
      Entry(1, "data/a.parquet", na, content = 0, seq = 1L),
      Entry(1, "data/ed.parquet", 1L, content = 2, seq = 2L, equalityIds = Seq(1)),
      Entry(1, "data/b.parquet", nr, content = 0, seq = 3L)))
    val ml = IcebergCompat.writeManifestList(spark, dir, "ml1.avro", Seq(m))
    IcebergCompat.writeMetadata(spark, dir, 1, Seq((101L, ml)),
      schemaFields = Seq((1, "id"), (2, "v")))
    val got = IcebergCompat.readIcebergTable(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "reinserted"), (2L, "old")),
      s"seq-1 id=1 dies, seq-3 re-insert survives, got $got")
  }

  test("v4 and non-Iceberg dirs refuse loudly; unknown equality ids refuse") {
    val dir = mkTable()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/metadata"))
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/metadata/v1.metadata.json"), true)
    try out.write(
      """{"format-version":4,"current-snapshot-id":101,"snapshots":[]}"""
        .getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalArgumentException] { IcebergCompat.liveFiles(spark, dir) }
    assert(e.getMessage.contains("format-version"))
    val e2 = intercept[IllegalArgumentException] {
      IcebergCompat.liveFiles(spark, mkTable())
    }
    assert(e2.getMessage.contains("metadata"))
    // equality ids that resolve to no schema field refuse
    val dir3 = mkTable()
    val na = writeData(dir3, "a.parquet", Seq((1L, "a")))
    writeFile(dir3, "ed.parquet", Seq(Tuple1(1L)).toDF("id"))
    val m = IcebergCompat.writeManifestEntries(spark, dir3, "m1.avro", Seq(
      Entry(1, "data/a.parquet", na, content = 0, seq = 1L),
      Entry(1, "data/ed.parquet", 1L, content = 2, seq = 2L, equalityIds = Seq(9))))
    val ml = IcebergCompat.writeManifestList(spark, dir3, "ml1.avro", Seq(m))
    IcebergCompat.writeMetadata(spark, dir3, 1, Seq((101L, ml)),
      schemaFields = Seq((1, "id")))
    val e3 = intercept[IllegalArgumentException] {
      IcebergCompat.readIcebergTable(spark, dir3)
    }
    assert(e3.getMessage.contains("equality field id"))
  }

  test("createIcebergTable + appendSnapshot: snapshots chain, types declared, old ids time-travel") {
    val dir = mkTable()
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(IcebergCompat.createIcebergTable(df1, dir) == 1L)
    assert(IcebergCompat.readIcebergTable(spark, dir)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // the declared schema carries REAL types, not a long-only stub
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = {
      val in = fs.open(new org.apache.hadoop.fs.Path(
        s"$dir/metadata/v1.metadata.json"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(meta.contains(""""name":"v","required":false,"type":"string""""),
      s"schema must declare v as string, got $meta")
    val id2 = IcebergCompat.appendSnapshot(Seq((3L, "c")).toDF("id", "v"), dir)
    assert(id2 == 2L)
    assert(IcebergCompat.readIcebergTable(spark, dir).count() == 3)
    // the first snapshot still time-travels
    assert(IcebergCompat.readIcebergTable(spark, dir, snapshotId = Some(1L))
      .count() == 2)
    // incremental pull between the two snapshots sees only the append
    assert(IcebergCompat.readAddedBetween(spark, dir, 1L, 2L)
      .as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    // schema drift refuses
    val e = intercept[IllegalArgumentException] {
      IcebergCompat.appendSnapshot(Seq((9L, 1.5)).toDF("id", "other"), dir)
    }
    assert(e.getMessage.contains("schema"))
    // manifests carry true record counts
    val counts = IcebergCompat.manifestRecordCounts(spark,
      s"$dir/metadata/m-app-2.avro")
    assert(counts == Seq(1L), s"got $counts")
  }

  test("expireSnapshots deletes only expired-only footprint; current must be kept") {
    val dir = mkTable()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val na = writeData(dir, "a.parquet", Seq((1L, "a")))
    val nb = writeData(dir, "b.parquet", Seq((2L, "b")))
    val nc = writeData(dir, "c.parquet", Seq((3L, "c")))
    // snap 101: a+b; snap 102 (overwrite): a DELETED, b EXISTING, c ADDED
    val m1 = IcebergCompat.writeManifest(spark, dir, "m1.avro",
      Seq((1, "data/a.parquet", na), (1, "data/b.parquet", nb)))
    val ml1 = IcebergCompat.writeManifestList(spark, dir, "ml1.avro", Seq(m1))
    val m2 = IcebergCompat.writeManifest(spark, dir, "m2.avro",
      Seq((2, "data/a.parquet", na), (0, "data/b.parquet", nb),
        (1, "data/c.parquet", nc)))
    val ml2 = IcebergCompat.writeManifestList(spark, dir, "ml2.avro", Seq(m2))
    IcebergCompat.writeMetadata(spark, dir, 2, Seq((101L, ml1), (102L, ml2)))
    // expiring the current snapshot refuses
    val e = intercept[IllegalArgumentException] {
      IcebergCompat.expireSnapshots(spark, dir, Seq(101L))
    }
    assert(e.getMessage.contains("current"))
    // unknown kept ids refuse
    val e2 = intercept[IllegalArgumentException] {
      IcebergCompat.expireSnapshots(spark, dir, Seq(102L, 999L))
    }
    assert(e2.getMessage.contains("do not exist"))
    val gone = IcebergCompat.expireSnapshots(spark, dir, Seq(102L))
    // a.parquet is referenced ONLY by 101 (102 lists it DELETED, which
    // is not a reference); b/c stay — shared or current-only
    assert(gone.exists(_.endsWith("data/a.parquet")), s"got $gone")
    assert(gone.exists(_.endsWith("ml1.avro")) && gone.exists(_.endsWith("m1.avro")),
      s"expired metadata chain must go, got $gone")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/a.parquet")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/b.parquet")))
    // the current snapshot still reads; the expired id refuses
    assert(IcebergCompat.readIcebergTable(spark, dir)
      .as[(Long, String)].collect().toSet == Set((2L, "b"), (3L, "c")))
    intercept[IllegalArgumentException] {
      IcebergCompat.readIcebergTable(spark, dir, snapshotId = Some(101L)).count()
    }
    // idempotent: nothing left to expire
    assert(IcebergCompat.expireSnapshots(spark, dir, Seq(102L)).isEmpty)
  }

  test("puffin DV blobs round-trip: footer listing, CRC, corrupt refusal") {
    val dir = mkTable()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/dv.puffin")
    val blobs = graft.sources.Puffin.writeDvFile(fs, p, Seq(
      "data/a.parquet" -> Array(0L, 5L, 7L, 100000L),
      "data/b.parquet" -> (0L until 5000L).toArray)) // bitmap container
    assert(blobs.map(_.referencedDataFile) ==
      Seq("data/a.parquet", "data/b.parquet"))
    assert(blobs.map(_.cardinality) == Seq(4L, 5000L))
    // the footer lists the same coordinates the writer returned
    assert(graft.sources.Puffin.listDvBlobs(fs, p) == blobs)
    // each blob reads back its exact positions
    assert(graft.sources.Puffin
      .readDvBlob(fs, p, blobs(0).offset, blobs(0).length).toSeq ==
      Seq(0L, 5L, 7L, 100000L))
    assert(graft.sources.Puffin
      .readDvBlob(fs, p, blobs(1).offset, blobs(1).length).length == 5000)
    // a flipped byte inside a blob fails its CRC
    val bytes = {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
    bytes(blobs(0).offset.toInt + 6) = (bytes(blobs(0).offset.toInt + 6) ^ 1).toByte
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
    val e = intercept[Exception] {
      graft.sources.Puffin.readDvBlob(fs, p, blobs(0).offset, blobs(0).length)
    }
    assert(e.getMessage.contains("checksum") || e.getMessage.contains("magic"))
    // one DV per data file, enforced at write time
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.Puffin.writeDvFile(fs,
        new org.apache.hadoop.fs.Path(s"$dir/dv2.puffin"),
        Seq("x" -> Array(1L), "x" -> Array(2L)))
    }
    assert(e2.getMessage.contains("one deletion vector"))
  }

  test("v3 deletion vectors apply, supersede position-delete files, time-scope by seq") {
    val dir = mkTable()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one data file, physical order pinned by the write
    val na = writeData(dir, "a.parquet",
      (0L until 10L).map(i => (i, s"v$i")))
    // a position-delete FILE targets rows 0 and 2 — row 2 deliberately
    // NOT in the DV, so supersession is observable in the values
    writeFile(dir, "pd.parquet",
      Seq((s"$dir/data/a.parquet", 0L), (s"$dir/data/a.parquet", 2L))
        .toDF("file_path", "pos"))
    // … and the DV deletes 0,1,4
    val dv = graft.sources.Puffin.writeDvFile(fs,
      new org.apache.hadoop.fs.Path(s"$dir/data/dv.puffin"),
      Seq(s"$dir/data/a.parquet" -> Array(0L, 1L, 4L))).head
    val m = IcebergCompat.writeManifestEntries(spark, dir, "m1.avro", Seq(
      Entry(1, "data/a.parquet", na, content = 0, seq = 1L),
      Entry(1, "data/pd.parquet", 2L, content = 1, seq = 2L),
      Entry(1, "data/dv.puffin", 3L, content = 1, seq = 2L,
        format = "PUFFIN", referencedDataFile = Some(s"$dir/data/a.parquet"),
        contentOffset = Some(dv.offset), contentSize = Some(dv.length))))
    val ml = IcebergCompat.writeManifestList(spark, dir, "ml1.avro", Seq(m))
    IcebergCompat.writeMetadata(spark, dir, 1, Seq((101L, ml)),
      schemaFields = Seq((1, "id"), (2, "v")), formatVersion = 3)
    val got = IcebergCompat.readIcebergTable(spark, dir)
      .as[(Long, String)].collect().map(_._1).sorted.toSeq
    assert(got == Seq(2L, 3L, 5L, 6L, 7L, 8L, 9L),
      s"only the DV's 0,1,4 may drop — the position-delete file for a " +
        s"DV'd data file is superseded (row 2 must survive), got $got")
    // a DV with seq < dataSeq does not mask the (newer) data file
    val m2 = IcebergCompat.writeManifestEntries(spark, dir, "m2.avro", Seq(
      Entry(1, "data/a.parquet", na, content = 0, seq = 5L),
      Entry(1, "data/dv.puffin", 3L, content = 1, seq = 2L,
        format = "PUFFIN", referencedDataFile = Some(s"$dir/data/a.parquet"),
        contentOffset = Some(dv.offset), contentSize = Some(dv.length))))
    val ml2 = IcebergCompat.writeManifestList(spark, dir, "ml2.avro", Seq(m2))
    IcebergCompat.writeMetadata(spark, dir, 2,
      Seq((101L, ml), (102L, ml2)),
      schemaFields = Seq((1, "id"), (2, "v")), formatVersion = 3)
    assert(IcebergCompat.readIcebergTable(spark, dir).count() == 10,
      "an older-sequence DV must not mask a newer data file")
    // two DVs for one data file refuse at read
    val m3 = IcebergCompat.writeManifestEntries(spark, dir, "m3.avro", Seq(
      Entry(1, "data/a.parquet", na, content = 0, seq = 1L),
      Entry(1, "data/dv.puffin", 3L, content = 1, seq = 2L,
        format = "PUFFIN", referencedDataFile = Some(s"$dir/data/a.parquet"),
        contentOffset = Some(dv.offset), contentSize = Some(dv.length)),
      Entry(1, "data/dv.puffin", 3L, content = 1, seq = 3L,
        format = "PUFFIN", referencedDataFile = Some(s"$dir/data/a.parquet"),
        contentOffset = Some(dv.offset), contentSize = Some(dv.length))))
    val ml3 = IcebergCompat.writeManifestList(spark, dir, "ml3.avro", Seq(m3))
    IcebergCompat.writeMetadata(spark, dir, 3,
      Seq((101L, ml), (103L, ml3)),
      schemaFields = Seq((1, "id"), (2, "v")), formatVersion = 3)
    val e = intercept[IllegalArgumentException] {
      IcebergCompat.readIcebergTable(spark, dir)
    }
    assert(e.getMessage.contains("at most one DV"))
  }

  test("an Iceberg append whose metadata commit fails in close publishes nothing; a retry lands") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[FailingFs].getName)
    val dir = "failfs://" + mkTable()
    assert(IcebergCompat.createIcebergTable(Seq((1L, "a")).toDF("id", "v"), dir) == 1L)
    val more = Seq((2L, "b")).toDF("id", "v")
    val e = FailingFs.failingOnClose(_.contains(".metadata.json")) {
      intercept[Exception](IcebergCompat.appendSnapshot(more, dir))
    }
    assert(FailingFs.injected(e), s"got $e")
    assert(IcebergCompat.snapshotIds(spark, dir) == Seq(1L))
    assert(IcebergCompat.appendSnapshot(more, dir) == 2L)
    assert(IcebergCompat.readIcebergTable(spark, dir).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
  }

  test("a failed version-hint write does not fail an Iceberg append; the next one lands at N+1") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[FailingFs].getName)
    val dir = "failfs://" + mkTable()
    assert(IcebergCompat.createIcebergTable(Seq((1L, "a")).toDF("id", "v"), dir) == 1L)
    def rows = IcebergCompat.readIcebergTable(spark, dir).as[(Long, String)].collect().toSet
    // the hint's bytes land and its close fails
    assert(FailingFs.failingOnClose(_.endsWith("version-hint.text")) {
      IcebergCompat.appendSnapshot(Seq((2L, "b")).toDF("id", "v"), dir)
    } == 2L)
    assert(rows == Set((1L, "a"), (2L, "b")))
    // the hint's create fails, so it stays a version behind
    assert(FailingFs.failingOn(_.endsWith("version-hint.text")) {
      IcebergCompat.appendSnapshot(Seq((3L, "c")).toDF("id", "v"), dir)
    } == 3L)
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(IcebergCompat.appendSnapshot(Seq((4L, "d")).toDF("id", "v"), dir) == 4L)
    assert(IcebergCompat.snapshotIds(spark, dir) == Seq(1L, 2L, 3L, 4L))
    assert(IcebergCompat.currentMetadataFile(spark, dir).getName == "v4.metadata.json")
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }
}
