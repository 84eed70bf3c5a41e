package graft

import org.apache.spark.sql.functions._

import graft.sources.DeltaCompat

/** Edge pins for PARTITIONED Delta tables: real tables partition, and
  * their files do NOT carry the partition columns — the reader must
  * restore them from each add's `partitionValues` with the declared
  * types. Covers: createDeltaTable round-trip (hive layout, null
  * partitions), branch-literal partition pruning (constant folding
  * kills pruned scans), the many-partition broadcast-join path,
  * deletion-vector composition, checkpoint + restore value carry, and
  * the loud writer/path-API refusals. */
class DeltaPartitionedSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(): String =
    java.nio.file.Files.createTempDirectory("graft-delta-part").toString

  test("createDeltaTable + readDeltaTable round-trip partition values and types") {
    val dir = mkDir()
    val df = Seq((1L, 10, "a"), (2L, 10, "b"), (3L, 20, "c"),
      (4L, 20, "d"), (5L, 30, "e")).toDF("id", "bucket", "v")
    assert(DeltaCompat.createDeltaTable(df, dir, Seq("bucket")) == 0L)
    val got = DeltaCompat.readDeltaTable(spark, dir)
    // declared order and TYPES restored (bucket is int, not string)
    assert(got.columns.toSeq == Seq("id", "bucket", "v"))
    assert(got.schema("bucket").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(got.as[(Long, Int, String)].collect().toSet ==
      Set((1L, 10, "a"), (2L, 10, "b"), (3L, 20, "c"), (4L, 20, "d"),
        (5L, 30, "e")))
    // the data files really do NOT carry the partition column
    val dataFile = new java.io.File(s"$dir/bucket=10").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(!spark.read.parquet(dataFile.toString).columns.contains("bucket"))
    // partition PRUNING: a filter on the partition column constant-folds
    // per union branch, leaving exactly one live scan
    val pruned = got.filter(col("bucket") === 20)
    val scans = pruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size == 1,
      s"filter on the partition column must prune to one scan branch, " +
        s"got ${scans.size}")
    assert(pruned.count() == 2)
  }

  test("null partition values round-trip as null, not as a string") {
    val dir = mkDir()
    val df = Seq((1L, Some("x"), "a"), (2L, None, "b"))
      .toDF("id", "part", "v")
    DeltaCompat.createDeltaTable(df, dir, Seq("part"))
    val got = DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, Option[String], String)].collect().toSet
    assert(got == Set((1L, Some("x"), "a"), (2L, None, "b")), s"got $got")
  }

  test("many-partition path (broadcast join) returns identical values") {
    val dir = mkDir()
    val df = (1L to 200L).map(i => (i, i % 100, s"v$i")).toDF("id", "p", "v")
    DeltaCompat.createDeltaTable(df, dir, Seq("p"))
    // 100 distinct tuples > 64 → the single-scan + broadcast-join path
    val got = DeltaCompat.readDeltaTable(spark, dir)
    assert(got.columns.toSeq == Seq("id", "p", "v"))
    assert(got.as[(Long, Long, String)].collect().toSet ==
      (1L to 200L).map(i => (i, i % 100, s"v$i")).toSet)
  }

  test("deletion vectors compose with partitioned reads; checkpoint and restore carry values") {
    val dir = mkDir()
    val df = (0L until 10L).map(i => (i, (i % 2).toInt, s"v$i"))
      .toDF("id", "m", "v")
    DeltaCompat.createDeltaTable(df, dir, Seq("m"))
    // hand-write a DV delete of one row of the m=0 file (deleteWhere
    // itself refuses partitioned tables)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f0 = DeltaCompat.liveFilesFull(spark, dir)
      .find(_.partitionValues("m").contains("0")).get
    // position 0 of the m=0 file
    val d = graft.sources.DeletionVectors.writeSidecar(fs, dir, Array(0L))
    val rel = f0.path.stripPrefix(dir).stripPrefix("/")
    val out = fs.create(new org.apache.hadoop.fs.Path(
      f"$dir/_delta_log/${1L}%020d.json"), false)
    try out.write((
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}\n""" +
      s"""{"add":{"path":"$rel","partitionValues":{"m":"0"},"dataChange":true,"deletionVector":{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset.get},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}}}\n""")
      .getBytes("UTF-8")) finally out.close()
    val afterDv = DeltaCompat.readDeltaTable(spark, dir)
    assert(afterDv.count() == 9, "one masked row must drop")
    assert(afterDv.filter(col("m") === 0).count() == 4)
    // checkpoint: partition values survive the parquet round-trip
    DeltaCompat.checkpoint(spark, dir)
    assert(DeltaCompat.readDeltaTable(spark, dir).count() == 9)
    assert(DeltaCompat.readDeltaTable(spark, dir)
      .filter(col("m") === 1).count() == 5)
    // restore to v0: the DV drops, partition values still there
    assert(DeltaCompat.restore(spark, dir, 0L) == 2L)
    val restored = DeltaCompat.readDeltaTable(spark, dir)
    assert(restored.count() == 10)
    assert(restored.filter(col("m") === 0).count() == 5)
  }

  test("appendToDeltaTable lands in the table layout and feeds the change feed") {
    val dir = mkDir()
    DeltaCompat.createDeltaTable(
      Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "m", "v"), dir, Seq("m"))
    val v1 = DeltaCompat.appendToDeltaTable(
      Seq((3L, 0, "c"), (4L, 2, "d")).toDF("id", "m", "v"), dir)
    assert(v1 == 1L)
    val got = DeltaCompat.readDeltaTable(spark, dir)
      .as[(Long, Int, String)].collect().toSet
    assert(got == Set((1L, 0, "a"), (2L, 1, "b"), (3L, 0, "c"), (4L, 2, "d")))
    // the appended files live under hive dirs with partitionValues
    assert(DeltaCompat.liveFilesFull(spark, dir)
      .filter(_.path.contains("m=2")).forall(
        _.partitionValues("m").contains("2")))
    // the append surfaces as derived inserts in the change feed, WITH
    // the partition column restored at its declared type
    val feedDf = DeltaCompat.readChangeFeed(spark, dir, 0L, 1L)
    assert(feedDf.schema("m").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val feed = feedDf.select(col("_change_type"), col("id"), col("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(feed == Set(("insert", 3L, 0), ("insert", 4L, 2)), s"got $feed")
    // a partition-pruned rewrite's deletes also carry their values:
    // hand-write a remove of the m=2 file
    val f2 = DeltaCompat.liveFilesFull(spark, dir)
      .find(_.partitionValues("m").contains("2")).get
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rel = f2.path.stripPrefix(dir).stripPrefix("/")
    val out = fs.create(new org.apache.hadoop.fs.Path(
      f"$dir/_delta_log/${2L}%020d.json"), false)
    try out.write(s"""{"remove":{"path":"$rel","dataChange":true}}\n"""
      .getBytes("UTF-8")) finally out.close()
    val del = DeltaCompat.readChangeFeed(spark, dir, 1L, 2L)
      .select(col("_change_type"), col("id"), col("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(del == Set(("delete", 4L, 2)),
      s"removed rows must carry their pre-commit partition values, got $del")
    // cdf STREAMING of a partitioned table refuses loudly
    val e0 = intercept[Exception] {
      spark.readStream.format("foreign-lake")
        .option("format", "delta").option("path", dir).option("mode", "cdf")
        .load()
    }
    assert(e0.getMessage.contains("PARTITIONED"))
    // schema drift refuses
    val e = intercept[IllegalArgumentException] {
      DeltaCompat.appendToDeltaTable(Seq((9L, "x")).toDF("id", "v"), dir)
    }
    assert(e.getMessage.contains("declared"))
  }

  test("readAddedBetween restores the partition column with its declared type") {
    val dir = mkDir()
    DeltaCompat.createDeltaTable(
      Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "m", "v"), dir, Seq("m"))
    DeltaCompat.appendToDeltaTable(
      Seq((3L, 0, "c"), (4L, 2, "d")).toDF("id", "m", "v"), dir)
    val added = DeltaCompat.readAddedBetween(spark, dir, 0L, 1L)
    assert(added.columns.toSeq == Seq("id", "m", "v"), s"got ${added.columns.toSeq}")
    assert(added.schema("m").dataType == org.apache.spark.sql.types.IntegerType)
    assert(added.as[(Long, Int, String)].collect().toSet == Set((3L, 0, "c"), (4L, 2, "d")))
  }

  test("a row policy on the table root governs every partition branch") {
    val dir = mkDir()
    val df = (1L to 100L).map(i =>
      (i, (i % 4).toInt, if (i % 5 == 0) "secret" else "ok"))
      .toDF("id", "m", "tier")
    DeltaCompat.createDeltaTable(df, dir, Seq("m"))
    graft.functions.GraftExtensions.register(spark)
    // the plan is BUILT first (the log's own metadata reads run now),
    // then the root is governed — the documented pattern for Delta
    // roots, whose raw log reads otherwise fail closed under a policy
    val got = DeltaCompat.readDeltaTable(spark, dir)
    graft.plans.RowPolicy.register(dir, "tier <> 'secret'")
    try {
      // the partitioned read is a UNION of per-partition scans — the
      // policy must reach every branch, not just the first
      assert(got.count() == 80, "policy rows must drop from every branch")
      assert(got.filter(col("tier") === "secret").count() == 0)
      // per-partition slice check: each m loses exactly its multiples-of-5
      (0 to 3).foreach { m =>
        val n = (1L to 100L).count(i => i % 4 == m && i % 5 != 0)
        assert(got.filter(col("m") === m).count() == n,
          s"partition m=$m must be policy-filtered independently")
      }
    } finally graft.plans.RowPolicy.deregister(dir)
  }

  test("writers and the path-only API refuse partitioned tables loudly") {
    val dir = mkDir()
    DeltaCompat.createDeltaTable(
      Seq((1L, 0, "a")).toDF("id", "m", "v"), dir, Seq("m"))
    val e1 = intercept[IllegalArgumentException] {
      DeltaCompat.liveFiles(spark, dir)
    }
    assert(e1.getMessage.contains("partitioned"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaCompat.deleteWhere(spark, dir, col("id") === 1L)
    }
    assert(e2.getMessage.contains("partitioned"))
    val e3 = intercept[IllegalArgumentException] {
      DeltaCompat.mergeInto(spark, dir,
        Seq((1L, 0, "b")).toDF("id", "m", "v"), Seq("id"))
    }
    assert(e3.getMessage.contains("partitioned"))
    // a second create refuses (bootstrap only)
    val e4 = intercept[IllegalArgumentException] {
      DeltaCompat.createDeltaTable(Seq((2L, 0, "b")).toDF("id", "m", "v"), dir)
    }
    assert(e4.getMessage.contains("_delta_log"))
  }

  test("a partitioned create or append that fails on a rename leaves no staging dir and no commit") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[FailingFs].getName)
    val dir = "failfs://" + mkDir()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def staging = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith(".tmp-")).toSeq
    // fail the publish into one partition: files sort by path, so the
    // partitions before it have already moved into the table root
    def publishInto(b: Int)(p: String) = p.contains(s"/bucket=$b/") && !p.contains("/.tmp-")
    def rows() = DeltaCompat.readDeltaTable(spark, dir).as[(Long, Int, String)].collect().toSet
    val first = Seq((1L, 10, "a"), (2L, 20, "b"))
    val e = FailingFs.failingOn(publishInto(20)) {
      intercept[Exception](DeltaCompat.createDeltaTable(first.toDF("id", "bucket", "v"), dir,
        Seq("bucket")))
    }
    assert(FailingFs.injected(e), s"got $e")
    assert(staging.isEmpty, s"staging dirs left behind: $staging")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_delta_log")))
    assert(DeltaCompat.createDeltaTable(first.toDF("id", "bucket", "v"), dir, Seq("bucket")) == 0L)
    assert(rows() == first.toSet)
    val more = Seq((3L, 10, "c"), (4L, 30, "d"))
    val e2 = FailingFs.failingOn(publishInto(30)) {
      intercept[Exception](DeltaCompat.appendToDeltaTable(more.toDF("id", "bucket", "v"), dir))
    }
    assert(FailingFs.injected(e2), s"got $e2")
    assert(staging.isEmpty, s"staging dirs left behind: $staging")
    assert(DeltaCompat.latestVersion(spark, dir) == 0L)
    assert(rows() == first.toSet)
    assert(DeltaCompat.appendToDeltaTable(more.toDF("id", "bucket", "v"), dir) == 1L)
    assert(rows() == (first ++ more).toSet)
  }
}
