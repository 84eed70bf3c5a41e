package graft

import org.apache.spark.sql.functions._

import graft.sources.TableIO

/** The 100 TB merge story: bucketed-by-Connect_ID version tables join
  * with NO exchange (shuffle-free sort-merge over co-bucketed files). */
class TableIOSpec extends SparkSpec {

  test("bucketed CTAS removes the exchange from the merge join") {
    val s = spark
    import s.implicits._
    val v1 = (1 to 100).map(i => (i.toString, s"a$i")).toDF("Connect_ID", "d_111111111")
    val v2 = (50 to 150).map(i => (i.toString, s"b$i")).toDF("Connect_ID", "d_222222222")
    TableIO.replaceBucketed(v1, "bucketed_v1", "Connect_ID", 4)
    TableIO.replaceBucketed(v2, "bucketed_v2", "Connect_ID", 4)
    try {
      val joined = TableIO.readTable(spark, "bucketed_v1")
        .join(TableIO.readTable(spark, "bucketed_v2"), Seq("Connect_ID"), "full_outer")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 150)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bucketed_v1")
      spark.sql("DROP TABLE IF EXISTS bucketed_v2")
    }
  }

  test("csv and json sources round-trip") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    df.write.option("header", "true").csv(s"$dir/csv")
    df.write.json(s"$dir/json")
    val csv = TableIO.readCsv(spark, s"$dir/csv")
    assert(csv.count() == 2 && csv.columns.toSeq == Seq("id", "v"))
    val json = TableIO.readJson(spark, s"$dir/json")
    assert(json.count() == 2 && json.columns.sorted.toSeq == Seq("id", "v"))
  }

  test("compact rewrites many small files into few, values intact") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/c"
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    // 32 splits -> 32 small files (the streaming-writer pathology)
    df.repartition(32).write.parquet(dir)
    def dataFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles == 32, s"setup expected 32 files, got $dataFiles")
    TableIO.compact(spark, dir, rowsPerFile = 500)
    assert(dataFiles == 2, s"compaction left $dataFiles files, wanted 2")
    val back = TableIO.readParquet(spark, dir)
    assert(back.count() == 1000)
    assert(back.agg(sum(col("id"))).head().getLong(0) == (1 to 1000).map(_.toLong).sum)
  }

  test("compact reads the data exactly once — no count job, row count from footers") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/c"
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(16).write.parquet(dir)
    val callSites = scala.collection.mutable.ListBuffer.empty[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        callSites += Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      TableIO.compact(spark, dir, rowsPerFile = 500)
      // compact is synchronous, so its jobs have run; the listener bus is
      // async — poll until the rewrite job's start event has drained
      val deadline = System.nanoTime() + 10_000_000_000L
      while (callSites.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(callSites.nonEmpty, "listener saw no jobs at all")
      Thread.sleep(200) // grace for any trailing (count) job event
      assert(!callSites.exists(_.startsWith("count at")),
        s"compact ran a count job — row count must come from parquet footers: $callSites")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the footer-derived count sized the output correctly
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 2)
  }

  test("compact self-heals a crash between the two swap renames") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/c"
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8).write.parquet(dir)
    // simulate the crash window: live renamed aside, replacement never
    // landed — the table path is missing, data stranded in .compact-old
    val live = new java.io.File(dir)
    val old = new java.io.File(dir + ".compact-old")
    assert(live.renameTo(old) && !live.exists)
    // the next compact() must restore the aside copy and then compact it
    TableIO.compact(spark, dir, rowsPerFile = 100)
    assert(live.exists && !old.exists, "recovery left the swap half-done")
    val back = TableIO.readParquet(spark, dir)
    assert(back.count() == 100)
    assert(back.agg(sum(col("id"))).head().getLong(0) == (1 to 100).map(_.toLong).sum)
  }

  test("withCompactSafeRead survives the swap's missing-path instant") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/c"
    (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(dir)
    // deterministic replay of the swap window: the live path vanishes
    // (renamed aside) and reappears 150 ms later — a plain read thrown
    // at that window fails, the safe reader must retry through it
    val live = new java.io.File(dir)
    val aside = new java.io.File(dir + ".swaptest")
    assert(live.renameTo(aside) && !live.exists)
    intercept[Exception] { spark.read.parquet(dir).count() } // the race, unguarded
    val restorer = new Thread(() => {
      Thread.sleep(150)
      assert(aside.renameTo(live))
    })
    restorer.start()
    val n = TableIO.withCompactSafeRead(spark, dir)(_.count())
    restorer.join()
    assert(n == 200, s"safe read returned $n rows")
    // and a genuinely-absent table still errors after bounded attempts
    intercept[Exception] {
      TableIO.withCompactSafeRead(spark, dir + "-nope", attempts = 2,
        backoffMs = 10)(_.count())
    }
  }

  test("isPathMissing treats UNABLE_TO_INFER_SCHEMA as transient, not every AnalysisException") {
    val midSwap = new org.apache.spark.sql.AnalysisException(
      "UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet"))
    assert(TableIO.isPathMissing(midSwap))
    assert(TableIO.isPathMissing(new RuntimeException("wrapped", midSwap)))
    val unrelated = new org.apache.spark.sql.AnalysisException(
      "UNRESOLVED_COLUMN.WITHOUT_SUGGESTION", Map("objectName" -> "`x`"))
    assert(!TableIO.isPathMissing(unrelated))
  }

  test("withCompactSafeRead races repeated live compactions without errors") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/c"
    (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8).write.parquet(dir)
    val expected = (1 to 500).map(_.toLong).sum
    @volatile var compactErr: Throwable = null
    // 20 consecutive live compactions: the swap window opens 20 times
    // under a hammering reader — the r12 closing-tree failure mode
    // (AccessDeniedException from a listing that catches the rename
    // mid-flight) must be absorbed by the widened retry predicate.
    val compactor = new Thread(() => {
      try (1 to 20).foreach(_ => TableIO.compact(spark, dir, rowsPerFile = 250))
      catch { case e: Throwable => compactErr = e }
    })
    compactor.start()
    try {
      while (compactor.isAlive) {
        val sum0 = TableIO.withCompactSafeRead(spark, dir)(
          _.agg(sum(col("id"))).head().getLong(0))
        assert(sum0 == expected, s"reader saw $sum0 mid-swap, wanted $expected")
      }
    } finally compactor.join()
    assert(compactErr == null, s"compactor failed: $compactErr")
  }

  test("readParquetMerged unions evolved schemas; missing columns are null") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    Seq((1L, "a")).toDF("id", "v_old").write.parquet(s"$dir/m/part1")
    Seq((2L, "b", 9.5)).toDF("id", "v_new", "score").write.parquet(s"$dir/m/part2")
    val merged = TableIO.readParquetMerged(spark, s"$dir/m/part1", s"$dir/m/part2")
    assert(merged.columns.sorted.toSeq == Seq("id", "score", "v_new", "v_old"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).getAs[String]("v_old") == "a" && rows(0).isNullAt(rows(0).fieldIndex("v_new")))
    assert(rows(1).getAs[String]("v_new") == "b" && rows(1).isNullAt(rows(1).fieldIndex("v_old")))
  }

  test("replaceParquet is an atomic overwrite (CTAS semantics)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/t"
    TableIO.replaceParquet(Seq((1, "x")).toDF("id", "v"), dir)
    TableIO.replaceParquet(Seq((2, "y"), (3, "z")).toDF("id", "v"), dir)
    val back = TableIO.readParquet(spark, dir)
    assert(back.count() == 2) // second write fully replaced the first
  }

  test("partitioned write prunes: filter on partition col skips other directories") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/p"
    val df = (1 to 100).map(i => (i.toLong, s"d${i % 4}", i * 1.0)).toDF("id", "day", "v")
    TableIO.replacePartitioned(df, dir, Seq("day"))
    val read = TableIO.readParquet(spark, dir).filter(col("day") === "d1")
    assert(read.count() == 25)
    // the scan must carry a PartitionFilters entry on `day` — directories
    // for d0/d2/d3 are never opened
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"expected partition pruning in plan:\n$plan")
    // dynamic overwrite: rewriting ONLY d1 leaves the other partitions intact
    val d1New = Seq((999L, "d1", 0.0)).toDF("id", "day", "v")
    TableIO.replacePartitioned(d1New, dir, Seq("day"))
    val after = TableIO.readParquet(spark, dir)
    assert(after.filter(col("day") === "d1").count() == 1)
    assert(after.filter(col("day") =!= "d1").count() == 75)
  }

  test("orc round-trips with the same values") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/orc"
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "v", "d")
    TableIO.replaceOrc(df, dir)
    val back = TableIO.readOrc(spark, dir).orderBy("id").collect()
    assert(back.map(_.toString).sameElements(
      df.orderBy("id").collect().map(_.toString)))
  }

  test("clustered write yields disjoint per-file key ranges and round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/clustered"
    val df = spark.range(10000).toDF("id")
      .withColumn("k", col("id") * 37 % 1000)
      .withColumn("payload", md5(col("id").cast("string")))
    TableIO.replaceClustered(df, dir, "k", numFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000)
    // every parquet file must cover a key range disjoint from the others
    // (range repartition + in-file sort) — that is what lets min/max
    // stats prune whole files for key predicates
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1 && files.length <= 8)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("k")), max(col("k"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 < b._1, s"overlapping file ranges: $a vs $b")
      case _ =>
    }
  }

  test("morton code interleaves bits like the reference implementation") {
    val s = spark
    import s.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (1023L, 511L), (65535L, 65535L))
    val got = pts.toDF("x", "y")
      .select(TableIO.mortonCode(col("x"), col("y"), 16).as("z"))
      .as[Long].collect().toSeq
    assert(got == pts.map { case (x, y) => ref(x, y, 16) })
  }

  test("3-D morton code interleaves bits like the reference implementation") {
    val s = spark
    import s.implicits._
    def ref(v: Seq[Long], bits: Int): Long = {
      val n = v.size
      (0 until bits).foldLeft(0L) { (acc, i) =>
        v.zipWithIndex.foldLeft(acc) { case (a, (x, j)) =>
          a | (((x >> i) & 1L) << (n * i + j))
        }
      }
    }
    val pts = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (3L, 5L, 7L), (1023L, 511L, 255L))
    val got = pts.toDF("x", "y", "z")
      .select(TableIO.mortonCode(Seq(col("x"), col("y"), col("z")), 10).as("m"))
      .as[Long].collect().toSeq
    assert(got == pts.map { case (x, y, z) => ref(Seq(x, y, z), 10) })
  }

  test("3-D z-ordered write yields compact per-file bounding volumes (all dims prune)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/zorder3"
    // uniform 32x32x32 grid: 32768 points, three independent dimensions
    val df = spark.range(32768).toDF("id")
      .withColumn("x", col("id") % 32)
      .withColumn("y", (col("id") / lit(32)).cast("long") % 32)
      .withColumn("z", (col("id") / lit(1024)).cast("long"))
    TableIO.replaceZOrdered(df, dir, Seq("x", "y", "z"), numFiles = 16, bits = 5,
      maxRecordsPerFile = 5000000L)
    val back = spark.read.parquet(dir)
    assert(back.count() == 32768)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 4)
    // per-file bounding volumes: a z-ordered layout keeps ALL three
    // dimension spans small (~cubes); a single-key clustering spans the
    // full 0..31 range of the other two dimensions in every file.
    val vols = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y")),
          min(col("z")), max(col("z"))).head()
      (r.getLong(1) - r.getLong(0) + 1) * (r.getLong(3) - r.getLong(2) + 1) *
        (r.getLong(5) - r.getLong(4) + 1)
    }
    val avgVol = vols.sum.toDouble / vols.length
    val ideal = 32.0 * 32.0 * 32.0 / files.length
    assert(avgVol <= 6 * ideal,
      s"files are not 3-D local: avg box volume $avgVol vs ideal $ideal")
  }

  test("z-ordered write yields compact per-file 2-D bounding boxes (both dims prune)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString + "/zorder"
    // uniform 128x128 grid: 16384 points, two independent dimensions
    val df = spark.range(16384).toDF("id")
      .withColumn("x", col("id") % 128)
      .withColumn("y", (col("id") / lit(128)).cast("long"))
    TableIO.replaceZOrdered(df, dir, "x", "y", numFiles = 16, bits = 7)
    val back = spark.read.parquet(dir)
    assert(back.count() == 16384)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 4)
    // per-file bounding boxes: a z-ordered layout keeps BOTH dimension
    // spans small (~rectangles); a single-key clustering would span the
    // full 0..127 range of the other dimension in every file. The whole
    // grid has area 128*128; with n files, compact boxes average ~area/n.
    val boxes = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
      (r.getLong(1) - r.getLong(0) + 1) * (r.getLong(3) - r.getLong(2) + 1)
    }
    val avgArea = boxes.sum.toDouble / boxes.length
    val ideal = 128.0 * 128.0 / files.length
    assert(avgArea <= 4 * ideal,
      s"files are not 2-D local: avg box area $avgArea vs ideal $ideal")
  }

  test("mergePartitioned rewrites ONLY touched partitions; untouched files stay byte-identical") {
    val s = spark
    import s.implicits._
    val dir = TableIO.scratchDir(spark, "merge_part_spec")
    val base = (1 to 300).map(i => (i.toLong, s"v$i", i % 3)).toDF("k", "payload", "part")
    TableIO.replacePartitioned(base, dir, Seq("part"))
    def listing(p: Int): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$dir/part=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before = (0 to 2).map(p => p -> listing(p)).toMap
    // changelog touches ONLY part=1: delete k=1, update k=4, insert k=1000
    val changes = Seq(
      (1L, null.asInstanceOf[String], 1, "D"),
      (4L, "v4_new", 1, "U"),
      (1000L, "fresh", 1, "I")).toDF("k", "payload", "part", "op")
    TableIO.mergePartitioned(spark, dir, "part", "k", changes)
    // untouched partitions: exact same files (name, size, mtime)
    for (p <- Seq(0, 2))
      assert(listing(p) === before(p), s"partition $p was rewritten")
    assert(listing(1) !== before(1), "touched partition was not rewritten")
    // content equals the closed-form recompute
    val got = spark.read.parquet(dir)
      .select(col("k"), col("payload")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (1 to 300).filterNot(_ == 1)
      .map(i => i.toLong -> (if (i == 4) "v4_new" else s"v$i")).toMap +
      (1000L -> "fresh")
    assert(got === want)
    // fail fast when a merge would empty a partition (dynamic overwrite
    // cannot express it — old files would silently survive)
    val wipeAll = spark.read.parquet(dir).filter(col("part") === 2)
      .select(col("k"), col("payload"), col("part")).withColumn("op", lit("D"))
    val e = intercept[IllegalArgumentException] {
      TableIO.mergePartitioned(spark, dir, "part", "k", wipeAll)
    }
    assert(e.getMessage.contains("EMPTY"))
  }

  test("vacuum: heals the mid-swap crash first, cleans debris only while live exists, refuses empty state") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = TableIO.scratchDir(spark, "vacuumspec/t")
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(hconf)
    def stage(): Unit = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(base)
    val old = new org.apache.hadoop.fs.Path(base + ".compact-old")
    val tmp = new org.apache.hadoop.fs.Path(base + ".compact-tmp")
    // healthy table + debris: debris removed, nothing restored
    stage(); fs.mkdirs(old); fs.mkdirs(tmp)
    assert(TableIO.vacuum(spark, base) == ((false, 2)))
    assert(fs.exists(p) && !fs.exists(old) && !fs.exists(tmp))
    assert(spark.read.parquet(base).count() == 2)
    // mid-swap crash: live missing, data in old -> restored, tmp dropped
    fs.delete(new org.apache.hadoop.fs.Path(base + ".compact-old"), true)
    require(fs.rename(p, old)); fs.mkdirs(tmp)
    assert(TableIO.vacuum(spark, base) == ((true, 1)))
    assert(spark.read.parquet(base).orderBy("k").as[(Long, String)].collect()
      .toSeq == Seq((1L, "a"), (2L, "b")))
    assert(!fs.exists(old) && !fs.exists(tmp))
    // nothing to restore from: refuse loudly rather than "clean" a void
    fs.delete(p, true)
    intercept[IllegalArgumentException] { TableIO.vacuum(spark, base) }
  }

  test("stageFiles lands a multi-part frame under the given names in part order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    // 4 slices of 10 ids each: slice i holds [10i, 10i + 10)
    val df = spark.range(0, 40, 1, 4).toDF("id")
    val out = TableIO.stageFiles(df, dir, "multi")((i, n) => s"sub/f-$i-of-$n.parquet")
    assert(out.map(_._1) == (0 until 4).map(i => s"sub/f-$i-of-4.parquet"))
    assert(out.map(_._2).sum == df.count())
    out.zipWithIndex.foreach { case ((name, rows), i) =>
      val ids = spark.read.parquet(s"$dir/$name").as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq
      assert(ids == (10L * i until 10L * i + 10), s"part $i landed out of order")
      assert(rows == ids.size)
    }
    assert(!new java.io.File(s"$dir/.tmp-multi").exists(), "staging dir left behind")
  }

  test("stageFile puts every row of a multi-partition frame in one file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    val df = spark.range(0, 30, 1, 3).toDF("id")
    assert(df.rdd.getNumPartitions == 3)
    val rows = TableIO.stageFile(df, dir, "data/one.parquet")
    val files = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq
    assert(files == Seq("one.parquet"))
    assert(rows == 30L)
    assert(spark.read.parquet(s"$dir/data/one.parquet").count() == 30L)
  }

  test("the stager refuses an existing target, names both paths, leaves it untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    TableIO.stageFile(spark.range(5).toDF("id"), dir, "t.parquet")
    val target = java.nio.file.Paths.get(s"$dir/t.parquet")
    val before = java.nio.file.Files.readAllBytes(target)
    val e = intercept[IllegalArgumentException] {
      TableIO.stageFiles(spark.range(0, 100, 1, 2).toDF("id"), dir, "again") {
        (i, _) => if (i == 0) "u.parquet" else "t.parquet"
      }
    }
    assert(e.getMessage.contains(s"$dir/.tmp-again/part-"), e.getMessage)
    assert(e.getMessage.contains(s"$dir/t.parquet"), e.getMessage)
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(target), before))
    // the refusal comes before any part moves
    assert(!new java.io.File(s"$dir/u.parquet").exists())
    assert(!new java.io.File(s"$dir/.tmp-again").exists())
  }
}
