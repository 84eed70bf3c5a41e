package graft

import scala.util.Random

import graft.sources.{DeltaCompat, HudiCompat, IcebergCompat}

/** Model-based property tests for the three lake-interop readers:
  * random operation chains maintained against a trivial in-memory
  * model, reads compared exactly at every step. Seeds are FIXED — a
  * failure reproduces. */
class InteropPropertySpec extends SparkSpec {
  import spark.implicits._

  private def mk(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("delta: random append/remove/checkpoint chains match the action model") {
    val rnd = new Random(42)
    (1 to 3).foreach { trial =>
      val dir = mk(s"prop-delta-$trial")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      var live = Map.empty[String, Set[Long]] // file -> its row ids
      var nextId = 0L
      var commit = -1L
      def writeFile(name: String, ids: Set[Long]): Unit = {
        val tmp = s"$dir/.t"
        ids.toSeq.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        assert(fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name")))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      def commitLines(lines: Seq[String]): Unit = {
        commit += 1
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_delta_log"))
        val out = fs.create(new org.apache.hadoop.fs.Path(
          f"$dir/_delta_log/$commit%020d.json"), true)
        try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
      }
      (1 to 12).foreach { step =>
        rnd.nextInt(4) match {
          case 0 | 1 => // append a fresh file
            val name = s"f$step.parquet"
            val ids = (nextId until nextId + 1 + rnd.nextInt(4)).toSet
            nextId += ids.size
            writeFile(name, ids)
            commitLines(Seq(s"""{"add":{"path":"$name","dataChange":true}}"""))
            live += name -> ids
          case 2 if live.nonEmpty => // remove a random live file
            val victim = live.keys.toSeq(rnd.nextInt(live.size))
            commitLines(Seq(s"""{"remove":{"path":"$victim","dataChange":true}}"""))
            live -= victim
          case 3 if commit >= 0 => // checkpoint + vacuum subsumed JSON
            val v = DeltaCompat.checkpoint(spark, dir)
            (0L to v).foreach(i => fs.delete(new org.apache.hadoop.fs.Path(
              f"$dir/_delta_log/$i%020d.json"), false))
          case _ => ()
        }
        if (commit >= 0 && live.nonEmpty) {
          val got = DeltaCompat.readDeltaTable(spark, dir)
            .as[Long].collect().toSet
          assert(got == live.values.flatten.toSet,
            s"trial $trial step $step: delta read diverged from model")
        }
      }
    }
  }

  test("delta writers: random create/append/delete/merge/optimize/restore chains match the row model") {
    val rnd = new Random(1215)
    (1 to 2).foreach { trial =>
      val dir = mk(s"prop-dwrite-$trial")
      // model: id -> value, plus every committed version's full state
      var rows = Map.empty[Long, Long]
      var nextId = 0L
      def freshBatch(n: Int): Map[Long, Long] = {
        val b = (nextId until nextId + n).map(i => i -> (i * 10 + trial)).toMap
        nextId += n
        b
      }
      rows = freshBatch(5)
      var curV = DeltaCompat.createDeltaTable(
        rows.toSeq.toDF("id", "v"), dir)
      var histories = Map(curV -> rows)
      def check(tag: String): Unit = {
        val got = DeltaCompat.readDeltaTable(spark, dir)
          .as[(Long, Long)].collect().toMap
        assert(got == rows, s"trial $trial $tag: table diverged from model")
      }
      check("create")
      (1 to 12).foreach { step =>
        rnd.nextInt(6) match {
          case 0 => // append a fresh batch
            val b = freshBatch(1 + rnd.nextInt(4))
            curV = DeltaCompat.appendToDeltaTable(b.toSeq.toDF("id", "v"), dir)
            rows ++= b
          case 1 => // DV cheap-delete by predicate
            val m = 2 + rnd.nextInt(4)
            val r = rnd.nextInt(m)
            val v2 = DeltaCompat.deleteWhere(spark, dir,
              org.apache.spark.sql.functions.col("id") % m === r)
            rows = rows.filterNot { case (id, _) => id % m == r }
            curV = v2 // unchanged when nothing matched
          case 2 if rows.nonEmpty => // merge: update half the keys + insert
            val upd = rows.keys.toSeq.sorted.take(1 + rows.size / 2)
              .map(id => id -> (rows(id) + 1000)).toMap
            val ins = freshBatch(1 + rnd.nextInt(2))
            curV = DeltaCompat.mergeInto(spark, dir,
              (upd ++ ins).toSeq.toDF("id", "v"), Seq("id"))
            rows = rows ++ upd ++ ins
          case 3 => // materialize DV masks (no logical change)
            curV = DeltaCompat.materializeDeletes(spark, dir)
          case 4 if histories.size > 1 => // restore to a random past state
            val candidates = histories.filter { case (v, st) =>
              v < curV && st != rows
            }
            if (candidates.nonEmpty) {
              val (tv, st) = candidates.toSeq(rnd.nextInt(candidates.size))
              curV = DeltaCompat.restore(spark, dir, tv)
              rows = st
            }
          case 5 => // checkpoint: pure log maintenance
            DeltaCompat.checkpoint(spark, dir)
          case _ => ()
        }
        if (rows.nonEmpty) check(s"step $step")
        histories += curV -> rows
        // time travel to a random recorded version must replay exactly
        // (nothing is vacuumed in this chain)
        val (tv, st) = histories.toSeq(rnd.nextInt(histories.size))
        if (st.nonEmpty) {
          val got = DeltaCompat.readDeltaTable(spark, dir, asOf = Some(tv))
            .as[(Long, Long)].collect().toMap
          assert(got == st,
            s"trial $trial step $step: time travel to v$tv diverged")
        }
      }
    }
  }

  test("hudi: random rewrite/new-group/inflight chains match the slice model") {
    val rnd = new Random(7)
    (1 to 3).foreach { trial =>
      val dir = mk(s"prop-hudi-$trial")
      // model: fileGroup -> current visible ids; pending inflight writes
      var groups = Map.empty[String, Set[Long]]
      var nextId = 1000L
      var instant = 100
      (1 to 10).foreach { step =>
        instant += 1
        val ts = f"$instant%03d"
        HudiCompat.beginCommit(spark, dir, ts)
        val (fg, complete) = rnd.nextInt(4) match {
          case 0 if groups.nonEmpty => // rewrite an existing group
            (groups.keys.toSeq(rnd.nextInt(groups.size)), true)
          case 1 => (s"fg$step", rnd.nextBoolean()) // new group, maybe inflight
          case _ => (s"fg$step", true)
        }
        val ids = (nextId until nextId + 1 + rnd.nextInt(3)).toSet
        nextId += ids.size
        HudiCompat.writeBaseFile(ids.toSeq.toDF("id"), dir,
          s"p=${fg.hashCode.abs % 2}", fg, ts)
        if (complete) {
          HudiCompat.completeCommit(spark, dir, ts)
          groups += fg -> ids
        }
        if (groups.nonEmpty) {
          val got = HudiCompat.readHoodieTable(spark, dir)
            .as[Long].collect().toSet
          assert(got == groups.values.flatten.toSet,
            s"trial $trial step $step: hudi read diverged from model")
        }
      }
    }
  }

  test("iceberg: random snapshot chains with overwrites match the file model") {
    val rnd = new Random(23)
    (1 to 3).foreach { trial =>
      val dir = mk(s"prop-ice-$trial")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      var files = Map.empty[String, Set[Long]] // rel path -> ids (live)
      var all = Map.empty[String, Set[Long]]   // every file ever written
      var nextId = 0L
      var version = 0
      val mls = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      def writeData(name: String, ids: Set[Long]): Unit = {
        val tmp = s"$dir/.t"
        ids.toSeq.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
        assert(fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/data/$name")))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      (1 to 8).foreach { step =>
        version += 1
        // each snapshot: adds 1 file, optionally deletes 1 live file
        val name = s"f$step.parquet"
        val ids = (nextId until nextId + 1 + rnd.nextInt(3)).toSet
        nextId += ids.size
        writeData(name, ids)
        val deleted: Option[String] =
          if (files.nonEmpty && rnd.nextBoolean())
            Some(files.keys.toSeq(rnd.nextInt(files.size)))
          else None
        all += s"data/$name" -> ids
        files = (files -- deleted.map(d => Seq(d)).getOrElse(Nil)) +
          (s"data/$name" -> ids)
        val entries =
          files.keys.map(p => (if (p == s"data/$name") 1 else 0, p, 0L)).toSeq ++
            deleted.map(p => (2, p, 0L)).toSeq
        val m = IcebergCompat.writeManifest(spark, dir, s"m$step.avro", entries)
        val ml = IcebergCompat.writeManifestList(spark, dir, s"ml$step.avro", Seq(m))
        mls += ((100L + step, ml))
        IcebergCompat.writeMetadata(spark, dir, version, mls.toSeq)
        val got = IcebergCompat.readIcebergTable(spark, dir)
          .as[Long].collect().toSet
        assert(got == files.values.flatten.toSet,
          s"trial $trial step $step: iceberg read diverged from model")
        // a random PAST snapshot still reads to its own model? (only
        // the live-set-at-step is modeled: spot-check the first one)
        if (step > 1) {
          val firstIds = all(s"data/f1.parquet")
          val tt = IcebergCompat.readIcebergTable(spark, dir,
            snapshotId = Some(101L)).as[Long].collect().toSet
          assert(tt == firstIds, s"time travel to snapshot 1 diverged")
        }
      }
    }
  }
}
