package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.Materialize

/** Contracts of the cluster-safe materialization helpers that the
  * iterative operators (PageRank, both CC variants) lean on. A regression
  * here — e.g. swapping the reliable checkpoint for a bare persist —
  * would re-grow loop plans exponentially (the dangling-mass PageRank
  * reads its carried state twice per round) and only show up as a
  * mysterious deep-iteration slowdown; pin it structurally instead.
  * Both `spark.graft.loop.materialize` modes (reliable checkpoint /
  * localCheckpoint) must honor the same contracts. */
class MaterializeSpec extends SparkSpec {

  private def withMode[T](mode: String)(body: => T): T = {
    val key = "spark.graft.loop.materialize"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  for (mode <- Seq("reliable", "local")) {
    test(s"carried($mode) truncates loop lineage: analyzed plan size constant across rounds") {
      withMode(mode) {
        var df = spark.range(100).select(col("id"), lit(0L).as("v"))
        val sizes = (1 to 4).map { _ =>
          // a round that reads the carried state TWICE (the 2^rounds shape)
          val doubled = df.groupBy(col("id")).agg(sum(col("v")).as("v"))
            .join(df.select(col("id").as("id2"), col("v").as("v2")),
              col("id") === col("id2"))
            .select(col("id"), (col("v") + col("v2") + 1).as("v"))
          df = Materialize.carried(doubled)
          var n = 0
          df.queryExecution.analyzed.foreach(_ => n += 1)
          n
        }
        assert(sizes.distinct.size == 1,
          s"per-round analyzed plan sizes grew: $sizes — lineage not truncated")
      }
    }

    test(s"carried($mode) preserves values exactly (same integers as the lazy loop)") {
      withMode(mode) {
        def loop(mat: Boolean): Map[Long, Long] = {
          var df = spark.range(50).select(col("id"), (col("id") % 7).as("v"))
          for (_ <- 1 to 3) {
            val next = df.groupBy(col("id")).agg(sum(col("v")).as("s"))
              .select(col("id"), (col("s") * 3 + 1).as("v"))
            df = if (mat) Materialize.carried(next) else next
          }
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        assert(loop(mat = true) == loop(mat = false))
      }
    }
  }

  test("carried(reliable) leaves no lingering cache entry (transient persist dropped)") {
    withMode("reliable") {
      val out = Materialize.carried(
        spark.range(10).select(col("id"), (col("id") * 2).as("v")))
      assert(out.count() == 10)
      // the transient DISK_ONLY persist must have been unpersisted — the
      // only acceptable storage for the RESULT is the checkpoint files
      assert(out.storageLevel == StorageLevel.NONE)
    }
  }

  test("carried default on a local master is localCheckpoint (no reliable-checkpoint write)") {
    // single JVM: executor loss == driver loss, so the reliable
    // checkpoint's write+read-back per round buys nothing — the default
    // must be the cheaper localCheckpoint (round-16 A/B)
    val out = Materialize.carried(
      spark.range(10).select(col("id"), (col("id") * 3).as("v")))
    // lineage truncated to a leaf (the localCheckpoint contract carried
    // shares with the reliable mode) …
    val rdd = out.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd
      case p => fail(s"expected a truncated LogicalRDD leaf, got $p")
    }
    // … whose RDD is checkpointed without a reliable-checkpoint file —
    // a local checkpoint (`isLocallyCheckpointed` is private to Spark)
    assert(rdd.isCheckpointed)
    assert(rdd.getCheckpointFile.isEmpty,
      "default local mode must not write reliable-checkpoint files")
    assert(out.count() == 10)
  }

  test("carried rejects an unknown loop.materialize mode, naming the conf key") {
    withMode("localcheckpoint") {
      val e = intercept[IllegalArgumentException] {
        Materialize.carried(spark.range(10).toDF())
      }
      assert(e.getMessage.contains("spark.graft.loop.materialize"))
    }
  }

  test("invariant is a DISK_ONLY persist (no executor-memory pinning)") {
    val c = Materialize.invariant(spark.range(10).toDF())
    try assert(c.storageLevel == StorageLevel.DISK_ONLY)
    finally c.unpersist()
  }
}
