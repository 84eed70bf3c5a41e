package graft

import org.apache.spark.sql.functions._

/** Adaptive Query Execution pins — the RUNTIME complement to the
  * app-level skew machinery in [[graft.ops.Skew]]: the detector+salt
  * path handles NON-reducible aggregations (where AQE cannot help —
  * collect_set must see every row of a key), while AQE's skew-join
  * split and partition coalescing handle JOIN skew and over-partitioned
  * shuffles with no application code at all. These tests pin that the
  * engine's session actually gets both behaviors from Spark, so a
  * config regression (someone turning AQE off "for determinism")
  * surfaces as a test failure, not a 100 TB incident.
  *
  * Thresholds are lowered to make MB-scale test data exhibit the
  * TB-scale behaviors; every mutated conf is restored in finally. */
class AqeSpec extends SparkSpec {

  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // MB-scale stand-ins for the TB-scale defaults (256 MB / factor 5)
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // force the shuffle join AQE must repair (no broadcast escape)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import spark.implicits._
      // 50k rows, 98% on key 0, fat payload -> one shuffle partition
      // dwarfs the median, exactly the shape a hot join key produces
      val left = spark.range(0, 50000)
        .select((when(col("id") % 50 === 0, col("id") % 7 + 1).otherwise(lit(0)))
          .as("k"), concat(lit("x" * 100), col("id")).as("payload"))
      val right = (0L to 7L).toDF("k").withColumn("name", concat(lit("dim"), col("k")))
      val joined = left.join(right.hint("MERGE"), "k")
      // collect() (not count()) so the action runs THIS QueryExecution —
      // count() builds its own, leaving this AdaptiveSparkPlan unfinalized
      assert(joined.collect().length == 50000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${finalPlan.take(2000)}")
    }
  }

  test("AQE coalesces over-partitioned shuffle output (AQEShuffleRead coalesced)") {
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.shuffle.partitions" -> "64") {
      // 64 configured partitions for a few KB of aggregate output: the
      // static plan would run 64 near-empty reducers; AQE folds them
      val agg = spark.range(0, 10000)
        .select((col("id") % 100).as("k"))
        .groupBy("k").count()
      assert(agg.collect().length == 100)
      val finalPlan = agg.queryExecution.executedPlan.toString
      assert(finalPlan.contains("AQEShuffleRead") && finalPlan.contains("coalesced"),
        s"AQE did not coalesce the shuffle read:\n${finalPlan.take(2000)}")
    }
  }
}
