package graft

import org.apache.spark.sql.SparkSession

/** ONE definition point for the engine's session configuration.
  *
  * Round-15 verdict item: the FileOutputCommitter-v2 (and codegen/
  * checkpoint) settings lived only in the Bench and Verify builders, so
  * any other entrypoint (e.g. an api.PipelineServer host) silently ran
  * without them — the optimizations were the harness's, not the
  * engine's. Every engine entrypoint now goes through [[configure]];
  * Bench/Verify add only their harness-specific knobs (master/parallelism
  * from the driver contract, log level, UI off).
  */
object GraftSession {

  /** Engine-level configs — the settings any session running this
    * engine's operators should carry, at any cluster size. Safe to apply
    * to a caller-supplied builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // bucketed tables here are DESIGNED indexes (inverted index, IVF
    // cells, merge keys): keep bucketed scans so bucket PRUNING
    // survives even when no downstream op needs the partitioning —
    // the auto-disable rule only weighs partitioning, not pruning
    .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // the survey workload is 600-1300 STRING columns wide; the default
    // codegen.maxFields=100 drops every wide Project/HashAggregate out
    // of whole-stage codegen into the interpreted row path (measured
    // 12.8s -> 7.6s on profile_binary_wide, 3.0s -> 1.7s on
    // clean_columns_wide at sf0.1, min-of-3). Compile cost is one-off
    // per query and amortizes at scale.
    .config("spark.sql.codegen.maxFields", "1500")
    // reliable checkpoints from iterative loops (Materialize.carried)
    // are deleted when their RDD is GC'd instead of accumulating one
    // carried-state copy per round until JVM exit
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    // lz4 on reliable-checkpoint blocks (loop-carried state): measured
    // a wash on this box's local disk, kept because on a cluster the
    // checkpoint dir is durable SHARED storage where the compressed
    // bytes are the cost that matters
    .config("spark.checkpoint.compress", "true")
    // FileOutputCommitter v2: task output renames directly to the
    // destination at task commit instead of a second job-commit rename
    // pass (guide §6/§7.3 — commit protocol cost scales with file
    // count). The lifecycle gates (snapshot/delta/iceberg fixtures)
    // issue dozens of small writes per query, each paying v1's extra
    // sequential driver-side rename round. Atomicity is NOT provided
    // by the job commit in this engine — every table layer publishes
    // its manifest, log entry or instant through the one shared commit,
    // `TableIO.commitFile` (atomic, create-exclusive) — so v2's weaker
    // failure story costs nothing here, the same reasoning cloud
    // object-store committers use.
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")

  /** The harness shape both driver entrypoints (Bench, Verify) share:
    * `local[cpus]` with shuffle parallelism = core count (the driver
    * benches at two core counts to measure scaling — parallelism must
    * track the grant, never a constant), engine configs, UI off. */
  def localBuilder(cpus: String): SparkSession.Builder = configure(
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
}
