package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cluster-safe materialization for iterative operators.
  *
  * `localCheckpoint` is the wrong tool on a real cluster: its blocks pin
  * executor memory/disk and are NOT recoverable — one lost executor kills
  * the whole job mid-iteration (Spark documents it as unsafe under
  * dynamic allocation for exactly this reason). The repo already moved
  * the wide-survey materialization to a DISK_ONLY persist on this
  * rationale (`queries/SurveyQueries.scala`); these helpers extend the
  * precedent to the iterative graph/CC loops, which need one more
  * property: LINEAGE TRUNCATION. A loop that re-reads its own previous
  * round (PageRank's ranks, CC's labels) grows its logical plan every
  * round — exponentially when a round references the carried state twice
  * (dangling-mass PageRank: measured 366 plan exchanges at 5 rounds vs 94
  * without truncation) — so persist alone (which caches execution but
  * leaves the analyzed plan growing) is not enough.
  */
object Materialize {

  /** Loop-INVARIANT relation (edge list, node set, degrees): DISK_ONLY
    * persist. Lazy; the first round's action materializes it. A lost
    * block rebuilds from lineage (the input is a stable source), and
    * nothing pins executor memory. */
  def invariant(df: DataFrame): DataFrame =
    df.persist(StorageLevel.DISK_ONLY)

  /** Loop-CARRIED state (this round's ranks/labels): eager RELIABLE
    * checkpoint — truncates lineage like `localCheckpoint(true)` did, but
    * the files land in a driver-visible checkpoint directory (scratch dir
    * locally; point `sparkContext.setCheckpointDir` at durable storage on
    * a cluster) and survive executor loss.
    *
    * A bare `Dataset.checkpoint(eager = true)` computes the plan TWICE
    * (once for the eager action, once for the checkpoint-write job), so
    * the round is first persisted DISK_ONLY: the eager action populates
    * the cache, the write job re-reads blocks instead of recomputing, and
    * the transient cache is dropped immediately after — one compute + one
    * local disk read per round.
    *
    * Partitioning is preserved (`LogicalRDD` carries the physical plan's
    * outputPartitioning), so exchange-free round joins pinned by
    * PlanAuditSpec keep holding. Observations attached to `df` fire on
    * the eager action, exactly as they did on `localCheckpoint(true)`. */
  // NOTE (round 15): a persist-only "cachedRound" variant for short
  // fixed-round loops was tried and REVERTED — without the per-round
  // eager action, all rounds materialize inside ONE job where stages
  // race to compute not-yet-cached blocks, recomputing each round's
  // relation multiple times (q_kcore 5.9 s -> 16.5 s at sf0.1). The
  // eager checkpoint's write job per round is the cheaper evil.
  //
  // Round 16: the strategy is a conf knob. `localCheckpoint(eager)` has
  // the same two properties a loop needs (eager per-round action +
  // lineage truncation to a LogicalRDD that keeps outputPartitioning)
  // WITHOUT the reliable checkpoint's write-to-checkpoint-dir +
  // read-back round trip per round. Its blocks are pinned to live
  // executors — unrecoverable after executor loss and unsafe under
  // dynamic allocation — so it is only the DEFAULT where that risk is
  // void: a local master, where every executor loss is a driver loss
  // anyway. On a cluster the default stays the reliable checkpoint;
  // `spark.graft.loop.materialize=local|reliable` overrides either way
  // (a cluster with stable executors and cheap re-runs may prefer
  // local, exactly as Spark's own localCheckpoint docs describe).
  def carried(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val key = "spark.graft.loop.materialize"
    val mode = spark.conf.get(key, if (sc.isLocal) "local" else "reliable")
    require(mode == "local" || mode == "reliable",
      s"$key must be 'local' or 'reliable', got '$mode'")
    if (mode == "local") return df.localCheckpoint(eager = true)
    if (sc.getCheckpointDir.isEmpty) {
      // The tmpdir fallback is DRIVER/EXECUTOR-LOCAL: on a real cluster
      // each executor would write its checkpoint partitions to its own
      // local filesystem and reads scheduled elsewhere would fail — the
      // exact failure this reliable-checkpoint path exists to prevent.
      // Fail fast with the fix named instead of corrupting an iteration.
      require(sc.isLocal,
        "Materialize.carried: no checkpoint dir set and master is not local — " +
          "call sparkContext.setCheckpointDir(<durable shared storage, e.g. an " +
          "HDFS/object-store path>) before running iterative operators on a cluster")
      sc.setCheckpointDir(
        graft.sources.TableIO.scratchDir(spark, "loop_checkpoints"))
    }
    val cached = df.persist(StorageLevel.DISK_ONLY)
    try cached.checkpoint(eager = true)
    finally cached.unpersist(blocking = false)
  }
}
