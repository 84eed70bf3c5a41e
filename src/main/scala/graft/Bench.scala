package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is materialized through the `noop` sink — a plain
  * `count()` would let Catalyst prune the projection work (clean_columns
  * would be timed as a count over the scan), so noop is the honest cost.
  *
  * Robustness against box load (this host's CPU swings ~3x between
  * runs): each query runs once UNTIMED (JIT + codegen cache + IO warm),
  * then `SPARK_GRAFT_REPS` (default 2) timed reps, and reports the MIN —
  * one load spike no longer poisons the round's headline artifact.
  *
  * Artifact shape is built for a BOUNDED TAIL capture (the driver keeps
  * only the last few KB of output): one short self-contained JSON line
  * per query as it finishes (`{"query":…,"sec":…}`), then the one-line
  * `bench_meta` (git SHA, query count, start/end loadavg — staleness and
  * box load are self-evident from the artifact alone) and any
  * regression/re-time flag lines, then the chunked `{"timings":…}`
  * recovery lines (sub-KB each) as the LAST output before ONE SHORT
  * summary line with just the scalar fields
  * (`metric`/`value`/`reps`/`sf`/`failed`). The timings chunks print
  * last BY DESIGN (round-15 lesson: printed before ~6 KB of re-time
  * flags they were evicted from the driver's tail capture, blanking the
  * round's per-query comparison); no line embeds the full per-query map,
  * so no single line can overflow the capture budget.
  */
object Bench {
  /** First three fields of /proc/loadavg (1/5/15-min run-queue), or
    * "unavailable" off Linux. Captured at start AND end of the run so a
    * load-inflated artifact carries its own evidence — round 6's
    * headline (144.67 s loaded vs 115.32 s idle, same SHA) was only
    * adjudicable by an out-of-band rerun. */
  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(" ")
      finally src.close()
    } catch { case _: Throwable => "unavailable" }

  /** Fixed-work single-thread CPU probe (~0.3 s on an idle box): seconds
    * to hash a fixed buffer a fixed number of times. Round-9 lesson: two
    * clean-stamped runs on this box differed 1.35x uniformly — neither
    * loadavg nor a disk probe explained it (external contention the
    * kernel run-queue does not count). A fixed-work probe measured at
    * start AND end turns "this run looks slow" into a number the
    * artifact carries itself: timings are comparable across runs via
    * the probe ratio. */
  private def cpuProbeSec(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 600) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work fsync'd write probe (256 MiB): seconds, for the
    * checkpoint/shuffle-heavy families whose cost is disk-bound. */
  private def diskProbeSec(): Double =
    try {
      val f = java.io.File.createTempFile("graft-diskprobe", ".bin")
      try {
        val ch = java.nio.channels.FileChannel.open(f.toPath,
          java.nio.file.StandardOpenOption.WRITE)
        val buf = java.nio.ByteBuffer.allocate(1 << 20)
        val t0 = System.nanoTime()
        var i = 0
        while (i < 256) { buf.rewind(); ch.write(buf); i += 1 }
        ch.force(true); ch.close()
        (System.nanoTime() - t0) / 1e9
      } finally f.delete()
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    // Optional positional args = query names: re-time a subset without a
    // full 129-query run (the artifact path for targeted re-measurement;
    // unknown names fail fast rather than silently timing nothing).
    val selected: Seq[graft.queries.QueryDef] =
      if (args.isEmpty) SparkEntry.allQueries
      else {
        val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
        val unknown = args.filterNot(byName.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        args.toSeq.map(byName)
      }
    val loadStart = loadavg()
    val probeStart = (cpuProbeSec(), diskProbeSec())
    // provenance captured at START: the tree sbt just compiled is what
    // runs, so HEAD/dirty NOW describes the measured code — an edit made
    // while the bench runs must not retroactively flag (or unflag) it.
    val sha =
      try {
        val head = scala.sys.process.Process(
          Seq("git", "rev-parse", "--short", "HEAD")).!!.trim
        // BENCH_LINES.jsonl is this program's OWN output artifact — its
        // presence from the previous run must not flag the measured tree
        // dirty, or every bench run after the first self-poisons.
        val dirty = scala.sys.process.Process(
          Seq("git", "status", "--porcelain")).!!.linesIterator
          .filterNot(_.endsWith("BENCH_LINES.jsonl")).exists(_.nonEmpty)
        if (dirty) s"$head-dirty" else head
      } catch { case _: Throwable => "unknown" }
    // engine configs (committer v2, codegen width, checkpoint hygiene,
    // bucketed-scan policy, …) come from the ONE shared definition point
    // all entrypoints use — see GraftSession
    val spark = GraftSession.localBuilder(cpus).getOrCreate()
    // ERROR, not WARN: benign per-query WARN spam (e.g. WindowExec's
    // no-partition notice from the k-row kmeans seeding window) flooded
    // the driver's bounded tail capture in round 6 and evicted 123 of
    // 129 streamed per-query lines. Log level doesn't touch plans.
    spark.sparkContext.setLogLevel("ERROR")
    // name any testdata drift in the artifact's own stderr (round-7
    // lesson: 17 queries failed with no self-evident cause)
    graft.sources.TestdataContract.warn(spark, sfDir)
    // Untimed global warmup: initializes codegen infra, parquet reader,
    // shuffle and noop-sink paths so the first query doesn't absorb
    // one-off JVM/session setup. Best-effort.
    try {
      spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
        .groupBy("k").count().write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/region.parquet")
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup skipped: ${e.getMessage}") }

    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // stream-query steady-state accounting: (name, wall, batches/rep,
    // trigger sec/rep) — summarized after the run so the artifact
    // separates per-micro-batch OPERATOR cost from harness scaffolding
    val streamAgg =
      scala.collection.mutable.ListBuffer.empty[(String, Double, Long, Double)]
    val results = selected.map { q =>
      def run(): Unit =
        q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      // rep 0: untimed warmup; also the failure probe
      val ok =
        try { run(); true }
        catch {
          case e: Throwable =>
            failed += q.name
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            false
        }
      // wide-schema gates show ~2x rep-to-rep spread on this shared box
      // (codegen compile + GC interplay) — give them one extra timed rep
      // so the min is a stable floor, not a coin flip
      val qReps = if (q.name.endsWith("_wide")) reps.max(3) else reps
      // stream gates: harvest micro-batch accounting over the timed reps
      // so the artifact separates OPERATOR time (triggerExecution, what a
      // long-lived stream pays per batch) from harness scaffolding
      // (query start/stop + fresh checkpoint per drain, a fixed cost the
      // gate wall time includes but production never re-pays)
      graft.streaming.EventStreams.resetDrainStats()
      val best =
        if (!ok) -1.0
        else (1 to qReps).map { _ =>
          val t0 = System.nanoTime()
          run()
          (System.nanoTime() - t0) / 1e9
        }.min
      val ds = graft.streaming.EventStreams.drainStats
      val streamJson =
        if (ds.batches > 0 && ok)
          f""","stream_batches":${ds.batches / qReps},"stream_trigger_sec":${ds.triggerMs / 1000.0 / qReps}%.2f"""
        else ""
      if (ds.batches > 0 && ok)
        streamAgg += ((q.name, best, ds.batches / qReps,
          ds.triggerMs / 1000.0 / qReps))
      // per-query progress line: short, self-contained JSON — the
      // redundant recovery path if the tail capture clips the summary
      println(f"""{"query":"${q.name}","sec":${if (ok) f"$best%.2f" else "-1"}$streamJson}""")
      (q.name, best, ok, streamJson)
    }
    // A failed query reports -1 and is excluded from "value": the
    // headline number only reflects completed work.
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _) => v }.sum
    // PER-QUERY REGRESSION GUARD: compare each timing against the
    // committed clean floor (BENCH_FLOORS.json — the min across recorded
    // clean full-registry benches) at a 2x + 0.5 s tolerance, so a silent
    // plan regression surfaces IN the bench artifact instead of waiting
    // for a cross-round diff. Floors are sf0.1 numbers measured on this
    // box class: the check only arms on sf0.1 runs, skips queries without
    // a recorded floor (new gates), and is advisory under load_high (the
    // flags travel with the load evidence).
    val floors: Map[String, Double] =
      if (!sfDir.contains("sf0.1")) Map.empty
      else try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_FLOORS.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        """"([^"]+)":\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val flagged = results.collect {
      case (n, v, true, _) if floors.get(n).exists(f => v > f * 2.0 + 0.5) =>
        (n, v, floors(n))
    }
    // SELF-EXONERATING RE-TIME (rounds 11-14 lesson: four consecutive
    // driver artifacts were load-contaminated and had to be exonerated
    // by out-of-band reruns): each flagged query re-times min-of-2 at
    // the END of the run, after a bounded wait for the box to settle
    // (the bench itself is done competing by then). The re-time carries
    // its own load/probe evidence, so the artifact distinguishes "box
    // was busy" from "plan regressed" without any manual follow-up.
    val retimes: Option[(String, Seq[String])] =
      if (flagged.isEmpty) None
      else {
        def load1m(): Double =
          try loadavg().split("\\s+")(0).toDouble catch { case _: Throwable => -1.0 }
        val settleDeadline = System.nanoTime() + 180L * 1000000000L
        while (load1m() > 2.0 && System.nanoTime() < settleDeadline)
          Thread.sleep(10000)
        val retimeLoad = loadavg()
        val retimeProbe = cpuProbeSec()
        val byName = selected.map(q => q.name -> q).toMap
        // The shared re-time environment (loadavg + CPU probe) prints ONCE,
        // on its own `bench_retime_env` line, instead of repeating per
        // query: with dozens of flags the repeated fields alone were ~4 KB
        // of output that starved a bounded tail capture of the run's
        // output. Every `bench_retimes` entry has one shape.
        val env =
          f"""{"retime_loadavg":"$retimeLoad","retime_cpu_probe_sec":$retimeProbe%.3f}"""
        Some(env -> flagged.take(40).map { case (n, firstSec, floor) =>
          val best =
            try (1 to 2).map { _ =>
              val t0 = System.nanoTime()
              byName(n).build(spark, sfDir)
                .write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            }.min
            catch { case _: Throwable => -1.0 }
          val verdict =
            if (best < 0) "error"
            else if (best <= floor * 2.0 + 0.5) "load"
            else "regression"
          f"""{"query":"$n","sec":$firstSec%.2f,"floor":$floor%.2f,"retime_sec":$best%.2f,"verdict":"$verdict"}"""
        })
      }
    spark.stop()
    val loadEnd = loadavg()
    val probeEnd = (cpuProbeSec(), diskProbeSec())
    val probesJson =
      f"""{"cpu_sec":{"start":${probeStart._1}%.3f,"end":${probeEnd._1}%.3f},""" +
        f""""disk_sec":{"start":${probeStart._2}%.3f,"end":${probeEnd._2}%.3f}}"""
    val procs = Runtime.getRuntime.availableProcessors()
    // Round-8 lesson: the driver's tail capture preserved only the last
    // 42 of 139 streamed per-query lines — two-thirds of the evidence was
    // unreadable. Two redundant recovery paths:
    //  1. chunked {"timings":{...}} lines, each well under 1 KB, printed
    //     as the VERY LAST thing before the one-line total (round-15
    //     lesson: in r15 they printed before bench_regressions/
    //     bench_retimes, whose ~6 KB evicted every chunk from the
    //     driver's bounded tail capture and blanked PERF per_query);
    //  2. BENCH_LINES.jsonl in the working directory — a committed
    //     artifact with one line per query, readable without any capture.
    val timingLines = results.grouped(25).map { chunk =>
      val entries = chunk.map { case (n, v, ok, _) =>
        s""""$n":${if (ok) f"$v%.2f" else "-1"}"""
      }.mkString(",")
      s"""{"timings":{$entries}}"""
    }.toSeq
    // STREAM STEADY-STATE summary: what a long-lived stream pays per
    // micro-batch (triggerExecution, the operator cost that recurs in
    // production) vs the gate's wall (which also buys query start/stop
    // and a fresh checkpoint per drain — fixed harness scaffolding a
    // production stream never re-pays). One line, bounded size.
    if (streamAgg.nonEmpty) {
      val wall = streamAgg.map(_._2).sum
      val trig = streamAgg.map(_._4).sum
      val batches = streamAgg.map(_._3).sum
      println(f"""{"stream_meta":{"n_stream_queries":${streamAgg.size},"wall_sec":$wall%.2f,"trigger_sec":$trig%.2f,"scaffold_sec":${wall - trig}%.2f,"batches":$batches,"trigger_sec_per_batch":${if (batches > 0) trig / batches else 0.0}%.3f}}""")
    }
    try {
      val jsonl = results.map { case (n, v, ok, sj) =>
        f"""{"query":"$n","sec":${if (ok) f"$v%.2f" else "-1"}$sj}"""
      }.mkString("", "\n", "\n") +
        f"""{"bench_meta":{"git_sha":"$sha","sf":"$sfDir","loadavg":{"start":"$loadStart","end":"$loadEnd"},"probes":$probesJson}}\n"""
      // Every run lands in BENCH_LINES_LAST.jsonl (gitignored scratch —
      // the capture-independent recovery path). The COMMITTED canonical
      // record, BENCH_LINES.jsonl, is written only when the caller opts
      // in with SPARK_GRAFT_RECORD=1: two rounds running, the driver's
      // loaded re-run clobbered the builder's clean closing record
      // because every invocation wrote the canonical file.
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LINES_LAST.jsonl"),
        jsonl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (sys.env.get("SPARK_GRAFT_RECORD").contains("1"))
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LINES.jsonl"),
          jsonl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"[bench] BENCH_LINES write skipped: ${e.getMessage}") }
    // Loud validity flags (round-7/8 artifacts were only adjudicable
    // out-of-band): dirty = uncommitted edits in the measured tree;
    // load_high = the 5-MIN run-queue above 2 at start — the 1-min field
    // is self-poisoned by sbt's own compile burst (measured 4.2 on an
    // otherwise-idle box), while the 5-min average mostly predates this
    // JVM and reflects whether the BOX was busy. The run still
    // completes — a flagged artifact beats no artifact — but the flags
    // travel with the headline number.
    val dirty = sha.endsWith("-dirty") || sha == "unknown"
    val loadHigh =
      try loadStart.split("\\s+")(1).toDouble > 2.0
      catch { case _: Throwable => false }
    println(f"""{"bench_meta":{"git_sha":"$sha","n_queries":${results.size},"loadavg":{"start":"$loadStart","end":"$loadEnd"},"probes":$probesJson,"procs":$procs,"dirty":$dirty,"load_high":$loadHigh}}""")
    // regression flags (computed pre-stop, above) plus their re-times:
    // a flag whose retime verdict is "load" is exonerated IN-ARTIFACT
    val regressions: Seq[String] = flagged.map { case (n, v, f) =>
      f"""{"query":"$n","sec":$v%.2f,"floor":$f%.2f}"""
    }
    if (regressions.nonEmpty)
      println(s"""{"bench_regressions":[${regressions.mkString(",")}]}""")
    retimes.foreach { case (env, entries) =>
      println(s"""{"bench_retime_env":$env}""")
      println(s"""{"bench_retimes":[${entries.mkString(",")}]}""")
    }
    // Per-query timings print LAST (after the flag/retime lines, directly
    // before the one-line total) so a bounded tail capture keeps them.
    timingLines.foreach(println)
    // wide_reps only when a *_wide query actually ran — reporting a rep
    // policy that was never exercised misstates the run's protocol.
    val wideReps =
      if (selected.exists(_.name.endsWith("_wide"))) s""","wide_reps":${reps.max(3)}""" else ""
    println(f"""{"metric":"total","unit":"sec","value":$total%.2f,"reps":$reps$wideReps,"sf":"$sfDir","dirty":$dirty,"load_high":$loadHigh,"n_regressions":${regressions.size},"failed":$failedJson}""")
  }
}
