package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names — default all]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // engine configs (committer v2, codegen width, checkpoint hygiene,
    // bucketed-scan policy, …) from the shared factory — see GraftSession
    val spark = GraftSession.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // name any testdata drift in this run's own stderr (round-7 lesson)
    graft.sources.TestdataContract.warn(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // Per-query dump timing → verify_meta.json: the gate's self-
    // diagnostic. Round 13's official correctness artifact came back
    // empty because the gate ran past the driver's budget and nothing
    // recorded where the time went; this meta file (written
    // INCREMENTALLY, after every query) makes a truncated run
    // diagnosable from the artifact alone.
    val t0 = System.nanoTime()
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var nFailed = 0
    def qj(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def writeMeta(done: Boolean): Unit = {
      val wall = (System.nanoTime() - t0) / 1e9
      val per = timings.map { case (k, v) => s"${qj(k)}: ${f"$v%.2f"}" }
        .mkString("{", ",", "}")
      val sha = try {
        val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
          .directory(new java.io.File(".")).start()
        val out = new String(p.getInputStream.readAllBytes()).trim
        p.waitFor(); out
      } catch { case _: Throwable => "unknown" }
      Files.writeString(Paths.get(s"$outDir/verify_meta.json"),
        s"""{"n_queries": ${timings.size}, "n_failed": $nFailed, """ +
          s""""dump_wall_sec": ${f"$wall%.2f"}, "complete": $done, """ +
          s""""git_sha": ${qj(sha)}, "sf_dir": ${qj(sfDir)}, """ +
          s""""per_query_sec": $per}""")
    }
    // PARALLEL DUMP: the 361-query wall is dominated by a long tail of
    // ~1 s fixtures whose cost is per-query fixed overhead (plan, tiny
    // jobs, scratch-dir writes), not cluster work — running several
    // concurrently overlaps that overhead on the same executors
    // (r14: 415 s serial at sf0.01, the gate's dominant cost and the
    // r13 budget-timeout failure mode). Each query gets its OWN child
    // session (spark.newSession(): private SQLConf / temp views /
    // registries over the shared context), so per-gate session-conf
    // tweaks (e.g. a drain's state-partition override) can never leak
    // into a concurrently-planning gate. Scratch dirs are per-gate
    // named and applicationId-scoped, so concurrent gates never share
    // paths. SPARK_GRAFT_VERIFY_PAR=1 restores the serial order for
    // debugging.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt.max(1)
    val lock = new Object
    val work = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    work.foreach(queue.add)
    val threads = (1 to math.min(par, work.size.max(1))).map { _ =>
      val t = new Thread(() => {
        var item = queue.poll()
        while (item != null) {
          val (name, fn) = item
          val tq = System.nanoTime()
          try {
            val s = spark.newSession()
            fn(s, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          } catch { case e: Throwable =>
            lock.synchronized { nFailed += 1 }
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          val sec = (System.nanoTime() - tq) / 1e9
          lock.synchronized {
            timings(name) = sec
            writeMeta(done = false)
          }
          item = queue.poll()
        }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    writeMeta(done = true)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // only the dumped gates' SQL: a gate listed here without a dump
    // reads as a missing output to the checker
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
