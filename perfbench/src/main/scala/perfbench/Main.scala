package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One operation: an HTTP request or a gate. */
final case class Op(kind: String, seconds: Double, ok: Boolean)

/** One pass over a workload's operations, and its DAG times. */
final case class PassResult(ops: Seq[Op], dags: Seq[Double], wallS: Double)

trait Workload {
  def start(): Unit = ()
  /** One pass as a user drives the workload: the end-to-end passes. */
  def pass(check: Boolean): PassResult
  /** One pass in this thread through the layers' public functions, with
    * `sp` around each call: the traced run's passes, traced and not. */
  def inProcessPass(sp: Spans, check: Boolean): PassResult
  /** The untimed warm-up before the first timed pass: one pass. */
  def warmUp(): PassResult = pass(check = false)
  def stop(): Unit = ()
  def describe: String
}

/** The benchmark's JVM side: one workload in one fresh session, driven by
  * perfbench/run.py, which makes the inputs and checks the outputs.
  *
  * Untraced (`--trace 0`): session start, the workload's untimed warm-up, then
  * timed passes until `--seconds` have passed (at least two). Traced
  * (`--trace 1`): the same warm-up, then in-process passes, traced ones
  * between untraced ones that make the same calls, until `--seconds` have
  * passed; the traced passes give the per-layer numbers (median over
  * passes), the untraced ones the tracing overhead.
  *
  * Prints one line `PERFBENCH <json>` with the raw samples.
  */
object Main {

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val dir = opts("dir")
    val t0 = System.nanoTime()
    val spark = GraftSession.localBuilder(opts("cpus"))
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "survey_dag" => new SurveyDag(spark, dir, opts("spec"))
      case _ => new RegistrySlice(spark, opts("sf-dir"), opts("gates").split(",").toSeq,
        opts("seed").toLong)
    }
    if (workload == "select") select(spark, w.asInstanceOf[RegistrySlice], opts)
    w.start()
    val u0 = System.nanoTime()
    val warm = w.warmUp()
    val warmS = (System.nanoTime() - u0) / 1e9
    log(f"session $sessionS%.1f s, warm-up $warmS%.1f s")

    val out = new ObjectMapper().createObjectNode()
    out.put("describe", w.describe)
    out.put("session_s", sessionS)
    out.put("warmup_s", warmS)
    out.put("warmup_failed", warm.ops.count(!_.ok))
    val deadline = System.nanoTime() + (opts("seconds").toDouble * 1e9).toLong
    if (opts("trace") == "1") tracedRun(spark, w, deadline, out) else untraced(w, deadline, out)
    w.stop()
    out.put("peak_rss_mb", vmHwmMb())
    // load evidence: the JVM's own CPU and collector time over the whole run
    out.put("jvm_cpu_s", java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9)
    out.put("jvm_gc_s", java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1e3)
    w match {
      case s: SurveyDag =>
        val a = out.putArray("outputs")
        s.written.foreach { case (m, n, p) => a.addArray().add(m).add(n).add(p) }
      case _ => ()
    }
    println("PERFBENCH " + out.toString)
    // the registry slices' output check: graft.Verify dumps the slice for
    // the DuckDB oracle; it reuses this session and stops it when done
    if (opts.contains("verify-out"))
      graft.Verify.main(Array(opts("sf-dir"), opts("verify-out"), opts("gates")))
    else spark.stop()
    // PipelineServer's request pool is not daemon: end the JVM explicitly
    sys.exit(0)
  }

  /** The slice-selection measurement: for each gate, one untimed run, then
    * one traced run recording its task output bytes, the bytes it left
    * under the scratch directory, and the stream batches it drained. */
  private def select(spark: SparkSession, w: RegistrySlice, opts: Map[String, String]): Unit = {
    val out = new ObjectMapper().createObjectNode()
    val a = out.putArray("select")
    val scratch = new java.io.File(sys.props("java.io.tmpdir"))
    def bytesUnder(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L) else f.length
    for (q <- w.gates) {
      w.run(q, Untraced)
      val before = bytesUnder(scratch)
      val tr = new Trace(spark)
      tr.start()
      graft.streaming.EventStreams.resetDrainStats()
      val t0 = System.nanoTime()
      val ok = w.run(q, tr)
      val sec = (System.nanoTime() - t0) / 1e9
      tr.stop()
      val acc = tr.result()._1.getOrElse("op.gate", new Acc)
      a.addObject().put("gate", q.name).put("ok", ok).put("seconds", sec)
        .put("jobs", acc.jobs).put("output_bytes", acc.outBytes)
        .put("scratch_bytes", bytesUnder(scratch) - before)
        .put("stream_batches", graft.streaming.EventStreams.drainStats.batches)
      log(a.get(a.size - 1).toString)
    }
    println("PERFBENCH " + out.toString)
    graft.Verify.main(Array(opts("sf-dir"), opts("verify-out"), opts("gates")))
    sys.exit(0)
  }

  private def untraced(w: Workload, deadline: Long, out: ObjectNode): Unit = {
    val passes = mutable.ListBuffer.empty[PassResult]
    while (passes.size < 2 || System.nanoTime() < deadline) {
      passes += w.pass(check = true)
      log(f"pass ${passes.size}: ${passes.last.wallS}%.2f s; " +
        passes.last.ops.map(o => f"${o.kind} ${o.seconds}%.2f").mkString(", "))
    }
    val ops = passes.flatMap(_.ops).toSeq
    out.put("passes", passes.size)
    putOps(out, ops)
    val lat = out.putArray("op_seconds")
    ops.foreach(o => lat.add(o.seconds))
    val dags = out.putArray("dag_seconds")
    passes.flatMap(_.dags).foreach(dags.add(_))
    val walls = out.putArray("pass_seconds")
    passes.foreach(p => walls.add(p.wallS))
  }

  /** Untraced and traced in-process passes alternate, starting and ending
    * untraced; each traced pass is compared with the mean of the untraced
    * passes on either side, so a trend across passes does not read as
    * overhead. */
  private def tracedRun(spark: SparkSession, w: Workload, deadline: Long, out: ObjectNode): Unit = {
    val layers = mutable.ListBuffer.empty[Map[String, Double]]
    val overhead = mutable.ListBuffer.empty[Double]
    // the first in-process pass after the warm-up runs slower than the
    // next ones (by 3-12% here): it is not compared
    val first = w.inProcessPass(Untraced, check = false)
    var plain = w.inProcessPass(Untraced, check = false)
    val ops = mutable.ListBuffer.empty[Op] ++= first.ops ++= plain.ops
    while (layers.isEmpty || System.nanoTime() < deadline) {
      val tr = new Trace(spark)
      tr.start()
      val t = w.inProcessPass(tr, check = true)
      tr.stop()
      layers += Layers.report(tr, w)
      val next = w.inProcessPass(Untraced, check = false)
      overhead += t.wallS / ((plain.wallS + next.wallS) / 2) - 1.0
      ops ++= t.ops ++= next.ops
      log(f"traced ${t.wallS}%.2f s between untraced ${plain.wallS}%.2f s and ${next.wallS}%.2f s")
      plain = next
    }
    out.put("passes", layers.size)
    putOps(out, ops.toSeq)
    val m = out.putObject("layers")
    layers.head.keys.toSeq.sorted.foreach(k => m.put(k, median(layers.map(_(k)).toSeq)))
    m.put("trace.overhead_frac", median(overhead.toSeq))
  }

  /** Operation counts: attempted, failed, and per kind (gate name or
    * request type) so a gate found wrong later fails all its runs. */
  private def putOps(out: ObjectNode, ops: Seq[Op]): Unit = {
    out.put("attempted", ops.size)
    out.put("failed", ops.count(!_.ok))
    val perKind = out.putObject("ops_per_kind")
    ops.groupBy(_.kind).foreach { case (k, v) => perKind.put(k, v.size) }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
