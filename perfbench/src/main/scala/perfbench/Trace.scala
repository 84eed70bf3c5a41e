package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.perfbench.SchedulerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Posted behind every queued listener event; seeing it means the listeners
  * have processed everything posted before it. */
final case class Fence(id: Long) extends SparkListenerEvent

/** Spans around calls into the engine's layers. A workload's in-process
  * pass makes the same calls with [[Untraced]] or with a [[Trace]], so the
  * two differ only by the tracing. */
trait Spans {
  def span[T](name: String)(body: => T): T
  /** One operation (a request or a gate) of kind `kind`. */
  def op[T](kind: String)(body: => T): T
}

/** Spans that only run their body. */
object Untraced extends Spans {
  def span[T](name: String)(body: => T): T = body
  def op[T](kind: String)(body: => T): T = body
}

/** What one span name accumulated over a traced pass. */
final class Acc {
  var wallNs, jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, spill, outBytes, inBytes, inRecords = 0L
  var planningMs, compiles, compileNs = 0L
}

/** Spans around calls into the engine's layers, with Spark work attributed
  * to them.
  *
  * A span sets a SparkContext job tag (`pb:<name>`) for its duration, so
  * every job it launches, and every stage and task of that job, carries the
  * names of all spans open at the time. A SparkListener sums task metrics
  * per tag; a QueryExecutionListener collects the planning-phase times,
  * which are matched to spans by time. Codegen compiles are read from the
  * JVM-wide counters at span entry and exit; the benchmark runs one
  * operation at a time, so the difference belongs to the span.
  *
  * An operation (`op`) is one request or one gate: it also gets a tag of
  * its own, from which `preJob` (start to first job) and `driverOnly`
  * (wall time with no job running) are computed.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with Spans {
  private val sc = spark.sparkContext
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private final class JobRec(val tags: Set[String], val startMs: Long) { var endMs = -1L }
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val phases = mutable.ListBuffer.empty[(Long, Long)]
  private final case class SpanRec(name: String, startMs: Long, endMs: Long)
  private val spans = mutable.ListBuffer.empty[SpanRec]
  final case class OpRec(kind: String, tag: String, startMs: Long, endMs: Long)
  private val ops = mutable.ListBuffer.empty[OpRec]
  private var firstJob = 0
  private var jobsEnded = 0
  private var fenceSeen = 0L
  private var fenceNext = 0L
  private var opSeq = 0

  private def acc(name: String): Acc = accs.getOrElseUpdate(name, new Acc)

  /** Starts collecting: registers both listeners. */
  def start(): Unit = {
    firstJob = SchedulerBridge.jobsSubmitted(sc)
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits until every job submitted since [[start]] has posted its end
    * event, then until the listeners have drained everything queued behind
    * those jobs (the planning callbacks), and unregisters. */
  def stop(): Unit = {
    val submitted = SchedulerBridge.jobsSubmitted(sc) - firstJob
    awaitUntil(s"$submitted job-end events")(jobsEnded >= submitted)
    val id = synchronized { fenceNext += 1; fenceNext }
    SchedulerBridge.post(sc, Fence(id))
    awaitUntil("the listener fence")(fenceSeen >= id)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def awaitUntil(what: String)(cond: => Boolean): Unit = synchronized {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!cond) {
      val left = (deadline - System.nanoTime()) / 1000000L
      if (left <= 0) throw new IllegalStateException(s"trace: timed out waiting for $what")
      wait(left)
    }
  }

  def span[T](name: String)(body: => T): T = {
    val tag = s"pb:$name"
    val open = sc.getJobTags().contains(tag)
    if (!open) sc.addJobTag(tag)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      if (!open) sc.removeJobTag(tag)
      synchronized {
        val a = acc(name)
        a.wallNs += ns
        a.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        a.compileNs += CodeGenerator.compileTime - n0
        spans += SpanRec(name, w0, System.currentTimeMillis())
      }
    }
  }

  /** One operation of kind `kind`: a span named `op.<kind>` plus a tag of
    * its own for the per-operation job timeline. */
  def op[T](kind: String)(body: => T): T = {
    val tag = synchronized { opSeq += 1; s"pbop:$opSeq" }
    sc.addJobTag(tag)
    val w0 = System.currentTimeMillis()
    try span(s"op.$kind")(body)
    finally {
      sc.removeJobTag(tag)
      synchronized { ops += OpRec(kind, tag, w0, System.currentTimeMillis()) }
    }
  }

  private def tagsOfStage(stageId: Int): Set[String] =
    stageJob.get(stageId).flatMap(jobs.get).map(_.tags).getOrElse(Set.empty)

  private def spanNames(tags: Set[String]): Set[String] =
    tags.collect { case t if t.startsWith("pb:") => t.stripPrefix("pb:") }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    jobs(e.jobId) = new JobRec(tags, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    spanNames(tags).foreach(acc(_).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    if (e.jobId >= firstJob) jobsEnded += 1
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    spanNames(tagsOfStage(e.stageInfo.stageId)).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) spanNames(tagsOfStage(e.stageId)).foreach { n =>
      val a = acc(n)
      a.tasks += 1
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outBytes += m.outputMetrics.bytesWritten
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case Fence(id) => synchronized { fenceSeen = id; notifyAll() }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded, read once after [[stop]]: per-span accumulators
    * (planning time matched to spans by time), and the operations. */
  def result(): (Map[String, Acc], Seq[OpTimeline]) = synchronized {
    for ((start, dur) <- phases; s <- spans if s.startMs <= start && start <= s.endMs)
      acc(s.name).planningMs += dur
    val timelines = ops.toSeq.map { o =>
      val intervals = jobs.values.filter(_.tags.contains(o.tag))
        .map(j => (j.startMs max o.startMs, (if (j.endMs < 0) o.endMs else j.endMs) min o.endMs))
        .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
      var busy = 0L
      var cursor = o.startMs
      for ((s, e) <- intervals) {
        val from = s max cursor
        if (e > from) { busy += e - from; cursor = e }
      }
      val firstJobAt = intervals.headOption.map(_._1).getOrElse(o.endMs)
      OpTimeline(o.kind, (o.endMs - o.startMs) / 1e3, (firstJobAt - o.startMs) / 1e3,
        (o.endMs - o.startMs - busy) / 1e3)
    }
    (accs.toMap, timelines)
  }
}

/** One operation's wall time, time before its first job, and time with no
  * job running, in seconds. */
final case class OpTimeline(kind: String, wallS: Double, preJobS: Double, driverOnlyS: Double)
