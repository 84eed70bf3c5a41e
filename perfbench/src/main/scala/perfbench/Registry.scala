package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.QueryDef
import graft.streaming.EventStreams

/** A slice of registry gates (`lake_write`), run one at a
  * time through `QueryDef.build` plus the `noop` sink, the way the
  * engine's Bench runs them. The seed only permutes the order. */
final class RegistrySlice(spark: SparkSession, sfDir: String, names: Seq[String], seed: Long)
    extends Workload {

  val gates: Seq[QueryDef] = {
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(", ")}")
    new scala.util.Random(seed).shuffle(names).map(byName)
  }

  /** Stream accounting of the last traced pass, from EventStreams' drain
    * statistics: trigger seconds, batches and the stream gates' wall. */
  var streamTriggerS, streamWallS = 0.0
  var streamBatches = 0L

  /** The gates run in this JVM in either case. */
  def pass(check: Boolean): PassResult = inProcessPass(Untraced, check)

  /** Three passes: after a one-pass warm-up the gates kept speeding up
    * over the next three or four passes. */
  override def warmUp(): PassResult = {
    val ps = Seq.fill(3)(pass(check = false))
    PassResult(ps.flatMap(_.ops), Nil, ps.map(_.wallS).sum)
  }

  def inProcessPass(sp: Spans, check: Boolean): PassResult = {
    val ops = mutable.ListBuffer.empty[Op]
    streamTriggerS = 0.0; streamWallS = 0.0; streamBatches = 0L
    val t0 = System.nanoTime()
    for (q <- gates) {
      EventStreams.resetDrainStats()
      val q0 = System.nanoTime()
      val ok = run(q, sp)
      val wall = (System.nanoTime() - q0) / 1e9
      val ds = EventStreams.drainStats
      if (ds.batches > 0) {
        streamBatches += ds.batches
        streamTriggerS += ds.triggerMs / 1e3
        streamWallS += wall
      }
      ops += Op(q.name, wall, ok)
    }
    PassResult(ops.toSeq, Seq((System.nanoTime() - t0) / 1e9), (System.nanoTime() - t0) / 1e9)
  }

  /** One build + execute of a gate; false when it throws. */
  def run(q: QueryDef, sp: Spans): Boolean =
    try {
      sp.op("gate") {
        val df = sp.span("queries.build")(q.build(spark, sfDir))
        sp.span("queries.execute")(df.write.format("noop").mode("overwrite").save())
      }
      true
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[registry] ${q.name} failed: ${e.getMessage}"); false }

  def describe: String = s"${gates.size} gates at $sfDir, order ${gates.map(_.name).mkString(",")}"
}
