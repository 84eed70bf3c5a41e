package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for behavioral suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The number of Spark jobs `body` starts, counted by a listener
    * between two listener fences. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.graftspec.ListenerFence.await(sc) // earlier jobs' events first
    sc.addSparkListener(listener)
    try { body; org.apache.spark.graftspec.ListenerFence.await(sc) }
    finally sc.removeSparkListener(listener)
    started.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the tests run the engine exactly as the entrypoints configure it
    // (GraftSession is the one definition point — committer v2, codegen
    // width, checkpoint hygiene, bucketed-scan policy)
    val s = GraftSession.configure(SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
