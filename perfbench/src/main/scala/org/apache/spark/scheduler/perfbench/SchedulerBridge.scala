package org.apache.spark.scheduler.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Reads the scheduler state the benchmark's trace needs and Spark keeps
  * package-private: the number of jobs submitted so far, and a way to post
  * an event behind everything already queued for listeners. */
object SchedulerBridge {

  /** Jobs submitted since the context started (job ids are 0 until this). */
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs

  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
}
