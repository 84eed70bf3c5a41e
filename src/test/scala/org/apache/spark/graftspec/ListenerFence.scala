package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. `await` returns once
  * every event posted so far has been delivered to every listener, so a
  * spec that reads what a listener saw after an action sees all of it,
  * with no poll and no grace sleep. The listener bus is `private[spark]`,
  * hence this package. */
object ListenerFence {
  def await(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
