package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark posts listener events asynchronously; the traced run reads its
  * listeners' counters only after every queued event is delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
