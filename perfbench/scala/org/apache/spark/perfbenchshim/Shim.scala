package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting until the listener bus has delivered every
  * queued event, so a traced window's counts are complete before they are
  * summed.
  */
object Shim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
