package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. Before the harness reads
  * what its listeners recorded for an iteration, it waits until every
  * event posted so far has been delivered. The bus is package-private to
  * Spark, hence this one-line bridge inside Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
