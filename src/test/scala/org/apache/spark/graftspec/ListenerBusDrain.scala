package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until every event already posted to the listener bus has
  * reached its listeners. The bus is `private[spark]`, hence this
  * package; specs that count jobs call it before reading a count.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
