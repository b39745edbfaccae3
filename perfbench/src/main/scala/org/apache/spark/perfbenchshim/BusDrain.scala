package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so a
  * trace read after the last operation is complete. The bus is
  * `private[spark]`; this object lives under `org.apache.spark` only to
  * reach it. It does not time or split anything.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
