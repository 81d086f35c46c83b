package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events post asynchronously; the traced run drains the bus
  * before it reads its listeners (`listenerBus` is private[spark]).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
