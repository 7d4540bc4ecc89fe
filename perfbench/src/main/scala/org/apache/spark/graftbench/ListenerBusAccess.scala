package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run drains
  * it before attributing jobs, stages and tasks to the operation that ran
  * them. `listenerBus` is `private[spark]`, hence this package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
