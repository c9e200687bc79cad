package org.apache.spark.layerbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the tracer drains the bus
  * (outside every timer) before it reads what its listeners saw. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
