package org.apache.spark.graftprobe

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; `graft.util.Probe` drains the
  * bus (outside every timer) before it reads what its listener saw. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
