package org.apache.spark.cepbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]`: the traced run
  * waits for queued task, job and query-execution events before it reads
  * the numbers its listeners collected. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
