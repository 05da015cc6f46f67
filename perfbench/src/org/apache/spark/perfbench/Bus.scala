package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the benchmark reads
  * its listeners only after the bus has drained. */
object Bus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
