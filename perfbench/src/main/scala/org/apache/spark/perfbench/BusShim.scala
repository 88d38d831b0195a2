package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events on its own threads; the tracer waits
  * for it to drain so every event of an op is counted against that op. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
