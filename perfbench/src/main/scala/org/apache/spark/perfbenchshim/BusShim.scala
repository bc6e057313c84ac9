package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Lets the benchmark read listener counts at an exact boundary: every
  * event posted before the call has been delivered when it returns. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
