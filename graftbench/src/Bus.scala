package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener has seen all jobs of a finished call before its
  * numbers are read (the bus is asynchronous; its drain hook is
  * package-private to Spark). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
