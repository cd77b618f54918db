package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus package-private; the tracer needs to know
  * that every event of a timed op has been delivered before it switches
  * recording off for the untimed output check that follows.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
