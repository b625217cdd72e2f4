package org.apache.spark

/** The listener bus is delivered asynchronously; the benchmark reads its
  * counters only after every posted event has reached the listeners. */
object SketchbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
