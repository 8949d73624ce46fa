package org.apache.spark

/** Lives in Spark's package for its one `private[spark]` call: blocking
  * until the listener bus has delivered every event posted so far, so a
  * trace is read only after it has seen the pass it measured. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
