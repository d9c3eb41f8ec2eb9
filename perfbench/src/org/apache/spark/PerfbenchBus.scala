package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * posted event, so per-operation counters are complete before they are
  * read. `listenerBus` is package-private to `org.apache.spark`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
