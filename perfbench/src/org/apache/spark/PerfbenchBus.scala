package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-op counters are read after the op's stages
  * have reported in. The listener bus is internal to Spark; this is the
  * one hook the benchmark needs from inside its package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
