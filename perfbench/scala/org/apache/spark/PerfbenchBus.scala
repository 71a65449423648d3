package org.apache.spark

/** The listener bus drain is package-private to Spark; this shim lets the
  * benchmark's tracer wait for every job and task event before it reads its
  * counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
