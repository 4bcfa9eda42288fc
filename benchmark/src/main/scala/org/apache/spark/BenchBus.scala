package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event,
  * so the benchmark's tracer sees a call's jobs and tasks before it
  * reports. The bus is private to Spark's package, hence this file's. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
