package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so counters read after a run include its last tasks. The bus is
  * package-private to Spark, hence this file's package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
