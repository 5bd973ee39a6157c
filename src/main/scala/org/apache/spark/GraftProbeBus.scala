package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so `graft.Probe`'s counters read after a call include its last
  * tasks, without posting a barrier job. The bus is package-private
  * to Spark, hence this file's package. */
object GraftProbeBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
