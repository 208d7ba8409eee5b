package org.apache.spark

/** Lets the traced run wait until the listener bus has delivered every event
  * of a call, so each job, task and query lands in the span that caused it.
  * The bus is package-private to Spark, hence this one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
