package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so the
  * tracer's counts are complete before they are read. The bus is
  * `private[spark]`, hence this one-method bridge in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
