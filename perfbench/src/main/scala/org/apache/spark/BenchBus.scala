package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener has seen all jobs of the spans it just closed.
  * (`listenerBus` is package-private to Spark, hence this package.)
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
