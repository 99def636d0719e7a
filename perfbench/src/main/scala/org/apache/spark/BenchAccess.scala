package org.apache.spark

/** The one package-private call the benchmark's trace needs: wait until
  * the listener bus has delivered every event posted so far, so the
  * counts attached to a span are complete before they are read. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
