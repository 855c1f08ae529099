package org.apache.spark

/** The one engine-internal call the benchmark needs: wait until the
  * listener bus has delivered every event, so per-span totals are complete
  * before they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
