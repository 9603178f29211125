package org.apache.spark

/** Reaches the one Spark-internal call the benchmark needs: wait until the
  * listener bus has delivered every queued event, so listener counts cover
  * the whole timed window. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
