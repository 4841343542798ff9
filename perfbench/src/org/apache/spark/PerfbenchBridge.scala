package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far, so the traced
  * run's job and task records are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
