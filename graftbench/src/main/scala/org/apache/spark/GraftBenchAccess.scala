package org.apache.spark

/** The one Spark-internal the benchmark needs: waiting until the listener
  * bus has delivered every event posted so far, so a traced op's jobs are
  * all recorded before they are attributed.
  */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
