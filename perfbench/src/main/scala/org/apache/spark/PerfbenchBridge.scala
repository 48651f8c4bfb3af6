package org.apache.spark

/** The one package-private Spark call the benchmark needs: waiting until
  * every posted listener event has been delivered, so a traced pass is
  * attributed only after its last task-end and progress events arrived. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
