package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.StageInfo

/** Bridge to `private[spark]` instrumentation — used by [[graft.Bench]]'s
  * per-query recording and by specs that read listener metrics. No
  * correctness path uses this. */
object ListenerBridge {
  /** Drain the listener bus, so per-query stage metrics are fully
    * delivered before a listener is read (the bus is async; reading
    * without a drain undercounts the last stages). */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a submitted stage writes shuffle output (a shuffle map stage). */
  def writesShuffle(info: StageInfo): Boolean = info.shuffleDepId.isDefined

  /** Generated classes Janino has compiled in this JVM so far (the count
    * of Spark's compilation-time histogram). Spark's codegen cache is
    * JVM-wide, so a delta around one query counts the classes that query
    * compiled rather than found in the cache. */
  def compiledClasses(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
