package org.apache.spark

/** The one `private[spark]` call the benchmark's traced mode needs: wait
  * until every posted listener event has been delivered, so the counters
  * of one op are complete before the next op starts. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Generated classes Spark has compiled in this JVM (codegen cache misses). */
  def codegenCompiles(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
