package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Test access to the JVM-wide count of generated classes compiled so
  * far (every compilation records one compile-time sample). */
object CodegenCompilations {
  def apply(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
