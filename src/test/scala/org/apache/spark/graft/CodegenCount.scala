package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Janino compilations so far in this JVM (`CodegenMetrics` is
  * `private[spark]`). */
object CodegenCount {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
