package org.apache.spark.sql.graftshim

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's process-wide codegen counters (`CodegenMetrics` is
  * `private[spark]`; this package is inside it).
  */
object CodegenShim {
  /** Janino compilations this JVM has run — codegen-cache misses. */
  def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
