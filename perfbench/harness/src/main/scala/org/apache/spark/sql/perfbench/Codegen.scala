package org.apache.spark.sql.perfbench

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's code-generation counters. `CodegenMetrics` is `private[spark]`,
  * hence this accessor's package. */
object Codegen {
  /** Classes compiled so far in this JVM: every miss of Spark's cache of
    * compiled generated code. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
