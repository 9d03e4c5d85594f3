package org.apache.spark

/** The two Spark internals the benchmark reads, exposed from inside
  * Spark's package: the codegen compile counter and the listener-bus
  * drain that makes listener counts complete before they are read. */
object PerfbenchAccess {
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
