package org.apache.spark

/** Spark internals the benchmark reads, which are visible only inside
  * `org.apache.spark`.
  */
object PerfbenchSpark {

  /** The listener bus delivers events asynchronously; the traced run reads
    * its counters only after every event of the iteration has arrived.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Generated classes compiled so far (whole-stage and expression
    * codegen); a compile is a code-cache miss.
    */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
