package org.apache.spark

/** Spark internals the tests read, which are visible only inside
  * `org.apache.spark`.
  */
object GraftTestSpark {

  /** Generated classes compiled so far in this JVM (whole-stage and
    * expression codegen); a compile is a code-cache miss.
    */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Block until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
