package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Read-only access to Spark counters that are package-private. */
object SparkInternals {

  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Generated classes compiled so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds spent compiling generated code so far in this JVM. */
  def codegenCompileNanos: Long = CodeGenerator.compileTime
}
