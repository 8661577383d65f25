package org.apache.spark.sql

import org.apache.spark.sql.execution.SparkPlan

/** Session internals the benchmark reads but the public API hides. */
object PerfbenchShims {
  /** Block until every posted listener event has been delivered, so
    * listener totals are complete when read. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** No Dataset is registered in the session's CacheManager. */
  def cacheManagerEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Phase durations (ms) recorded by the query's QueryPlanningTracker:
    * "analysis", "optimization", "planning". */
  def planningPhasesMs(df: DataFrame): Map[String, Long] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.tracker.phases
      .map { case (k, v) => k -> v.durationMs }

  /** Force physical planning and return the executed plan (the same plan
    * object a following action on `df` runs). */
  def executedPlan(df: DataFrame): SparkPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan

  /** Whole-stage and expression classes compiled so far in this JVM (a
    * codegen cache miss compiles one). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
