package org.apache.spark.sql

/** Session internals the tests read but the public API hides. */
object GraftTestShims {
  /** Block until every posted listener event has been delivered, so a
    * listener's counts are complete when read. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
