package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus drain the benchmark needs between two traced
  * operations, so every job, stage, task and query-execution event of
  * one operation is attributed before the next one starts. The bus is
  * Spark-internal, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
