package org.apache.spark.vecbench

import org.apache.spark.SparkContext

/** Waits until every listener has received every event posted so far, so
  * the benchmark reads its ledger only once the ledger is complete. The
  * listener bus is Spark-private; this is the one call the benchmark makes
  * through it. */
object BusDrain {
  def drain(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
