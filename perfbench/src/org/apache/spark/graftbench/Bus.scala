package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark recorder. The bus is private to
  * Spark's package; draining it makes every event of the work done so far
  * visible to attached listeners before their tallies are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
