package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Listener-bus access for specs that count Spark events. The bus is
  * private to Spark's package; draining it makes every event of the work
  * done so far visible to attached listeners before their tallies are
  * read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
