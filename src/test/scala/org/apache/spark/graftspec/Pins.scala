package org.apache.spark.graftspec

import org.apache.spark.SparkContext
import org.apache.spark.rdd.LocalRDDCheckpointData

/** Block-store access for specs that check what a query leaves cached.
  * Whether an RDD is a local-checkpoint pin is private to Spark's
  * package. */
object Pins {

  /** Ids of the persisted RDDs that are not local-checkpoint pins: the
    * `persist`/`cache` layouts a query must release. A pin whose job
    * failed stays registered without data; it counts as a pin here. */
  def cached(sc: SparkContext): Set[Int] =
    sc.getPersistentRDDs.filterNot(_._2.checkpointData.exists(
      _.isInstanceOf[LocalRDDCheckpointData[_]])).keySet.toSet
}
