/*
 * Lives under org.apache.spark.sql so it can reach package-private
 * execution internals (same trick as Expressions.scala): a block-store
 * release helper and the loop-state pin's plan node.
 */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Narrow accessors for Spark execution internals. */
object Internals {

  /** Deterministically frees the block-store partitions behind a
    * `Dataset.localCheckpoint()` result. `df.rdd.unpersist` canNOT do
    * this (`.rdd` builds a fresh conversion RDD on top); the materialized
    * blocks belong to the internal RDD inside the checkpoint's
    * `LogicalRDD` node. Without an explicit release, checkpoint blocks
    * linger until the JVM garbage-collects the RDD reference and the
    * ContextCleaner notices — across a long session of many upserts that
    * is an unbounded block-store residue (round-8 advisor finding).
    *
    * MUST only be called after every consumer of the checkpointed data
    * has finished: unpersisting invalidates the local checkpoint, and
    * any later access fails rather than recomputing. No-op for frames
    * that are not local-checkpoint results.
    *
    * Releases through `SparkContext.unpersistRDD` (private to Spark's
    * package) rather than `RDD.unpersist`, which logs a WARN that the
    * RDD's lineage is truncated on every call — expected here, since the
    * caller is done with the data, and noise that would hide real
    * warnings in every superstep loop and upsert. */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
      case _ => ()
    }

  /** `pinned`, a `Dataset.localCheckpoint()` result, re-planned over the
    * same checkpointed RDD with what the pin measured:
    *  - statistics of `rows` rows (`rowCount`, and `sizeInBytes` from the
    *    row count and the schema's row width) instead of the optimizer's
    *    estimate of the frame it checkpointed, which compounds through
    *    every join of a loop's earlier rounds;
    *  - `SinglePartition` when the RDD holds one partition, instead of the
    *    executed plan's partitioning (a one-partition hash partitioning
    *    or a `PartitioningCollection` of it), so that single-partition
    *    joins read it in place.
    * Frames that are not local-checkpoint results are returned as is. */
  def measured(pinned: DataFrame, rows: Long): DataFrame =
    pinned.queryExecution.logical match {
      case lr: LogicalRDD =>
        val stats = Statistics(
          sizeInBytes = EstimationUtils.getOutputSize(lr.output, BigInt(rows)),
          rowCount = Some(BigInt(rows)))
        val partitioning =
          if (lr.rdd.getNumPartitions == 1) SinglePartition else lr.outputPartitioning
        val session = pinned.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          LogicalRDD(lr.output, lr.rdd, partitioning, lr.outputOrdering, lr.isStreaming)(
            session, Some(stats), Some(lr.constraints)))
      case _ => pinned
    }
}
