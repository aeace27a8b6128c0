/*
 * Lives under org.apache.spark.sql so it can reach package-private
 * execution internals (same trick as Expressions.scala) — the ONLY
 * member here is a block-store release helper, no behavior override.
 */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.DataFrame
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
}
