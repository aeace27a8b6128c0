// Lives under org.apache.spark.sql so the strategy can reach the session's
// planner (JoinSelection) and the classic session's state.
package org.apache.spark.sql.graftx

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, SinglePartition}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.joins.ShuffledJoin
import org.apache.spark.sql.internal.SQLConf

/** Shuffled joins of one-partition inputs report `SinglePartition`.
  *
  * An inner shuffled join reports its inputs' partitionings as a
  * `PartitioningCollection`. When both inputs hold one partition that is
  * `PartitioningCollection(SinglePartition, SinglePartition)`, and
  * `EnsureRequirements` only keeps single-partition join inputs in place
  * when each reports exactly `SinglePartition`. So in a loop that joins
  * the output of one join again (a superstep's second hop), the second
  * join re-shuffles both inputs into one partition each, and its
  * aggregate shuffles once more: three exchanges over data that never
  * leaves its one partition.
  *
  * The strategy applies only where the session never re-shuffles single
  * partitions for parallelism (`spark.sql.maxSinglePartitionBytes` at
  * `Long.MaxValue`, the superstep scope's setting), so plans elsewhere
  * keep their shape. There it plans a join as Spark does and, when the
  * result is a shuffled join, wraps it in [[OnePartitionExec]].
  */
case class OnePartitionJoins(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: Join if SQLConf.get.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES) == Long.MaxValue =>
      val planned = session.asInstanceOf[classic.SparkSession].sessionState.planner
        .JoinSelection(j)
      if (planned.nonEmpty && planned.forall(_.isInstanceOf[ShuffledJoin]))
        planned.map(OnePartitionExec)
      else Nil
    case _ => Nil
  }
}

/** A pass-through node over a join: it executes its child unchanged and
  * reports `SinglePartition` where the child reports a one-partition
  * `PartitioningCollection`; otherwise the child's partitioning. */
case class OnePartitionExec(child: SparkPlan) extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: PartitioningCollection if p.numPartitions == 1 => SinglePartition
    case p => p
  }

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  private def codegenChild: CodegenSupport = child.asInstanceOf[CodegenSupport]

  override def supportCodegen: Boolean = child match {
    case c: CodegenSupport => c.supportCodegen
    case _ => false
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] = codegenChild.inputRDDs()

  override def needCopyResult: Boolean = codegenChild.needCopyResult

  override protected def doProduce(ctx: CodegenContext): String =
    codegenChild.produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    consume(ctx, input)

  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionExec =
    copy(child = newChild)
}
