package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window

/** Institutional lint kernel for the `ml_conformal_interval` bug class
  * (round-8 verdict weak item): a window with NO partition columns (or
  * only constant-foldable ones, e.g. `partitionBy(lit(0))`) plans as a
  * single task holding its entire input — fine when the input is
  * provably k/model/vocab-bounded (a `limit(k)` head, a label-domain
  * aggregate), a serialization cliff when the input scales with the
  * data. [[WindowAuditSpec]] sweeps EVERY declared query's optimized
  * plan through [[globalWindows]] and fails on any site not enumerated
  * with a size justification, printing every unlisted site as a
  * `query :: windows` line.
  *
  * Operating on the OPTIMIZED LOGICAL plan (not the physical one) keeps
  * the sweep AQE-agnostic and catches windows that arrive via SQL text
  * (`expr("... over ()")`) as well as the `Window.orderBy(...)` API.
  */
object WindowAudit {

  /** Descriptors (output column names) of every window in `df`'s
    * optimized plan whose partition spec is empty or all-constant —
    * i.e. every window Spark would log "No Partition Defined for Window
    * operation" for. Subqueries included. */
  def globalWindows(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: Window if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) =>
        w.windowExpressions.map(_.name).sorted.mkString(",")
    }
}
