package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.LongType

import org.apache.spark.sql.graftx.{CosineSim, DotF, LshBuckets, OnePartitionJoins, SimhashAgg,
  VecSumAgg, ZValue}

/** SparkSessionExtensions registration for the engine's native
  * expressions, making them available to SQL text as `cosine_sim(a, b)`
  * and `zvalue(bits, col…)` (SURVEY.md §4.3; extension point:
  * `SparkSession.builder.withExtensions` or
  * `spark.sql.extensions=graft.engine.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Evaluate a foldable argument to a non-null integral Int, with a
    * usage error (not an NPE/ClassCastException mid-analysis) for NULL,
    * non-numeric, or fractional literals. */
  private def intLiteral(fn: String, arg: String, e: Expression): Int = {
    require(e.foldable, s"$fn: $arg must be a literal")
    e.eval() match {
      case n: Number if n.doubleValue() == n.intValue().toDouble => n.intValue()
      case null => throw new IllegalArgumentException(s"$fn: $arg must not be NULL")
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integral literal, got $other")
    }
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    // opt-in approximation mode: count(DISTINCT x) -> HLL++ sketch under
    // spark.graft.approxDistinct (see graft.plans.ApproxDistinctRewrite)
    e.injectOptimizerRule(graft.plans.ApproxDistinctRewrite)
    // opt-in banded range-join rewrite: abs(a-b) <= c theta joins become
    // hash equi-joins on a band key under spark.graft.bandedRangeJoin
    e.injectOptimizerRule(graft.plans.BandedRangeJoinRewrite)
    // superstep scopes: shuffled joins of one-partition inputs report
    // SinglePartition, so a chain of hops never re-shuffles at width 1
    e.injectPlannerStrategy(OnePartitionJoins)

    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))

    e.injectFunction((
      FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotF].getName, "dot_f"),
      (exprs: Seq[Expression]) => DotF(exprs(0), exprs(1))))

    e.injectFunction((
      FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimhashAgg].getName, "simhash_agg"),
      (exprs: Seq[Expression]) => SimhashAgg(exprs.head)))

    e.injectFunction((
      FunctionIdentifier("vec_sum_agg"),
      new ExpressionInfo(classOf[VecSumAgg].getName, "vec_sum_agg"),
      (exprs: Seq[Expression]) => VecSumAgg(exprs.head)))

    e.injectFunction((
      FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 3, "usage: lsh_buckets(vec, planesLiteral, tablesLiteral)")
        LshBuckets(exprs.head,
          intLiteral("lsh_buckets", "planes", exprs(1)),
          intLiteral("lsh_buckets", "tables", exprs(2)))
      }))

    e.injectFunction((
      FunctionIdentifier("zvalue"),
      new ExpressionInfo(classOf[ZValue].getName, "zvalue"),
      (exprs: Seq[Expression]) => {
        require(exprs.size >= 2, "usage: zvalue(bitsLiteral, col, ...)")
        val bits = intLiteral("zvalue", "bits", exprs.head)
        ZValue(exprs.tail.map(c => Cast(c, LongType)).toIndexedSeq, bits)
      }))
  }
}
