package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query whole-stage-codegen scope (the selective counterpart of the
  * session-level trade in GraftSession).
  *
  * The local one-shot session keeps `spark.sql.codegen.wholeStage=false`
  * because across a 442-query bench the generated classes' JIT compile +
  * interpreted warm-up never amortizes (measured suite-wide: 289.9 s
  * codegen-on vs 258.7 s off). A handful of queries invert that trade:
  * their hot pass is a tight expression loop over enough rows that
  * generated code wins even with compile cost included (r10 A/B under
  * SPARK_GRAFT_CODEGEN=true: dedup_containment 3.9 -> 2.5 s,
  * text_script_mix 0.66 -> 0.25 s, ml_em_gmm 3.65 -> 2.4 s). Those
  * queries opt in HERE: the body plans and MATERIALIZES inside a
  * ConfScope'd codegen=true override (localCheckpoint is eager, so every
  * byte of query work runs under the scope; the caller gets back a
  * pinned result whose later count/collect/write does no recompute), and
  * the session default stays off for everything else.
  *
  * At cluster scale this scope is a no-op difference: engineConfs keep
  * codegen on globally (with the 8 KB hugeMethodLimit guard, which this
  * scope inherits from the session), so scoped queries run exactly as
  * unscoped ones do.
  *
  * Serialized through [[graft.engine.ConfScope]] like every other
  * session-conf override, for the WHOLE query execution (the monitor is
  * reentrant, so bodies may nest `ConfScope.superstep` scopes).
  */
object Codegen {
  def materialized(s: SparkSession)(body: => DataFrame): DataFrame =
    graft.engine.ConfScope.withConf(s, Seq(
      "spark.sql.codegen.wholeStage" -> "true")) {
      val df = body
      val out = df.localCheckpoint()
      // dev-only plan dump (the PLANQ_MODE pattern): the returned frame's
      // own plan is just the checkpoint scan, so plan artifacts need the
      // INNER plan — dumped AFTER execution so AQE has finalized it and
      // the [codegen id : n] annotations prove the scope took effect
      if (sys.env.contains("GRAFT_CODEGEN_EXPLAIN"))
        System.err.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      out
    }
}
