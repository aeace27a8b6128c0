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
  * generated code wins even with compile cost included (r10 A/B with
  * session-wide codegen on: dedup_containment 3.9 -> 2.5 s,
  * text_script_mix 0.66 -> 0.25 s, ml_em_gmm 3.65 -> 2.4 s). Those
  * queries opt in HERE: the body plans and MATERIALIZES inside a
  * ConfScope'd codegen=true override (localCheckpoint is eager, so every
  * byte of query work runs under the scope; the caller gets back a
  * pinned result whose later count/collect/write does no recompute), and
  * the session default stays off for everything else.
  *
  * A session that already runs codegen on (the cluster path: engineConfs
  * leave Spark's default on, with the 8 KB hugeMethodLimit guard) needs
  * no override, so it gets the lazy body back: no lock is held, and no
  * lineage-truncating pin turns an executor loss into a failed query.
  *
  * The override is serialized through [[graft.engine.ConfScope]] like
  * every other session-conf override, for the WHOLE query execution (the
  * monitor is reentrant, so bodies may nest `ConfScope.superstep` scopes).
  */
object Codegen {
  def materialized(s: SparkSession)(body: => DataFrame): DataFrame =
    if (graft.engine.ConfScope.get(s, "spark.sql.codegen.wholeStage").toBoolean) body
    else graft.engine.ConfScope.withConf(s, Seq(
      "spark.sql.codegen.wholeStage" -> "true")) {
      body.localCheckpoint()
    }
}
