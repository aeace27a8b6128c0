package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-7 wave 87: batched similarity search — the multi-query
  * sim_topk scale path that closes the "brute force is linear PER
  * QUERY" known limit in SCALING.md: Q query vectors ride ONE corpus
  * pass as a broadcast table, so amortized cost per query is 1/Q of a
  * solo scan.
  */
object Wave87 {

  // ---- sim_topk_batch: Q queries, one corpus pass ------------------------

  /** Top-10 cosine neighbors for EIGHT query vectors (vec_id 0–7) in a
    * single scan: the query table broadcasts (model-sized), every
    * corpus row scores against all 8 in one narrow pass, and the
    * per-query top-10 is the DECLARATIVE bounded pattern
    * (row_number <= k) that Spark's InferWindowGroupLimit turns into a
    * partial WindowGroupLimit BELOW the exchange — the shuffle carries
    * at most k rows per (query × map partition), never the 8·N scored
    * rows. At 100 TB with thousands of pending queries this is the
    * production shape: batch them per corpus pass; the per-pass
    * broadcast stays model-sized and the shuffle stays k·Q-bounded. */
  private val simTopkBatch: Q = (s, dir) => {
    val e = LlmPipeline.emb(s, dir).select(col("vec_id"), col("embedding").as("v"))
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
    e.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6)
          .as("cos"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 10)
      .orderBy("qid", "rn")
  }

  private val simTopkBatchOracle: String =
    """WITH e AS MATERIALIZED (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
      |scored AS (
      |  SELECT qid, vec_id,
      |    ROUND(list_aggregate(list_transform(list_zip(v, qv),
      |        x -> x[1] * x[2]), 'sum')
      |      / (SQRT(list_aggregate(list_transform(v, x -> x*x), 'sum'))
      |        * SQRT(list_aggregate(list_transform(qv, x -> x*x), 'sum'))),
      |      6) AS cos
      |  FROM e CROSS JOIN qs WHERE vec_id <> qid)
      |SELECT qid, vec_id, cos, rn FROM (
      |  SELECT qid, vec_id, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
      |      AS rn
      |  FROM scored)
      |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin

  val queries: Map[String, Q] = Map(
    "sim_topk_batch" -> simTopkBatch
  )

  val oracles: Map[String, String] = Map(
    "sim_topk_batch" -> simTopkBatchOracle
  )
}
