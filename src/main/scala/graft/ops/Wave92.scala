package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-7 wave 92: multimodal frame-sampling manifests + the missing
  * retrieval-eval metric. Frame sampling is the video-pipeline step
  * between the byte shards (multimodal_shards) and the decode stage
  * (multimodal_decode): pick WHICH frames to pay decode for, before
  * any codec runs. MRR completes the ranking-eval family
  * (eval_ndcg, eval_average_precision).
  */
object Wave92 {

  // ---- multimodal_framesample: decode-plan manifest ----------------------

  /** Uniform-k frame-sampling manifest per media row: the payload's
    * byte length stands in for stream duration (frames = bytes div
    * 256 — the deterministic fixture contract, like multimodal_meta),
    * and each doc emits min(8, n_frames) target frame indices spread
    * evenly: idx_i = (i · n_frames) div k for i in 0..k−1 — the
    * standard uniform temporal subsampling a video loader does BEFORE
    * decoding (only these frames pay the codec). One narrow
    * projection + an in-row sequence transform + posexplode; at
    * 100 TB the manifest shuffles nothing and the decode stage reads
    * it as its work list. */
  private val multimodalFramesample: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        expr("length(text) div 256").cast("long").as("n_frames"))
      .filter(col("n_frames") > 0)
      .withColumn("k", least(lit(8L), col("n_frames")))
      .select(col("doc_id"), col("n_frames"), col("k"),
        posexplode(expr(
          "transform(sequence(0, cast(k - 1 as int)), i -> (i * n_frames) div k)")))
      .select(col("doc_id"), col("n_frames"), col("k"),
        col("pos").cast("long").as("sample_ord"),
        col("col").cast("long").as("frame_idx"))
      .orderBy("doc_id", "sample_ord")

  private val multimodalFramesampleOracle: String =
    """WITH m AS (
      |  SELECT doc_id, CAST(length(text) // 256 AS BIGINT) AS n_frames
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, n_frames, LEAST(8, n_frames) AS k
      |  FROM m WHERE n_frames > 0)
      |SELECT doc_id, n_frames, k,
      |  CAST(i AS BIGINT) AS sample_ord,
      |  CAST((i * n_frames) // k AS BIGINT) AS frame_idx
      |FROM k, unnest(generate_series(0, k - 1)) AS t(i)
      |ORDER BY doc_id, sample_ord""".stripMargin

  // ---- eval_mrr: mean reciprocal rank of the quality ranking --------------

  /** MRR of the heuristic quality score against the is-English
    * relevance label (the eval_ndcg setup, reciprocal-rank form):
    * rank documents by (score desc, doc_id asc) — the Ranks two-phase
    * kernel, no single-partition window — and average 1/rank over the
    * relevant docs' first hits... per SOURCE as the query axis: each
    * source is one "query", its reciprocal rank is 1/(rank of its
    * best-ranked English doc within the source), and MRR averages the
    * per-source reciprocal ranks. All ranks are exact integers; the
    * reciprocal sums are micro-quantized per query BEFORE the final
    * mean, so the aggregate is order-independent. */
  private val evalMrr: Q = (s, dir) => {
    val parts = ConfScope.shufflePartitions(s)
    val scored = Tables.load(s, dir, "documents").select(
      col("doc_id"), col("source"),
      (col("lang") === "en").cast("long").as("rel"),
      length(col("text")).cast("long").as("score"))
    val ranked = Ranks.perGroupRank(scored, Seq("source"),
      Seq(col("score").desc, col("doc_id").asc),
      rankCol = "rk", nCol = "nn", partitions = parts)
    val firstHit = ranked.filter(col("rel") === 1)
      .groupBy("source").agg(min("rk").as("first_rk"))
    val perQuery = ranked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("rel").as("n_rel"))
      .join(firstHit, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_rel"), col("first_rk"),
        when(col("first_rk").isNull, 0L)
          .otherwise(expr("(2 * 1000000 + first_rk) div (2 * first_rk)"))
          .as("rr_micro"))
    val mrr = perQuery.agg(
      expr("cast((2 * sum(rr_micro) * 1000000 + count(1)) div (2 * count(1)) as long)")
        .as("mrr_nano_x"))
    perQuery.crossJoin(broadcast(mrr))
      .select(col("source"), col("n_docs"), col("n_rel"),
        coalesce(col("first_rk"), lit(0L)).as("first_rel_rank"),
        (col("rr_micro").cast("double") / 1e6).as("reciprocal_rank"),
        (col("mrr_nano_x").cast("double") / 1e12).as("mrr"))
      .orderBy("source")
  }

  private val evalMrrOracle: String =
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    CAST(lang = 'en' AS BIGINT) AS rel,
      |    CAST(length(text) AS BIGINT) AS score
      |  FROM documents),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY score DESC, doc_id) AS rk
      |  FROM scored),
      |fh AS (
      |  SELECT source, MIN(rk) AS first_rk FROM ranked
      |  WHERE rel = 1 GROUP BY source),
      |pq AS (
      |  SELECT r.source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(rel) AS BIGINT) AS n_rel, f.first_rk,
      |    CASE WHEN f.first_rk IS NULL THEN 0
      |      ELSE (2 * 1000000 + f.first_rk) // (2 * f.first_rk) END
      |      AS rr_micro
      |  FROM ranked r LEFT JOIN fh f USING (source)
      |  GROUP BY r.source, f.first_rk),
      |m AS (
      |  SELECT CAST((2 * SUM(rr_micro) * 1000000 + count(*))
      |    // (2 * count(*)) AS BIGINT) AS mrr_nano_x
      |  FROM pq)
      |SELECT source, n_docs, n_rel,
      |  CAST(COALESCE(first_rk, 0) AS BIGINT) AS first_rel_rank,
      |  CAST(rr_micro AS DOUBLE) / 1e6 AS reciprocal_rank,
      |  CAST(mrr_nano_x AS DOUBLE) / 1e12 AS mrr
      |FROM pq, m ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "multimodal_framesample" -> multimodalFramesample,
    "eval_mrr" -> evalMrr
  )

  val oracles: Map[String, String] = Map(
    "multimodal_framesample" -> multimodalFramesampleOracle,
    "eval_mrr" -> evalMrrOracle
  )
}
