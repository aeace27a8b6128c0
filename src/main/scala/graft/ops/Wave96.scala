package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-8 wave 96: T5-style span-corruption manifest — the
  * pretraining-objective data op (which token spans get masked,
  * deterministically, before a denoising run). A Benford first-digit
  * audit already ships as Wave9's profile_benford.
  */
object Wave96 {

  // ---- corpus_span_corruption: deterministic denoising manifest -------

  /** T5-style span-corruption manifest at cell granularity: the token
    * stream is tiled into 8-token cells and a cell is masked iff its
    * salted-md5 bucket clears the 15% corruption rate — deterministic,
    * so the manifest (and therefore the training batch) replays
    * identically anywhere. Per document: token count, masked-span
    * count (= sentinel tokens to insert), masked-token count and the
    * realized corruption rate in exact micro-units. One narrow map
    * (no token ever leaves its row group) + a per-doc aggregate. */
  private val CellW = 8
  private val CorruptPct = 15

  private val corpusSpanCorruption: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), posexplode(LlmPipeline.tokens(col("text"))))
      .withColumnRenamed("pos", "p")
      .withColumn("cell", expr(s"p div $CellW"))
      .withColumn("masked",
        Hashing.md5Bucket(concat(col("doc_id").cast("string"), lit("#"),
          col("cell").cast("string"), lit("#span")).cast("binary"), 100)
          < CorruptPct)
    d.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(when(col("masked"), col("cell"))).as("n_spans"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"))
      .withColumn("corruption_micro",
        expr("(2 * n_masked * 1000000 + n_tokens) div (2 * n_tokens)"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"), col("n_masked"),
        (col("corruption_micro").cast("double") / 1e6).as("corruption_rate"))
      .orderBy("doc_id")
  }

  private val corpusSpanCorruptionOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${LlmPipeline.duckTokens}) AS w,
       |    generate_subscripts(${LlmPipeline.duckTokens}, 1) - 1 AS p
       |  FROM documents),
       |cells AS (
       |  SELECT doc_id, p, p // $CellW AS cell,
       |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '#',
       |      CAST(p // $CellW AS VARCHAR), '#span')), 1, 15)) AS BIGINT) % 100
       |      < $CorruptPct AS masked
       |  FROM tok)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(DISTINCT CASE WHEN masked THEN cell END) AS BIGINT) AS n_spans,
       |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |  CAST((2 * SUM(CASE WHEN masked THEN 1 ELSE 0 END) * 1000000 + COUNT(*))
       |    // (2 * COUNT(*)) AS DOUBLE) / 1e6 AS corruption_rate
       |FROM cells GROUP BY doc_id
       |HAVING COUNT(*) > 0
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "corpus_span_corruption" -> corpusSpanCorruption
  )

  val oracles: Map[String, String] = Map(
    "corpus_span_corruption" -> corpusSpanCorruptionOracle
  )
}
