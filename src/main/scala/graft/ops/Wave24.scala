package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 24: concentration and curation-policy evaluators — the
  * Gini coefficient on the distributed rank kernel, a quality-gate
  * threshold sweep (the ablation table a curation pipeline reads before
  * fixing its cutoff), and vocabulary OOV coverage per source (the
  * tokenizer-fit audit).
  */
object Wave24 {

  // ---- profile_gini: value concentration per group -------------------

  /** Gini coefficient of value per event type — the standard
    * concentration index ("how unequal is the spend/traffic"), computed
    * from the closed form over ascending ranks:
    * G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)). The rank is the
    * two-phase kernel ([[Ranks.perGroupRank]]) — balanced range
    * shuffle, no per-type window task — and both sums are exact
    * DECIMAL(38,0) integer aggregates of micro-units; the only float is
    * the final rounded division. Tie order cannot change the result
    * (equal values commute in sum(i*x_i)), so the event_id tiebreak is
    * for determinism of the rank column alone. */
  private val profileGini: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"), col("event_id"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v_micro"))
    val ranked = Ranks.perGroupRank(ev, Seq("event_type"),
      Seq(col("v_micro").asc, col("event_id").asc), "i", "n", ConfScope.shufflePartitions(s))
    ranked.groupBy("event_type")
      .agg(max("n").as("n"),
        sum((col("i") * col("v_micro")).cast("decimal(38,0)")).as("s1"),
        sum(col("v_micro").cast("decimal(38,0)")).as("s0"))
      .select(col("event_type"), col("n"),
        round(((lit(2) * col("s1") - (col("n") + 1) * col("s0")).cast("double")) /
          ((col("n") * col("s0")).cast("double")), 6).as("gini"))
      .orderBy("event_type")
  }

  private val profileGiniOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
      |  FROM events),
      |r AS (
      |  SELECT event_type, v_micro,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY v_micro ASC, event_id ASC) AS BIGINT) AS i,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM ev)
      |SELECT event_type, MAX(n) AS n,
      |  round(CAST(2 * SUM(CAST(i AS HUGEINT) * v_micro)
      |             - (MAX(n) + 1) * SUM(CAST(v_micro AS HUGEINT)) AS DOUBLE) /
      |        CAST(MAX(n) * SUM(CAST(v_micro AS HUGEINT)) AS DOUBLE), 6) AS gini
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- eval_quality_sweep: quality-gate threshold ablation -----------

  /** The ablation table behind a quality cutoff: for each candidate
    * threshold, how many documents and characters survive and what the
    * kept corpus's mean quality becomes. One scoring pass (the shared
    * text_quality plan) exploded against the model-sized threshold grid
    * — never one job per threshold — then a single aggregation. Mean
    * quality sums pre-rounded DECIMAL addends (order-independent),
    * shares are single rounded divisions. */
  private val evalQualitySweep: Q = (s, dir) => {
    val scored = LlmPipeline.queries("text_quality")(s, dir)
      .select(col("doc_id"), col("n_chars"), col("quality"))
    val totals = scored.agg(count(lit(1)).as("n_docs"),
      sum("n_chars").as("tot_chars"))
    val grid = Seq(0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60)
    scored
      .withColumn("thr", explode(lit(grid.toArray)))
      .filter(col("quality") >= col("thr"))
      .groupBy("thr")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("kept_chars"),
        round(sum(round(col("quality"), 6).cast("decimal(18,6)")) /
          count(lit(1)), 6).cast("double").as("mean_quality"))
      .crossJoin(broadcast(totals))
      .select(col("thr"), col("n_kept"), col("kept_chars"), col("mean_quality"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
          .as("doc_share"),
        round(col("kept_chars").cast("double") / col("tot_chars").cast("double"), 6)
          .as("char_share"))
      .orderBy("thr")
  }

  /** DuckDB quality score — composed from LlmPipeline's shared
    * duckTokens/duckHits snippets, the exact expressions text_quality's
    * oracle pins, so the sweep gates on the same score. */
  private def duckQuality =
    s"""SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
       |  (1.0 - CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text)) * 0.5
       |  + (CAST(${LlmPipeline.duckHits("en")} AS DOUBLE) / len(${LlmPipeline.duckTokens})) * 0.5 AS quality
       |FROM documents""".stripMargin

  private val evalQualitySweepOracle =
    s"""WITH scored AS ($duckQuality),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(SUM(n_chars) AS BIGINT) AS tot_chars FROM scored),
       |grid AS (SELECT CAST(unnest([0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60]) AS DOUBLE) AS thr)
       |SELECT g.thr, CAST(count(*) AS BIGINT) AS n_kept,
       |  CAST(SUM(s.n_chars) AS BIGINT) AS kept_chars,
       |  CAST(round(SUM(CAST(round(s.quality, 6) AS DECIMAL(18,6))) / count(*), 6)
       |    AS DOUBLE) AS mean_quality,
       |  round(CAST(count(*) AS DOUBLE) / t.n_docs, 6) AS doc_share,
       |  round(CAST(SUM(s.n_chars) AS DOUBLE) / t.tot_chars, 6) AS char_share
       |FROM grid g JOIN scored s ON s.quality >= g.thr CROSS JOIN tot t
       |GROUP BY g.thr, t.n_docs, t.tot_chars ORDER BY thr""".stripMargin

  // ---- eval_vocab_coverage: OOV rate per source ----------------------

  /** Tokenizer-fit audit: per source, the share of token OCCURRENCES
    * not covered by the top-256 vocabulary ([[Wave4.vocabFrame]] — the
    * same build tokenize_ids numericizes with, so this measures the
    * actual id-0 rate training would see). The vocab is model-sized and
    * broadcast; the corpus side is one explode + one broadcast join +
    * one aggregation. */
  private val evalVocabCoverage: Q = (s, dir) => {
    val vocab = Wave4.vocabFrame(s, dir).select(col("token"),
      lit(1).as("__in_vocab"))
    Tables.load(s, dir, "documents")
      .select(col("source"), explode(LlmPipeline.tokens(col("text"))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_rate"))
      .orderBy("source")
  }

  private val evalVocabCoverageOracle =
    s"""WITH vocab AS (
       |  SELECT token FROM (
       |    SELECT token, CAST(count(*) AS BIGINT) AS freq,
       |      CAST(row_number() OVER (ORDER BY count(*) DESC, token) AS BIGINT) AS token_id
       |    FROM (SELECT unnest(${LlmPipeline.duckTokens}) AS token FROM documents) GROUP BY token)
       |  WHERE token_id <= 256),
       |occ AS (SELECT source, unnest(${LlmPipeline.duckTokens}) AS token FROM documents)
       |SELECT o.source, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  round(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS oov_rate
       |FROM occ o LEFT JOIN vocab v ON o.token = v.token
       |GROUP BY o.source ORDER BY o.source""".stripMargin

  val queries: Map[String, Q] = Map(
    "profile_gini" -> profileGini,
    "eval_quality_sweep" -> evalQualitySweep,
    "eval_vocab_coverage" -> evalVocabCoverage
  )

  val oracles: Map[String, String] = Map(
    "profile_gini" -> profileGiniOracle,
    "eval_quality_sweep" -> evalQualitySweepOracle,
    "eval_vocab_coverage" -> evalVocabCoverageOracle
  )
}
