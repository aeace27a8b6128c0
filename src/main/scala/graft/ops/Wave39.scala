package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 39: dedup reporting and signal-agreement analytics —
  * the per-source duplicate drop-rate sheet every curation run ships
  * with, and the Pearson correlation between two independent quality
  * signals (readability vs stopword quality), the standard sanity
  * check before gating a corpus on either.
  */
object Wave39 {

  // ---- dedup_stats: per-source drop-rate report ----------------------

  /** The dedup data card: per source, corpus size, how many documents
    * the Jaccard dup clustering would DROP (cluster members that are
    * not the minimum-id representative), and the drop rate. Reads the
    * component table dedup_components already materialized — the whole
    * query is one broadcast-sized join + one aggregate on top of
    * cached work, exactly how a production report rides the pairs
    * table instead of re-running the dedup. */
  private val dedupStats: Q = (s, dir) => {
    val dropped = Wave3.queries("dedup_components")(s, dir)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id"), lit(1L).as("is_drop"))
    Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_drop"), lit(0L))).as("n_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        round(col("n_dropped").cast("double") / col("n_docs").cast("double"), 6)
          .as("drop_rate"))
      .orderBy("source")
  }

  private val dedupStatsOracle =
    s"""WITH comp AS (${Wave3.oracles("dedup_components")}),
       |d AS (
       |  SELECT doc.source,
       |    CASE WHEN c.doc_id IS NOT NULL AND c.doc_id <> c.component
       |      THEN 1 ELSE 0 END AS is_drop
       |  FROM documents doc LEFT JOIN comp c ON c.doc_id = doc.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(is_drop) AS BIGINT) AS n_dropped,
       |  round(CAST(SUM(is_drop) AS DOUBLE) / count(*), 6) AS drop_rate
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // ---- eval_score_corr: agreement between quality signals ------------

  /** Pearson correlation, per source, between two independent per-doc
    * quality signals — Flesch readability and the stopword-ratio
    * quality score. Both signals are integer-ratio doubles rounded to
    * 6 and lifted to DECIMAL(18,6); all five moments (Σx, Σy, Σxy,
    * Σx², Σy²) accumulate as EXACT decimals, so the distributed sum
    * is partition-order-free, and r is one double expression over
    * them. The pre-gating read: if two cheap signals don't agree,
    * thresholding either is noise. */
  private val evalScoreCorr: Q = (s, dir) => {
    val toks = LlmPipeline.tokens(col("text"))
    val enStop = Seq("the", "and", "of", "to", "in", "is", "a", "that")
    val base = Tables.load(s, dir, "documents")
      .select(col("source"), col("text"),
        size(array_distinct(toks)).cast("bigint").as("ntok"),
        size(toks).cast("bigint").as("w"),
        greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+")).cast("bigint"))
          .as("sent"),
        regexp_count(lower(col("text")), lit("[aeiou]+")).cast("bigint").as("syl"),
        size(array_intersect(array_distinct(toks), typedLit(enStop)))
          .cast("bigint").as("hits"))
      .filter(col("ntok") > 0 && col("w") > 0)
      .select(col("source"),
        round(lit(206.835)
          - lit(1.015) * (col("w").cast("double") / col("sent").cast("double"))
          - lit(84.6) * (col("syl").cast("double") / col("w").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("x"),
        round(col("hits").cast("double") / col("ntok").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("y"))
    base.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(38, 12))).as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 12))).as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(38, 12))).as("syy"))
      .select(col("source"), col("n"),
        round(
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("pearson_r"))
      .orderBy("source")
  }

  private val evalScoreCorrOracle =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(list_distinct(${LlmPipeline.duckTokens})) AS BIGINT) AS ntok,
       |    CAST(len(${LlmPipeline.duckTokens}) AS BIGINT) AS w,
       |    GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sent,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS syl,
       |    ${LlmPipeline.duckHits("en")} AS hits
       |  FROM documents),
       |xy AS (
       |  SELECT source,
       |    CAST(round(206.835 - 1.015 * (CAST(w AS DOUBLE) / sent)
       |      - 84.6 * (CAST(syl AS DOUBLE) / w), 6) AS DECIMAL(18,6)) AS x,
       |    CAST(round(CAST(hits AS DOUBLE) / ntok, 6) AS DECIMAL(18,6)) AS y
       |  FROM d WHERE ntok > 0 AND w > 0),
       |m AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
       |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
       |    SUM(CAST(y * y AS DECIMAL(38,12))) AS syy
       |  FROM xy GROUP BY source)
       |SELECT source, n,
       |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |         * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       |    AS pearson_r
       |FROM m ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "dedup_stats" -> dedupStats,
    "eval_score_corr" -> evalScoreCorr
  )

  val oracles: Map[String, String] = Map(
    "dedup_stats" -> dedupStatsOracle,
    "eval_score_corr" -> evalScoreCorrOracle
  )
}
