package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 79: held-out LM eval + robust trend — bigram
  * Kneser-Ney perplexity of the val split under a train-split model
  * (the first REAL generalization number: everything else scored text
  * under a model that saw it), and the Theil-Sen median slope (the
  * robust estimator that completes the Mann-Kendall pair lattice:
  * MK gives trend significance, Theil-Sen gives its magnitude).
  */
object Wave79 {

  // ---- eval_perplexity_kn: held-out KN bigram cross-entropy ------------

  private def bigramsOf(df: DataFrame, extra: Column*): DataFrame = {
    // bind the token array to a column FIRST: inlining the tokenizer
    // into the lambda re-runs the regex split per element access
    // (O(tokens²) — the Wave7.bigramPairs lesson)
    val tk = col("__tk")
    val prs = transform(sequence(lit(0), greatest(size(tk) - 2, lit(0))),
      i => struct(get(tk, i).as("w1"), get(tk, i + 1).as("w2")))
    df.withColumn("__tk", LlmPipeline.tokens(col("text")))
      .select(extra :+ explode(prs).as("p"): _*)
      .withColumn("w1", col("p.w1")).withColumn("w2", col("p.w2"))
      .drop("p")
      .filter(col("w1").isNotNull && col("w2").isNotNull)
  }

  /** Cross-entropy / perplexity per source of the val split under an
    * interpolated Kneser-Ney bigram model estimated on the TRAIN split
    * (shared content-hash splitOf — the same split every other eval
    * reads). Backoff ladder: full KN when the train bigram exists;
    * λ(w1)·pc(w2) when only the history is known; the smoothed
    * continuation alone for unseen histories; pc is Laplace-floored
    * ((n1bw+1)/(tt+v)) so every val token has positive mass. Per-token
    * log-probs nano-quantized before the exact per-source sum (the
    * JSD addend discipline); ppl = exp(ce) on the rounded value. */
  private val evalPerplexityKn: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .withColumn("split", Hashing.splitOf(col("text")))
      .filter(col("split").isin("train", "val"))
    // ONE tokenize+explode pass builds both splits' bigram tables
    val allBi = bigramsOf(d, col("split"), col("source"))
      .groupBy("split", "source", "w1", "w2").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val trainBi = allBi.filter(col("split") === "train")
      .groupBy("w1", "w2").agg(sum("cnt").as("c12"))
    val left = trainBi.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1fw"))
    val right = trainBi.groupBy("w2").agg(count(lit(1)).as("n1bw"))
    val scalars = trainBi.agg(count(lit(1)).as("tt"))
      .crossJoin(broadcast(
        trainBi.select(col("w1").as("w")).union(trainBi.select(col("w2")))
          .distinct().agg(count(lit(1)).as("v"))))
    val valBi = allBi.filter(col("split") === "val")
      .select("source", "w1", "w2", "cnt")
    val pc = (coalesce(col("n1bw"), lit(0L)).cast("double") + 1.0) /
      (col("tt") + col("v")).cast("double")
    val pKn =
      when(col("c12").isNotNull,
        greatest(col("c12").cast("double") - 0.75, lit(0.0)) / col("c1") +
          (lit(0.75) * col("n1fw") / col("c1")) * pc)
        .when(col("c1").isNotNull, (lit(0.75) * col("n1fw") / col("c1")) * pc)
        .otherwise(pc)
    valBi
      .join(trainBi, Seq("w1", "w2"), "left")
      .join(left, Seq("w1"), "left")
      .join(right, Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      .select(col("source"), col("cnt"),
        when(col("c1").isNull, col("cnt")).otherwise(0L).as("oov_h"),
        (round(-log(pKn) * 1e9).cast("long").cast("decimal(38,0)") * col("cnt"))
          .as("lp_nano"))
      .groupBy("source")
      .agg(sum("cnt").as("n_bigrams"), sum("oov_h").as("oov_history"),
        sum("lp_nano").as("lp"))
      .withColumn("ce", round(expr(
        "cast((2 * lp + n_bigrams) div (2 * n_bigrams) as double)") / 1e9, 6))
      .select(col("source"), col("n_bigrams"), col("oov_history"),
        col("ce"), round(exp(col("ce")), 4).as("ppl"))
      .orderBy("source")
  }

  private val evalPerplexityKnOracle = {
    val toks = LlmPipeline.duckTokens
    def bigrams(where: String, extra: String): String =
      s"""SELECT $extra tk[i + 1] AS w1, tk[i + 2] AS w2 FROM (
         |  SELECT source, tk, unnest(generate_series(0, len(tk) - 2)) AS i
         |  FROM (SELECT source, $toks AS tk FROM documents
         |        WHERE ${Hashing.duckSplitCase} = '$where')
         |  WHERE len(tk) >= 2)""".stripMargin
    s"""WITH trainbi AS MATERIALIZED (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM (${bigrams("train", "")}) GROUP BY 1, 2),
       |lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |  CAST(count(*) AS BIGINT) AS n1fw FROM trainbi GROUP BY 1),
       |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bw
       |  FROM trainbi GROUP BY 1),
       |sc AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM trainbi) AS tt,
       |  (SELECT CAST(count(*) AS BIGINT) FROM (
       |    SELECT w1 AS w FROM trainbi UNION SELECT w2 FROM trainbi)) AS v),
       |valbi AS (
       |  SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (${bigrams("val", "source,")}) GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT vb.source, vb.cnt,
       |    CASE WHEN l.c1 IS NULL THEN vb.cnt ELSE 0 END AS oov_h,
       |    CAST(round(-ln(
       |      CASE
       |        WHEN tb.c12 IS NOT NULL THEN
       |          GREATEST(CAST(tb.c12 AS DOUBLE) - 0.75, 0.0) / l.c1 +
       |          (0.75 * l.n1fw / l.c1) *
       |            ((CAST(COALESCE(r.n1bw, 0) AS DOUBLE) + 1.0) / (sc.tt + sc.v))
       |        WHEN l.c1 IS NOT NULL THEN
       |          (0.75 * l.n1fw / l.c1) *
       |            ((CAST(COALESCE(r.n1bw, 0) AS DOUBLE) + 1.0) / (sc.tt + sc.v))
       |        ELSE (CAST(COALESCE(r.n1bw, 0) AS DOUBLE) + 1.0) / (sc.tt + sc.v)
       |      END) * 1e9) AS HUGEINT) * vb.cnt AS lp_nano
       |  FROM valbi vb
       |  LEFT JOIN trainbi tb ON tb.w1 = vb.w1 AND tb.w2 = vb.w2
       |  LEFT JOIN lft l ON l.w1 = vb.w1
       |  LEFT JOIN rgt r ON r.w2 = vb.w2, sc),
       |agg AS (
       |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(oov_h) AS BIGINT) AS oov_history, SUM(lp_nano) AS lp
       |  FROM scored GROUP BY 1),
       |fin AS (
       |  SELECT source, n_bigrams, oov_history,
       |    round(CAST((2 * lp + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 1e9, 6)
       |      AS ce
       |  FROM agg)
       |SELECT source, n_bigrams, oov_history, ce, round(exp(ce), 4) AS ppl
       |FROM fin ORDER BY source""".stripMargin
  }

  // ---- profile_theil_sen: median pairwise slope -------------------------

  /** Theil-Sen trend per event type on cent-quantized daily sums: every
    * day pair's slope (Δvalue/Δdays) sign-magnitude micro-quantized,
    * the median taken as the exact average of the two middle order
    * statistics over the calendar pair lattice — same lattice as
    * timeseries_trend_mk, so the two queries together give trend
    * significance AND magnitude. Pair count is calendar², bounded by
    * construction. */
  private val profileTheilSen: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("cast(floor(unix_timestamp(ts) / 86400) as long)").as("day"),
        expr("cast(round(value * 100) as long)").as("c"))
      .groupBy("event_type", "day").agg(sum("c").as("x"))
    val slopes = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        expr("""cast(sign(b.x - a.x) as long) *
          ((2 * abs(b.x - a.x) * 1000000 + (b.day - a.day))
            div (2 * (b.day - a.day)))""".replaceAll("\\s+", " ")).as("sl"))
    val ranked = slopes
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy("sl")))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("event_type")))
    ranked
      .filter(col("rk") === expr("(np + 1) div 2") ||
        col("rk") === expr("(np + 2) div 2"))
      .groupBy("event_type")
      .agg(first("np").as("n_pairs"), sum("sl").as("two_mid"),
        count(lit(1)).as("n_mid"))
      .select(col("event_type"), col("n_pairs"),
        (col("two_mid").cast("double") / col("n_mid") / 1e6)
          .as("slope_cents_per_day"))
      .orderBy("event_type")
  }

  private val profileTheilSenOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
      |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
      |  FROM events GROUP BY 1, 2),
      |slopes AS (
      |  SELECT a.event_type,
      |    CAST(sign(b.x - a.x) AS HUGEINT) *
      |      ((2 * abs(b.x - a.x) * 1000000 + (b.day - a.day))
      |        // (2 * (b.day - a.day))) AS sl
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day),
      |ranked AS (
      |  SELECT event_type, sl,
      |    row_number() OVER (PARTITION BY event_type ORDER BY sl) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS np
      |  FROM slopes)
      |SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
      |  CAST(SUM(sl) AS DOUBLE) / count(*) / 1e6 AS slope_cents_per_day
      |FROM ranked
      |WHERE rk = (np + 1) // 2 OR rk = (np + 2) // 2
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "eval_perplexity_kn" -> evalPerplexityKn,
    "profile_theil_sen" -> profileTheilSen
  )

  val oracles: Map[String, String] = Map(
    "eval_perplexity_kn" -> evalPerplexityKnOracle,
    "profile_theil_sen" -> profileTheilSenOracle
  )
}
