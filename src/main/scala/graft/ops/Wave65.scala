package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 65: corpus contrast + tail index — "fightin' words"
  * (Monroe et al. 2008: Dirichlet-smoothed log-odds z-scores, the
  * statistically honest "which words characterize corpus A vs B" —
  * raw frequency ratios over-weight rare words; the z-score
  * normalizes by the variance of the log-odds), and the Hill
  * estimator of the value-distribution tail index (is the metric
  * heavy-tailed enough that means are misleading — the read that
  * decides mean vs median dashboards).
  */
object Wave65 {

  private def lnq(c: Column): Column =
    floor(log(c.cast("double")) * 1e9 + lit(0.5)).cast("long")

  // ---- text_fightin_words: Dirichlet log-odds term contrast -----------

  /** Top-15 terms most characteristic of English vs non-English docs
    * by Dirichlet-smoothed log-odds delta (prior α = 1 per term):
    * δ_w = ln((a+1)/(A+V−a−1)) − ln((b+1)/(B+V−b−1)), with the
    * z-score dividing by √(1/(a+1) + 1/(b+1)). All log arguments are
    * INTEGERS (α = 1 keeps them so), so δ is exact nano arithmetic;
    * the z denominator is the same IEEE sqrt of an exact rational in
    * both engines, rounded to 6dp. One token aggregation per side —
    * vocabulary-sized everything after. */
  private val textFightinWords: Q = (s, dir) => {
    val tok = Tables.load(s, dir, "documents")
      .select((col("lang") === "en").as("is_en"),
        explode(LlmPipeline.tokens(col("text"))).as("w"))
    val counts = tok.groupBy("w").agg(
      sum(when(col("is_en"), 1L).otherwise(0L)).as("a"),
      sum(when(col("is_en"), 0L).otherwise(1L)).as("b"))
      .localCheckpoint()
    val tot = counts.agg(sum("a").as("ta"), sum("b").as("tb"),
      count(lit(1)).as("v"))
    val scored = counts.crossJoin(broadcast(tot))
      .withColumn("delta_nano",
        (lnq(col("a") + 1) - lnq(col("ta") + col("v") - col("a") - 1)) -
          (lnq(col("b") + 1) - lnq(col("tb") + col("v") - col("b") - 1)))
      .withColumn("z", round(
        (col("delta_nano").cast("double") / 1e9) /
          sqrt(lit(1.0) / (col("a") + 1).cast("double") +
            lit(1.0) / (col("b") + 1).cast("double")), 6))
    val top = scored.orderBy(desc("z"), col("w")).limit(15)
      .withColumn("side", lit("en"))
    val bottom = scored.orderBy(col("z"), col("w")).limit(15)
      .withColumn("side", lit("other"))
    top.union(bottom)
      .select(col("side"), col("w"), col("a").as("n_en"), col("b").as("n_other"),
        (col("delta_nano").cast("double") / 1e9).as("delta"), col("z"))
      .orderBy(desc("z"), col("w"))
  }

  private val textFightinWordsOracle = {
    def ln(x: String) =
      s"CAST(FLOOR(ln(CAST($x AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)"
    s"""WITH tok AS MATERIALIZED (
       |  SELECT lang = 'en' AS is_en, unnest(${LlmPipeline.duckTokens}) AS w FROM documents),
       |counts AS (
       |  SELECT w,
       |    CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS BIGINT) AS b
       |  FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb,
       |  CAST(count(*) AS BIGINT) AS v FROM counts),
       |sc AS (
       |  SELECT w, a, b,
       |    (${ln("a + 1")} - ${ln("ta + v - a - 1")})
       |      - (${ln("b + 1")} - ${ln("tb + v - b - 1")}) AS delta_nano
       |  FROM counts, tot),
       |z AS (
       |  SELECT w, a, b, delta_nano,
       |    round((CAST(delta_nano AS DOUBLE) / 1e9) /
       |      sqrt(1.0 / CAST(a + 1 AS DOUBLE) + 1.0 / CAST(b + 1 AS DOUBLE)), 6) AS z
       |  FROM sc),
       |top AS (SELECT 'en' AS side, w, a, b, delta_nano, z FROM z
       |  ORDER BY z DESC, w LIMIT 15),
       |bot AS (SELECT 'other' AS side, w, a, b, delta_nano, z FROM z
       |  ORDER BY z, w LIMIT 15)
       |SELECT side, w, a AS n_en, b AS n_other,
       |  CAST(delta_nano AS DOUBLE) / 1e9 AS delta, z
       |FROM (SELECT * FROM top UNION ALL SELECT * FROM bot)
       |ORDER BY z DESC, w""".stripMargin
  }

  // ---- profile_tail_hill: Hill tail-index estimator -------------------

  /** Hill estimator of the right-tail index over event values, at
    * k = 200 upper order statistics: α̂ = k / Σᵢ ln(x⁽ⁱ⁾/x⁽ᵏ⁾) — the
    * standard heavy-tail diagnostic (α < 2: infinite variance, means
    * lie). Order statistics come from a global top-(k+1)
    * TakeOrderedAndProject (no full sort); logs are nano-quantized
    * over integer cent values, so the sum is exact and α̂ is one
    * rational — micro-quantized. Also reports the same estimate at
    * k = 50 (a stability probe: wildly different α̂ across k means
    * the tail is not Pareto-like). */
  private val profileTailHill: Q = (s, dir) => {
    val cents = Tables.load(s, dir, "events")
      .select(expr("cast(round(value * 100) as long)").as("c"))
      .filter(col("c") > 0)
    def hillAt(k: Int): DataFrame = {
      val top = cents.orderBy(desc("c")).limit(k + 1)
        .withColumn("ln_nano", lnq(col("c")))
      val xk = top.agg(min("ln_nano").as("ln_k"), count(lit(1)).as("m"))
      top.crossJoin(broadcast(xk))
        .filter(col("ln_nano") > col("ln_k"))
        .agg(sum(col("ln_nano") - col("ln_k")).as("s"), count(lit(1)).as("used"))
        .select(lit(k).as("k"), col("used"),
          expr(s"(2 * $k * 1000000000000 + s) div (2 * s)").as("alpha_milli"))
        .select(col("k"), col("used"),
          (col("alpha_milli").cast("double") / 1e3).as("alpha"))
    }
    hillAt(200).union(hillAt(50)).orderBy("k")
  }

  private val profileTailHillOracle = {
    def one(k: Int) =
      s"""SELECT $k AS k, used,
         |  CAST((2 * $k * 1000000000000 + s) // (2 * s) AS DOUBLE) / 1e3 AS alpha
         |FROM (
         |  SELECT CAST(SUM(ln_nano - ln_k) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS used
         |  FROM (
         |    SELECT ln_nano, MIN(ln_nano) OVER () AS ln_k FROM (
         |      SELECT CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS ln_nano
         |      FROM (SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
         |            WHERE CAST(round(value * 100) AS BIGINT) > 0
         |            ORDER BY c DESC LIMIT ${k + 1})))
         |  WHERE ln_nano > ln_k)""".stripMargin
    s"""SELECT * FROM (${one(200)} UNION ALL ${one(50)}) ORDER BY k""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "text_fightin_words" -> textFightinWords,
    "profile_tail_hill" -> profileTailHill
  )

  val oracles: Map[String, String] = Map(
    "text_fightin_words" -> textFightinWordsOracle,
    "profile_tail_hill" -> profileTailHillOracle
  )
}
