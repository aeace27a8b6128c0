package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 75: mixture design + retrieval eval — DoReMi-style
  * domain reweighting (each source's excess loss = its KL divergence
  * to the corpus mixture, turned into tempered-softmax sampling
  * weights and a token budget: the data-mixing decision a pretraining
  * run makes BEFORE it burns compute), and exact average precision of
  * the en-stopword retrieval ranking (AP is the order-sensitive
  * retrieval number that accuracy-style sheets miss).
  */
object Wave75 {

  // ---- corpus_doremi: excess-loss domain reweighting -------------------

  /** Domain weights from excess unigram loss (DoReMi, Xie et al. 2023,
    * collapsed to its static-proxy form): excess(s) = cross-entropy of
    * domain s under the corpus unigram LM minus the domain's own
    * entropy = KL(domain ‖ corpus) >= 0, computed with the text_jsd
    * addend discipline (per-term double rounded to 9 decimals, exact
    * DECIMAL sum, final round 6); weight(s) ∝ share_orig(s) ·
    * exp(excess(s)), micro-normalized through nano-quantized integers
    * so the softmax division is one exact rational per domain. The
    * token budget re-allocates the corpus total by the new weights.
    * ONE (source, token) aggregation is the only data-sized pass. */
  private val corpusDoremi: Q = (s, dir) => {
    val terms = Tables.load(s, dir, "documents")
      .select(col("source"), explode(LlmPipeline.tokens(col("text"))).as("token"))
    val tfS = terms.groupBy("source", "token").agg(count(lit(1)).as("tf_s"))
    val totS = terms.groupBy("source").agg(count(lit(1)).as("t_s"))
    val tfC = terms.groupBy("token").agg(count(lit(1)).as("tf_c"))
    val totC = terms.agg(count(lit(1)).as("t_c"))
    val p = col("tf_s").cast("double") / col("t_s").cast("double")
    val q = col("tf_c").cast("double") / col("t_c").cast("double")
    val kl = tfS.join(broadcast(totS), "source")
      .join(tfC, "token").crossJoin(broadcast(totC))
      .select(col("source"),
        round(p * log(p / q), 9).cast("decimal(28,9)").as("addend"))
      .groupBy("source")
      .agg(round(sum("addend"), 6).cast("double").as("kl"))
    val w = kl.join(totS, "source").crossJoin(broadcast(totC))
      .withColumn("w_nano",
        round(col("t_s").cast("double") / col("t_c").cast("double")
          * exp(col("kl")) * 1e9).cast("long"))
    val wTot = w.agg(sum("w_nano").as("w_tot"))
    w.crossJoin(broadcast(wTot))
      .withColumn("weight_micro",
        expr("(2 * w_nano * 1000000 + w_tot) div (2 * w_tot)"))
      .select(col("source"), col("t_s").as("n_tokens"),
        expr("cast((2 * t_s * 1000000 + t_c) div (2 * t_c) as double)")
          .divide(lit(1e6)).as("share_orig"),
        col("kl").as("excess_loss"),
        (col("weight_micro").cast("double") / 1e6).as("weight"),
        expr("cast(weight_micro as decimal(38,0)) * t_c div 1000000")
          .cast("long").as("token_budget"))
      .orderBy("source")
  }

  private val corpusDoremiOracle =
    s"""WITH terms AS MATERIALIZED (
       |  SELECT source, unnest(${LlmPipeline.duckTokens}) AS token
       |  FROM documents),
       |tf_s AS (SELECT source, token, CAST(count(*) AS BIGINT) AS tf_s
       |  FROM terms GROUP BY 1, 2),
       |tot_s AS (SELECT source, CAST(count(*) AS BIGINT) AS t_s
       |  FROM terms GROUP BY 1),
       |tf_c AS (SELECT token, CAST(count(*) AS BIGINT) AS tf_c
       |  FROM terms GROUP BY 1),
       |tot_c AS (SELECT CAST(count(*) AS BIGINT) AS t_c FROM terms),
       |kl AS (
       |  SELECT source,
       |    CAST(round(SUM(CAST(round(
       |      (CAST(tf_s AS DOUBLE) / t_s)
       |        * ln((CAST(tf_s AS DOUBLE) / t_s) / (CAST(tf_c AS DOUBLE) / t_c)),
       |      9) AS DECIMAL(28,9))), 6) AS DOUBLE) AS kl
       |  FROM tf_s JOIN tot_s USING (source) JOIN tf_c USING (token), tot_c
       |  GROUP BY 1),
       |w AS (
       |  SELECT source, t_s, t_c, kl,
       |    CAST(round(CAST(t_s AS DOUBLE) / t_c * exp(kl) * 1e9) AS BIGINT)
       |      AS w_nano
       |  FROM kl JOIN tot_s USING (source), tot_c),
       |wt AS (SELECT SUM(w_nano) AS w_tot FROM w)
       |SELECT source, t_s AS n_tokens,
       |  CAST((2 * t_s::HUGEINT * 1000000 + t_c) // (2 * t_c) AS DOUBLE) / 1e6
       |    AS share_orig,
       |  kl AS excess_loss,
       |  CAST((2 * w_nano::HUGEINT * 1000000 + w_tot) // (2 * w_tot) AS DOUBLE)
       |    / 1e6 AS weight,
       |  CAST((2 * w_nano::HUGEINT * 1000000 + w_tot) // (2 * w_tot)
       |    * t_c // 1000000 AS BIGINT) AS token_budget
       |FROM w, wt ORDER BY source""".stripMargin

  // ---- eval_average_precision: order-sensitive retrieval eval ----------

  /** Exact average precision of ranking documents by en-stopword hits
    * (descending, doc_id tiebreak) against lang = 'en' relevance:
    * AP = (1/R) Σ_k rel_k · P@k. The global rank AND the running
    * relevant-count come from ONE Ranks prefix pass — the summed value
    * packs (rel << 32) + 1 into a single long, so rank = low 32 bits
    * and cum_rel = high bits (exact while rows < 2^32 per... the
    * packing bound is documented in the require note below); each
    * relevant row's P@k nano-quantizes half-up, the sum is exact, and
    * the final /R is one rational. P@10 / P@100 fall out of the same
    * pass. */
  private val evalAveragePrecision: Q = (s, dir) => {
    val parts = ConfScope.shufflePartitions(s)
    val d = Tables.load(s, dir, "documents").select(
      col("doc_id"),
      (col("lang") === "en").cast("long").as("rel"),
      LlmPipeline.hits("en").as("score"))
    // packing bound: rel*2^32 + 1 per row — exact up to 2^31 rows/rels,
    // far beyond any single ranking eval's candidate list
    val packed = Ranks.perGroupPrefixSum(
      d.withColumn("v", col("rel") * lit(4294967296L) + 1),
      Seq.empty, Seq(col("score").desc, col("doc_id").asc),
      col("v"), "cum", partitions = parts)
      .withColumn("k", pmod(col("cum"), lit(4294967296L)))
      .withColumn("cum_rel", expr("cum div 4294967296"))
    packed.agg(
        count(lit(1)).as("n"), sum("rel").as("n_rel"),
        sum(expr(
          "case when rel = 1 then (2 * cum_rel * 1000000000 + k) div (2 * k) " +
            "else 0 end")).as("ap_sum"),
        max(when(col("k") === 10, col("cum_rel"))).as("p10"),
        max(when(col("k") === 100, col("cum_rel"))).as("p100"))
      .select(col("n"), col("n_rel"),
        expr("cast((2 * ap_sum + n_rel) div (2 * n_rel) as double)")
          .divide(lit(1e9)).as("ap"),
        (col("p10").cast("double") / 10).as("p_at_10"),
        (col("p100").cast("double") / 100).as("p_at_100"))
  }

  private val evalAveragePrecisionOracle = {
    val score = LlmPipeline.duckHits("en")
    s"""WITH d AS (
       |  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS rel, $score AS score
       |  FROM documents),
       |r AS (
       |  SELECT rel,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS k,
       |    SUM(rel) OVER (ORDER BY score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum_rel
       |  FROM d),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(rel) AS BIGINT) AS n_rel,
       |    SUM(CASE WHEN rel = 1
       |      THEN (2 * cum_rel::HUGEINT * 1000000000 + k) // (2 * k)
       |      ELSE 0 END) AS ap_sum,
       |    MAX(CASE WHEN k = 10 THEN cum_rel END) AS p10,
       |    MAX(CASE WHEN k = 100 THEN cum_rel END) AS p100
       |  FROM r)
       |SELECT n, n_rel,
       |  CAST((2 * ap_sum + n_rel) // (2 * n_rel) AS DOUBLE) / 1e9 AS ap,
       |  CAST(p10 AS DOUBLE) / 10 AS p_at_10,
       |  CAST(p100 AS DOUBLE) / 100 AS p_at_100
       |FROM agg""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "corpus_doremi" -> corpusDoremi,
    "eval_average_precision" -> evalAveragePrecision
  )

  val oracles: Map[String, String] = Map(
    "corpus_doremi" -> corpusDoremiOracle,
    "eval_average_precision" -> evalAveragePrecisionOracle
  )
}
