package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-4 scoring wave: unigram language-model scoring (the perplexity
  * proxy a curation pipeline filters on), curriculum binning of the
  * corpus by that score, and mergeable-sketch distinct rollups — the
  * re-aggregatable form a 100 TB reporting layer stores instead of raw
  * distincts.
  *
  * The reference's surface is SQL analytics over warehouse tables
  * (dbc:cmd2-21); these extend the `documents`/`events` fixtures the
  * same way the Wave3/Wave4 corpus families do (SURVEY §2.10).
  */
object Wave5 {

  // ---- text_unigram_lp: unigram LM scoring (perplexity proxy) ----------

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram distribution: mean over tokens of ln(count(token)/total).
    * This is the cheap stand-in for the LM-perplexity quality signal
    * curation pipelines (e.g. CCNet-style) filter and order corpora by —
    * documents of rare/garbled tokens score low, documents of common
    * well-formed text score high.
    *
    * Determinism: each (doc, term) addend tf·ln(c/T) is rounded to 6
    * places and summed in DECIMAL(18,6), so partial-aggregation order
    * cannot flip the float sum; the final mean divides the exact decimal
    * by the exact token count in double and rounds to 6. Zero-token
    * documents have no distribution and are omitted (both engines drop
    * them by construction).
    *
    * Scale shape: one narrow explode, two hash aggregations (per-doc tf,
    * vocabulary counts), the scalar total broadcast as a 1-row cross
    * join, and one vocabulary-keyed equi-join — the same linear shape as
    * text_tfidf; nothing is all-pairs and the vocabulary side is orders
    * of magnitude below corpus-sized.
    *
    * Exposed as a kernel over any (doc_id, text) frame so the curriculum
    * query and the spec share the exact production path. */
  def unigramLp(documents: DataFrame): DataFrame = {
    val terms = documents.select(col("doc_id"),
      explode(LlmPipeline.tokens(col("text"))).as("token"))
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val cnt = terms.groupBy("token").agg(count(lit(1)).as("c"))
    val tot = terms.agg(count(lit(1)).cast("double").as("t_total"))
    val addend = round(col("tf").cast("double") *
      log(col("c").cast("double") / col("t_total")), 6).cast(DecimalType(18, 6))
    tf.join(cnt, Seq("token"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum(addend).as("lp_sum"), sum("tf").as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        round(col("lp_sum").cast("double") / col("n_tok"), 6).as("mean_lp"))
  }

  private val textUnigramLp: Q = (s, dir) =>
    unigramLp(Tables.load(s, dir, "documents")).orderBy("doc_id")

  /** Shared CTE prefix computing the same decimal-summed per-doc score.
    * (Package-visible: Wave6's adaptive filter thresholds the same
    * score, so its oracle reuses this prefix verbatim.) */
  private[ops] val duckLpCte =
    s"""terms AS (SELECT doc_id, unnest(${LlmPipeline.duckTokens}) AS token FROM documents),
       |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, token),
       |c AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM terms GROUP BY token),
       |tot AS (SELECT CAST(count(*) AS DOUBLE) AS t_total FROM terms),
       |ad AS (SELECT doc_id, tf, CAST(round(tf * ln(c / t_total), 6) AS DECIMAL(18,6)) AS a
       |       FROM tf JOIN c USING (token), tot),
       |lp AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
       |         round(CAST(SUM(a) AS DOUBLE) / SUM(tf), 6) AS mean_lp
       |       FROM ad GROUP BY doc_id)""".stripMargin

  private val textUnigramLpOracle =
    s"""WITH $duckLpCte
       |SELECT doc_id, n_tok, mean_lp FROM lp ORDER BY doc_id""".stripMargin

  // ---- corpus_curriculum: quality-ordered training curriculum ----------

  /** Curriculum binning: within each language, documents are ranked by
    * the unigram-LM score and cut into 4 ntile stages — the
    * easy-to-hard (common-to-rare text) ordering a curriculum-learning
    * schedule feeds the trainer, reported as per-(lang, stage) volumes.
    * The ntile runs over (mean_lp, doc_id) so the order is total and
    * both engines cut identical bins.
    *
    * Scale shape: the score is the linear unigramLp pipeline, and the
    * per-language ranking deliberately does NOT use
    * `ntile(4) OVER (PARTITION BY lang ...)` — that hash-partitions by
    * language, and a web corpus is mostly ONE language, so the window
    * serializes onto a single task at scale. Ranks.perGroupRank range-
    * partitions on (lang, score, doc_id) instead (balanced regardless
    * of language skew) and reconstructs the identical per-language rank
    * from partition offsets; Ranks.ntileExpr then cuts the same 4
    * stages in closed form. Byte-equivalence with the window form is
    * pinned by RanksSpec; the DuckDB oracle still uses plain ntile. */
  private val corpusCurriculum: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val scored = unigramLp(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val ranked = Ranks.perGroupRank(scored, Seq("lang"),
      Seq(col("mean_lp"), col("doc_id")), rankCol = "rk", nCol = "n_lang",
      partitions = ConfScope.shufflePartitions(s))
    val staged = ranked.withColumn("stage",
      Ranks.ntileExpr(col("rk"), col("n_lang"), 4))
    staged.groupBy("lang", "stage")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("tok_total"),
        round(sum(col("mean_lp").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 6).as("avg_lp"))
      .orderBy("lang", "stage")
  }

  private val corpusCurriculumOracle =
    s"""WITH $duckLpCte,
       |staged AS (SELECT lang, ntile(4) OVER (PARTITION BY lang ORDER BY mean_lp, doc_id) AS stage,
       |             n_tok, mean_lp
       |           FROM lp JOIN documents USING (doc_id))
       |SELECT lang, CAST(stage AS INT) AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS tok_total,
       |  round(CAST(SUM(CAST(mean_lp AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_lp
       |FROM staged GROUP BY lang, stage ORDER BY lang, stage""".stripMargin

  // ---- agg_hll_mergeable: re-aggregatable distinct-count sketches ------

  /** Mergeable-sketch rollup: distinct users per event type computed by
    * UNIONING per-(type, day) HLL sketches — the pattern a 100 TB
    * reporting layer uses so raw data is sketched ONCE at the finest
    * grain and every coarser rollup is a register-wise merge of stored
    * sketches, never a re-scan (SURVEY §2.4 approx family; the exact
    * cross-check is the same `n_users` the profiler computes).
    *
    * The differential gate pins the exact count and the sketch's 5%
    * relative-error bound cross-engine (DuckDB emits TRUE; a drifting
    * estimate flips the boolean and fails the hash). Wave5Spec asserts
    * the mergeability law itself: union-of-fine-sketches ==
    * direct-coarse-sketch, register for register.
    *
    * Scale shape: two hash aggregations whose shuffled payload is
    * sketch-sized (4-KB registers), not row-sized; the exact twin is one
    * two-phase distinct. No data moves twice. */
  private val aggHllMergeable: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"), col("user_id"))
    val fine = ev.groupBy("event_type", "d")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = fine.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("n_users"))
    exact.join(merged, Seq("event_type"))
      .select(col("event_type"), col("n_users"),
        (abs(col("est") - col("n_users")).cast("double") /
          col("n_users").cast("double") <= lit(0.05)).as("within_5pct"))
      .orderBy("event_type")
  }

  private val aggHllMergeableOracle =
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  TRUE AS within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- text_heavyhitters: frequent-term sketch vs exact rank ----------

  /** Corpus heavy hitters: the exact top-10 terms (count-desc, term
    * tie-break) cross-checked against an approx_top_k frequency sketch.
    * The sketch is sized far above the vocabulary (maxItemsTracked =
    * 65536), which is the correct 100 TB heavy-hitter design: capacity
    * scales with the VOCABULARY (slow-growing), not the corpus, and
    * below capacity the sketch's counts are exact — the gate pins that
    * contract by joining each exact top term against its sketched
    * estimate (DuckDB emits TRUE; an estimate drifting off the exact
    * count flips the boolean and fails the hash).
    *
    * Scale shape: the exact side is one hash aggregation + a top-k sort
    * of the vocabulary-sized aggregate; the sketch side is a single
    * partial-aggregated pass whose shuffled state is the sketch, not the
    * corpus. */
  private val textHeavyHitters: Q = (s, dir) => {
    val terms = Tables.load(s, dir, "documents")
      .select(explode(LlmPipeline.tokens(col("text"))).as("token"))
    val exact = terms.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(10)
    val sketched = terms
      // top-50 from the sketch so a count tie at the exact top-10
      // boundary can never push a reported term outside the sketch set
      .agg(expr("approx_top_k(token, 50, 65536)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("est"))
    exact.join(sketched, Seq("token"), "left")
      .select(col("token"), col("cnt"),
        (col("est").isNotNull && col("est") === col("cnt")).as("sketch_exact"))
      .orderBy(col("cnt").desc, col("token"))
  }

  private val textHeavyHittersOracle =
    s"""WITH terms AS (SELECT unnest(${LlmPipeline.duckTokens}) AS token FROM documents),
       |exact AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM terms
       |          GROUP BY token ORDER BY cnt DESC, token LIMIT 10)
       |SELECT token, cnt, TRUE AS sketch_exact
       |FROM exact ORDER BY cnt DESC, token""".stripMargin

  val queries: Map[String, Q] = Map(
    "text_heavyhitters" -> textHeavyHitters,
    "text_unigram_lp" -> textUnigramLp,
    "corpus_curriculum" -> corpusCurriculum,
    "agg_hll_mergeable" -> aggHllMergeable
  )

  val oracles: Map[String, String] = Map(
    "text_heavyhitters" -> textHeavyHittersOracle,
    "text_unigram_lp" -> textUnigramLpOracle,
    "corpus_curriculum" -> corpusCurriculumOracle,
    "agg_hll_mergeable" -> aggHllMergeableOracle
  )
}
