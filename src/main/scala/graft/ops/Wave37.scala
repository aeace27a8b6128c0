package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 37: two corpus-hygiene text operators — a readability
  * profile (Flesch reading ease from exact token/sentence/syllable
  * counts) and cross-document boilerplate detection (5-gram templates
  * shared by many documents, the C4-style signal for navigation chrome,
  * license headers and mirrored pages that dedup misses because the
  * SURROUNDING text differs).
  */
object Wave37 {

  // ---- text_readability: Flesch reading ease per source --------------

  /** Per-source readability: words (regex tokens), sentences
    * (punctuation runs, floor 1), syllables (vowel runs — the standard
    * cheap proxy), all exact integers folded in ONE map-side-combining
    * aggregate, then Flesch reading ease on the ratio of sums —
    * 206.835 − 1.015·(W/S) − 84.6·(Sy/W). Every count is an integer,
    * so the only float math is the final scalar expression — no
    * summation-order hazard. Filters that gate on readability run this
    * exact plan shape at 100 TB: narrow per-doc expressions, one
    * source-keyed exchange. */
  private val textReadability: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("source"),
        size(LlmPipeline.tokens(col("text"))).cast("bigint").as("w"),
        greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+")).cast("bigint"))
          .as("sent"),
        regexp_count(lower(col("text")), lit("[aeiou]+")).cast("bigint")
          .as("syl"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("sent").as("n_sentences"), sum("syl").as("n_syllables"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        round(col("n_words").cast("double") / col("n_sentences").cast("double"), 6)
          .as("words_per_sentence"),
        round(col("n_syllables").cast("double") / col("n_words").cast("double"), 6)
          .as("syllables_per_word"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")), 6)
          .as("flesch"))
      .orderBy("source")

  private val textReadabilityOracle =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(${LlmPipeline.duckTokens}) AS BIGINT) AS w,
       |    GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sent,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS syl
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(w) AS BIGINT) AS n_words,
       |  CAST(SUM(sent) AS BIGINT) AS n_sentences,
       |  CAST(SUM(syl) AS BIGINT) AS n_syllables,
       |  round(CAST(SUM(w) AS DOUBLE) / SUM(sent), 6) AS words_per_sentence,
       |  round(CAST(SUM(syl) AS DOUBLE) / SUM(w), 6) AS syllables_per_word,
       |  round(206.835 - 1.015 * (CAST(SUM(w) AS DOUBLE) / SUM(sent))
       |    - 84.6 * (CAST(SUM(syl) AS DOUBLE) / SUM(w)), 6) AS flesch
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // ---- text_boilerplate: cross-document template detection -----------

  /** Boilerplate 5-grams: word 5-gram shingles, DISTINCT within each
    * document, counted across documents; phrases appearing in >= 3
    * documents rank by document frequency — the template/chrome
    * detector run before near-dedup (a license header shared by 10k
    * docs never makes those docs near-duplicates, but should still be
    * stripped). One explode + one hash aggregate; the heavy tail of
    * singleton shingles dies in the partial aggregate's map-side
    * combine. Top 20 via TakeOrderedAndProject (no global sort). */
  private val textBoilerplate: Q = (s, dir) => {
    // bound token column — the O(tokens^2) inline-tokenizer trap
    val tk = col("__tk")
    val shingles = array_distinct(transform(
      sequence(lit(0), greatest(size(tk) - 5, lit(0))),
      i => concat_ws(" ", slice(tk, i + 1, lit(5)))))
    Tables.load(s, dir, "documents")
      .withColumn("__tk", LlmPipeline.tokens(col("text")))
      .select(col("doc_id"), col("source"), explode(shingles).as("sh"))
      .filter(size(split(col("sh"), " ")) === 5)
      .groupBy("sh")
      .agg(count(lit(1)).as("df"), countDistinct("source").as("n_sources"))
      .filter(col("df") >= 3)
      .orderBy(col("df").desc, col("sh").asc)
      .limit(20)
  }

  private val textBoilerplateOracle =
    s"""WITH d AS (
       |  SELECT doc_id, source, ${LlmPipeline.duckTokens} AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, source, unnest(list_distinct(list_transform(
       |    range(0, greatest(len(toks) - 4, 1)),
       |    i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3], toks[i+4], toks[i+5]))))
       |    AS sh
       |  FROM d)
       |SELECT sh, CAST(count(*) AS BIGINT) AS df,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |FROM sh
       |WHERE len(string_split(sh, ' ')) = 5
       |GROUP BY sh HAVING count(*) >= 3
       |ORDER BY df DESC, sh ASC LIMIT 20""".stripMargin

  val queries: Map[String, Q] = Map(
    "text_readability" -> textReadability,
    "text_boilerplate" -> textBoilerplate
  )

  val oracles: Map[String, String] = Map(
    "text_readability" -> textReadabilityOracle,
    "text_boilerplate" -> textBoilerplateOracle
  )
}
