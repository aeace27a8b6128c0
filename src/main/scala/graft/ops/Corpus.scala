package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Corpus-hygiene operators for LLM training-data pipelines (SURVEY.md
  * §2.10 extensions): PII/entity scrubbing, within-document repetition
  * scoring (the Gopher-style quality gates), cross-document boilerplate
  * passage detection, and a fully oracle-checked portable SimHash.
  *
  * Scale notes: scrubbing and repetition are narrow per-row transforms or
  * single hash-partitioned groupBys on doc_id; passage detection and
  * SimHash banding shuffle on content-hash keys — never a cross join —
  * so each is the same plan at 100 TB with more partitions.
  */
object Corpus {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.balanced(s, Tables.load(s, dir, "documents"))

  // ---- scrubbing ---------------------------------------------------------

  /** PII / entity scrubbing: masked emails, URLs, digit runs, and a
    * demo entity list, as one regexp_replace chain — a single narrow map,
    * codegen'd, zero shuffles; the canonical pre-tokenization cleaning
    * pass. Patterns use the regex subset Java and RE2-style engines share
    * (no lookbehind). */
  private val textScrub: Q = (s, dir) => {
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"),
              "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
            "https?://[^ ]+", "<URL>"),
          "[0-9]+", "<NUM>"),
        "\\b(customer|supplier)\\b", "<ENT>")
    docs(s, dir).select(
      col("doc_id"),
      scrubbed.as("scrubbed"),
      (length(col("text")) - length(regexp_replace(col("text"), "\\b(customer|supplier)\\b", "")))
        .cast("bigint").as("masked_chars"))
      .orderBy("doc_id")
  }

  // ---- repetition quality gates -------------------------------------------

  /** Within-document repetition signals (the Gopher/C4 quality gates):
    * distinct-token ratio, top-token mass, and duplicate-bigram mass.
    * All exact rationals (bigint counts ÷ bigint counts in double) —
    * engine-portable without rounding. One groupBy per granularity, both
    * keyed on doc_id: at 100 TB each is a map-side-combined shuffle. */
  private val textRepetition: Q = (s, dir) => {
    val d = docs(s, dir)
    val tok = d.select(col("doc_id"), explode(LlmPipeline.tokens(col("text"))).as("w"))
    val tokStats = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tok"), count(lit(1)).as("n_distinct"), max("n").as("max_n"))
    // bind the token array first: inlining the tokenizer into the
    // lambda re-splits the text per element access (O(tokens^2))
    val tk = col("__tk")
    val bigrams = transform(sequence(lit(0), greatest(size(tk) - 2, lit(0))),
      i => concat_ws(" ", slice(tk, i + 1, lit(2))))
    val biStats = d.withColumn("__tk", LlmPipeline.tokens(col("text")))
      .select(col("doc_id"), explode(bigrams).as("b"))
      .filter(instr(col("b"), " ") > 0)
      .groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bi"), count(lit(1)).as("n_bi_distinct"))
    tokStats.join(biStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_tok"),
        (col("n_distinct").cast("double") / col("n_tok")).as("distinct_ratio"),
        (col("max_n").cast("double") / col("n_tok")).as("top_token_ratio"),
        (lit(1.0) - col("n_bi_distinct").cast("double") / col("n_bi")).as("dup_bigram_ratio"))
      .orderBy("doc_id")
  }

  // ---- cross-document boilerplate -----------------------------------------

  /** Cross-document boilerplate: non-overlapping 8-token passages that
    * appear (hash-identically) in 2+ documents — the passage-level dedup
    * that catches shared headers/footers exact-dedup misses. Passage
    * hash is the shuffle key; output is (passage_md5, n_docs, example
    * doc). At 100 TB: one explode + one groupBy, partitioned by hash. */
  private val dedupPassage: Q = (s, dir) => {
    // bound token column — the O(tokens^2) inline-tokenizer trap
    val tk = col("__tk")
    val nWin = (size(tk) / 8).cast("int")
    val passages = when(nWin >= 1,
        transform(sequence(lit(0), nWin - 1),
          i => concat_ws(" ", slice(tk, i * 8 + 1, lit(8)))))
      .otherwise(array().cast("array<string>"))
    docs(s, dir)
      .withColumn("__tk", LlmPipeline.tokens(col("text")))
      .select(col("doc_id"), explode(passages).as("passage"))
      .filter(size(split(col("passage"), " ")) === 8)
      .groupBy(md5(col("passage").cast("binary")).as("passage_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("passage_md5")
  }

  // ---- substring-level dedup (sliding shingles + span merge) ---------------

  /** Substring-level duplication profile (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): a SLIDING 8-token
    * shingle at every offset (unlike dedup_passage's strided,
    * non-overlapping blocks), an occurrence is duplicated when its hash
    * appears >= 2 times anywhere in the corpus (cross- OR within-doc,
    * the paper's definition), and per doc the duplicated occurrences'
    * [pos, pos+7] spans are merged into maximal intervals — reported as
    * the span count, duplicated-token mass, and duplicated fraction the
    * removal step would act on.
    *
    * Scale shape: one explode (x ~n_tok rows), one hash-partitioned
    * shingle count, one semi-shaped join back, then the span merge —
    * which is the classic windowed interval union (running max of span
    * ends, new group when a span starts past it), keyed per doc_id: no
    * global window, parallelism = #docs, state = one doc's spans. */
  private val dedupSubstring: Q = (s, dir) => {
    val d = docs(s, dir)
      .select(col("doc_id"), LlmPipeline.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("bigint").as("n_tok"))
      .filter(col("n_tok") >= 8)
    val sh = d
      .select(col("doc_id"), col("n_tok"), posexplode(expr(
        "transform(sequence(0, cast(size(tk) as int) - 8), i -> md5(cast(concat_ws(' ', slice(tk, i + 1, 8)) as binary)))")))
      .toDF("doc_id", "n_tok", "pos", "h")
    val dupH = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val spans = sh.join(dupH, "h")
      .select(col("doc_id"), col("n_tok"),
        col("pos").cast("bigint").as("s"), (col("pos") + 7L).as("e"))
    val byDoc = Window.partitionBy("doc_id").orderBy("s")
    spans
      .withColumn("pmax",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp",
        sum(when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
          .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "n_tok", "grp")
      .agg(min("s").as("ms"), max("e").as("me"))
      .groupBy("doc_id", "n_tok")
      .agg(count(lit(1)).as("n_spans"), sum(col("me") - col("ms") + 1L).as("n_dup_tok"))
      .select(col("doc_id"), col("n_tok"), col("n_spans"), col("n_dup_tok"),
        round(col("n_dup_tok").cast("double") / col("n_tok"), 6).as("dup_ratio"))
      .orderBy("doc_id")
  }

  private val dedupSubstringOracle =
    s"""WITH d AS (SELECT doc_id, ${LlmPipeline.duckTokens} AS tk FROM documents),
       |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok, tk FROM d WHERE len(tk) >= 8),
       |sh AS (
       |  SELECT doc_id, n_tok, i AS pos,
       |    md5(array_to_string(tk[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')) AS h
       |  FROM (SELECT doc_id, n_tok, tk, unnest(range(len(tk) - 7)) AS i FROM base)),
       |dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
       |g AS (
       |  SELECT doc_id, n_tok, s, e,
       |    SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM (
       |    SELECT doc_id, n_tok, s, e,
       |      MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |    FROM (SELECT doc_id, n_tok, pos AS s, pos + 7 AS e FROM sh JOIN dup USING (h)))),
       |m AS (SELECT doc_id, n_tok, grp, MIN(s) AS ms, MAX(e) AS me FROM g GROUP BY 1, 2, 3)
       |SELECT doc_id, n_tok, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(me - ms + 1) AS BIGINT) AS n_dup_tok,
       |  ROUND(CAST(SUM(me - ms + 1) AS DOUBLE) / n_tok, 6) AS dup_ratio
       |FROM m GROUP BY doc_id, n_tok ORDER BY doc_id""".stripMargin

  // ---- portable SimHash (oracle-checked twin of dedup_simhash) -------------

  private val BITS = 60
  private val BANDS = 4 // 15 bits each

  /** SimHash near-dup pairs with a portable 60-bit hash (top-15-hex md5):
    * the ENTIRE pipeline — token hashing, 60 signed bit sums, signature
    * assembly, 4×15-bit band bucketing, Hamming confirmation — is
    * differentially verified against DuckDB (dedup_simhash above it is
    * the xxhash64 production-speed form; this proves the algorithm).
    * Same plan shape: one groupBy for signatures, one band join. */
  private val dedupSimhashMd5: Q = (s, dir) => {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(LlmPipeline.tokens(col("text"))).as("w"))
      .withColumn("h", LlmPipeline.h15(0, col("w")))
    // native one-pass aggregate (NativeExprSpec pins parity with the
    // composed 64-sum form); h has only its low 60 bits set, so the
    // signature's bits 60-63 count zero ones and stay 0 in both forms
    val sh = tok.groupBy("doc_id")
      .agg(graft.functions.Native.simhashAgg(col("h")).as("simhash"))
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until BANDS).map(b =>
        shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandVal")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandVal") === col("b.bandVal") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 11)
      .orderBy("i", "j")
  }

  val queries: Map[String, Q] = Map(
    "text_scrub" -> textScrub,
    "text_repetition" -> textRepetition,
    "dedup_passage" -> dedupPassage,
    "dedup_substring" -> dedupSubstring,
    "dedup_simhash_md5" -> dedupSimhashMd5
  )

  private val duckH15 =
    "CAST(concat('0x', substr(md5(concat('0#', w)), 1, 15)) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    "text_scrub" ->
      """SELECT doc_id,
        |regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |  'https?://[^ ]+', '<URL>', 'g'),
        |  '[0-9]+', '<NUM>', 'g'),
        |  '\b(customer|supplier)\b', '<ENT>', 'g') AS scrubbed,
        |CAST(LENGTH(text) - LENGTH(regexp_replace(text, '\b(customer|supplier)\b', '', 'g')) AS BIGINT) AS masked_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${LlmPipeline.duckTokens}) AS w FROM documents),
         |tc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id, w),
         |ts AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tok, CAST(COUNT(*) AS BIGINT) AS n_distinct, MAX(n) AS max_n FROM tc GROUP BY doc_id),
         |bi AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks)-1,1)), i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS b
         |       FROM (SELECT doc_id, ${LlmPipeline.duckTokens} AS toks FROM documents)),
         |bc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n FROM bi WHERE strpos(b, ' ') > 0 GROUP BY doc_id, b),
         |bs AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bi, CAST(COUNT(*) AS BIGINT) AS n_bi_distinct FROM bc GROUP BY doc_id)
         |SELECT ts.doc_id, ts.n_tok,
         |  CAST(n_distinct AS DOUBLE) / n_tok AS distinct_ratio,
         |  CAST(max_n AS DOUBLE) / n_tok AS top_token_ratio,
         |  1.0 - CAST(n_bi_distinct AS DOUBLE) / n_bi AS dup_bigram_ratio
         |FROM ts LEFT JOIN bs ON bs.doc_id = ts.doc_id ORDER BY ts.doc_id""".stripMargin,
    "dedup_substring" -> dedupSubstringOracle,
    "dedup_passage" ->
      s"""WITH d AS (SELECT doc_id, ${LlmPipeline.duckTokens} AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(CASE WHEN len(toks) // 8 >= 1
         |        THEN list_transform(range(0, len(toks) // 8), i -> concat_ws(' ', toks[i*8+1], toks[i*8+2], toks[i*8+3], toks[i*8+4], toks[i*8+5], toks[i*8+6], toks[i*8+7], toks[i*8+8]))
         |        ELSE [] END) AS passage FROM d)
         |SELECT md5(passage) AS passage_md5, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, MIN(doc_id) AS first_doc
         |FROM p WHERE len(string_split(passage, ' ')) = 8
         |GROUP BY md5(passage) HAVING COUNT(DISTINCT doc_id) >= 2 ORDER BY passage_md5""".stripMargin,
    "dedup_simhash_md5" -> {
      val bitSums = (0 until BITS).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
      val sig = (0 until BITS).map(b =>
        s"(CASE WHEN b$b > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << $b)").mkString(" | ")
      val bandArr = (0 until BANDS).map(b => s"(simhash >> ${b * 15}) & 32767").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, $duckH15 AS h
         |  FROM (SELECT doc_id, unnest(${LlmPipeline.duckTokens}) AS w FROM documents)),
         |sums AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id),
         |sh AS (SELECT doc_id, $sig AS simhash FROM sums),
         |banded AS (SELECT doc_id, simhash, unnest(range(0, $BANDS)) AS band, unnest([$bandArr]) AS bandVal FROM sh),
         |pairs AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bandVal = b.bandVal AND a.doc_id < b.doc_id)
         |SELECT i, j, hamming FROM pairs WHERE hamming <= 11 ORDER BY i, j""".stripMargin
    }
  )
}
