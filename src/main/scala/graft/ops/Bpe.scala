package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkEntry.Q
import graft.engine.Tables

/** Byte-pair-encoding merge induction (Sennrich et al. 2016) — the
  * tokenizer-training step a corpus pipeline runs after vocab_build:
  * start from characters, repeatedly merge the most frequent adjacent
  * symbol pair. Everything is expressed as DataFrame ops over the WORD
  * FREQUENCY DICTIONARY (vocabulary-sized, Heaps-bounded — the corpus
  * itself is touched exactly once, by the token count), zero UDFs:
  *
  *  - pair counting: each word's adjacent pairs, weighted by word
  *    frequency — all adjacent occurrences count (reference BPE
  *    semantics: "aaa" contributes (a,a) twice);
  *  - pair selection: total-ordered argmax (count DESC, left ASC,
  *    right ASC) — a one-row driver head() per round, model-sized like
  *    any trained artifact (Ivf centroids, Pq codebooks);
  *  - merge application: greedy leftmost rewrite per word as a pure
  *    array expression. Overlapping matches exist ONLY when
  *    left = right (a match at both i and i+1 forces s[i] = s[i+1] =
  *    s[i+2]); there the run-offset parity rule — merge where an even
  *    number of identical symbols trail position i — reproduces greedy
  *    exactly: a run of length L merges at offsets 0,2,4..., leaving a
  *    singleton iff L is odd.
  *
  * The oracle replays ALL rounds in DuckDB as a generated CTE chain
  * with the same parity rule, so the full training loop — not just one
  * step — is hash-checked. At 100 TB the dictionary aggregation is the
  * only corpus-sized job; rounds run on the head-K dictionary (same
  * TakeOrderedAndProject top-k shape as vocab_build).
  */
object Bpe {

  private val HeadWords = 200
  private val Rounds = 8

  private def toks(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), x => x =!= "")
  private val duckToks =
    "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x->x<>'')"

  /** Top-K word-frequency dictionary with each word's character symbol
    * array: the training input. Same scale shape as vocab_build —
    * per-partition k-head pruning, never a vocabulary-sized sort. */
  private def dictionary(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(explode(toks(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token")).limit(HeadWords)
      .select(col("token"), col("freq"),
        expr("transform(sequence(1, length(token)), i -> substr(token, i, 1))").as("syms"))

  /** All adjacent pairs of `syms` with their frequency-weighted counts
    * (syms[...] is 0-based in Spark SQL). */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      // greatest(...) + the in-lambda bound guard: sequence(0, -1) is a
      // DESCENDING sequence in Spark, so a single-symbol word would
      // otherwise index at -1 (ANSI error) instead of yielding no pairs
      .select(col("freq"), explode(expr(
        """filter(
          |  transform(sequence(0, greatest(size(syms) - 2, 0)), i ->
          |    CASE WHEN i <= size(syms) - 2
          |         THEN struct(get(syms, i) AS x, get(syms, i + 1) AS y) END),
          |  p -> p IS NOT NULL)""".stripMargin)).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(sum(col("freq")).as("cnt"))

  private def sq(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Spark-side merge-start predicate at 0-based index `i` (a string
    * expression so the same template serves `i` and `i-1`). */
  private def startAt(i: String, x: String, y: String): String = {
    // get() (not syms[...]) everywhere: ANSI Spark raises on an
    // out-of-range index even when a preceding AND conjunct guards it;
    // get() returns NULL, the conjunction nulls out, CASE falls through
    val trailEq =
      s"(($i) - 1 - coalesce(aggregate(filter(sequence(0, greatest(($i) - 1, 0)), j -> j < ($i) AND get(syms, j) <> ${sq(x)}), -1, (a, j) -> greatest(a, j)), -1))"
    s"(($i) >= 0 AND ($i) < size(syms) - 1 AND get(syms, $i) = ${sq(x)} AND get(syms, ($i) + 1) = ${sq(y)}" +
      s" AND (${sq(x)} <> ${sq(y)} OR $trailEq % 2 = 0))"
  }

  /** Greedy leftmost merge of pair (x, y) inside `syms` as a pure array
    * expression: a starting element becomes the concatenated token, the
    * element after a start is dropped, everything else passes through. */
  private[graft] def mergeExpr(x: String, y: String): Column =
    expr(
      s"""filter(
         |  transform(sequence(0, size(syms) - 1), i ->
         |    CASE WHEN ${startAt("i", x, y)} THEN concat(${sq(x)}, ${sq(y)})
         |         WHEN ${startAt("i - 1", x, y)} THEN CAST(NULL AS STRING)
         |         ELSE get(syms, i) END),
         |  s -> s IS NOT NULL)""".stripMargin)

  /** Run [[Rounds]] merge rounds; returns (round, left, right,
    * weighted pair count) — the learned merge table. */
  private[graft] def learnedMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    // the ONE corpus-sized pass (dictionary aggregation + top-K) pins
    // HERE under the session conf — AQE stays available to it; the 8
    // learn rounds below (16 jobs: argmax collect + checkpoint each)
    // touch only the HeadWords-row dictionary, so they run in the
    // superstep scope at width 1.
    var words = dictionary(s, dir).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    graft.engine.ConfScope.superstep(s) { _ =>
      for (r <- 1 to Rounds) {
        val best = pairCounts(words)
          .orderBy(desc("cnt"), asc("x"), asc("y")).limit(1).collect()
        if (best.nonEmpty) {
          val (x, y, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((r, x, y, c))
          // localCheckpoint truncates the per-round HOF lineage so round
          // R's plan does not re-derive rounds 1..R-1
          words = words.withColumn("syms", mergeExpr(x, y)).localCheckpoint()
        }
      }
    }
    merges.toSeq
  }

  /** vocab_bpe: the merge table — (round, left, right, merged,
    * pair_count), the exact artifact a BPE tokenizer ships. */
  private val vocabBpe: Q = (s, dir) => {
    val rows = learnedMerges(s, dir).map { case (r, x, y, c) =>
      Row(r.toLong, x, y, x + y, c)
    }
    val schema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("left", StringType, nullable = false),
      StructField("right", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema).orderBy("round")
  }

  /** DuckDB-side merge-start predicate; DuckDB lists are 1-based, so
    * the 0-based template index is shifted at the access sites. `bx`/
    * `by` are SQL references to the round's argmax pair columns. */
  private def duckStartAt(i: String, bx: String, by: String): String = {
    val trailEq =
      s"(($i) - 1 - coalesce(list_max(list_filter(range(0, $i), j -> syms[CAST(j + 1 AS INT)] <> $bx)), -1))"
    s"(($i) >= 0 AND ($i) < len(syms) - 1 AND syms[CAST(($i) + 1 AS INT)] = $bx AND syms[CAST(($i) + 2 AS INT)] = $by" +
      s" AND ($bx <> $by OR $trailEq % 2 = 0))"
  }

  /** One DuckDB rewrite stage: `dst` = `src` with round `r`'s argmax
    * pair merged (greedy-leftmost via parity). `cols` = passthrough
    * columns besides syms. */
  private def duckRewrite(src: String, dst: String, r: Int, cols: String): String =
    s"""$dst AS (
       |  SELECT $cols,
       |    list_filter(
       |      list_transform(range(0, len(syms)), i ->
       |        CASE WHEN ${duckStartAt("i", s"b$r.x", s"b$r.y")} THEN concat(b$r.x, b$r.y)
       |             WHEN ${duckStartAt("i - 1", s"b$r.x", s"b$r.y")} THEN NULL
       |             ELSE syms[CAST(i + 1 AS INT)] END),
       |      s -> s IS NOT NULL) AS syms
       |  FROM $src CROSS JOIN b$r)""".stripMargin

  /** The shared learning chain: w0 = the dictionary, then per round a
    * (bN = argmax pair, wN = rewritten words) CTE pair — the same merge
    * table the Spark loop learns. */
  private def learnChain: String = {
    val dict =
      s"""w0 AS (
         |  SELECT token, freq,
         |    list_transform(range(1, length(token) + 1), i -> substr(token, CAST(i AS INT), 1)) AS syms
         |  FROM (SELECT token, CAST(count(*) AS BIGINT) AS freq
         |        FROM (SELECT unnest($duckToks) AS token FROM documents)
         |        GROUP BY token ORDER BY freq DESC, token LIMIT $HeadWords))""".stripMargin
    val stages = (1 to Rounds).map { r =>
      val p = r - 1
      val best =
        s"""b$r AS (
           |  SELECT syms[CAST(i + 1 AS INT)] AS x, syms[CAST(i + 2 AS INT)] AS y,
           |    CAST(SUM(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, syms, unnest(range(len(syms) - 1)) AS i FROM w$p)
           |  GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1)""".stripMargin
      best + ",\n" + duckRewrite(s"w$p", s"w$r", r, "token, freq")
    }
    s"$dict,\n${stages.mkString(",\n")}"
  }

  private def oracleSql: String = {
    val union = (1 to Rounds)
      .map(r => s"""SELECT CAST($r AS BIGINT) AS round, x AS "left", y AS "right", concat(x, y) AS merged, cnt AS pair_count FROM b$r""")
      .mkString("\nUNION ALL\n")
    s"WITH $learnChain\n$union\nORDER BY round"
  }

  // ---- tokenize_bpe: encode the corpus with the learned merges ---------

  /** Apply the learned merge sequence, in order, to a frame with a
    * `syms` column — the encode side of the tokenizer. */
  private def applyMerges(vocab: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame =
    merges.foldLeft(vocab) { case (df, (_, x, y, _)) =>
      df.withColumn("syms", mergeExpr(x, y)) }

  /** tokenize_bpe: encode every document with the learned merges. The
    * 8-round rewrite runs over DISTINCT corpus tokens (vocabulary-sized
    * — the corpus never pays the per-symbol HOFs), broadcast back onto
    * the (doc, pos, token) stream; per doc: word count, BPE symbol
    * count, and the md5 of the position-ordered symbol stream (pins the
    * exact encoding, not just its size). */
  private val tokenizeBpe: Q = (s, dir) => {
    val merges = learnedMerges(s, dir)
    val docsTok = Tables.load(s, dir, "documents")
      .select(col("doc_id"), posexplode(toks(col("text"))))
      .toDF("doc_id", "pos", "token")
    val encoded = encodeTokens(docsTok.select("token").distinct(), merges)
      .select(col("token"), concat_ws(" ", col("syms")).as("enc"),
        size(col("syms")).cast("bigint").as("n_sym"))
    docsTok.join(broadcast(encoded), "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_bpe"),
        expr("md5(cast(concat_ws(' ', transform(sort_array(collect_list(struct(pos, enc))), p -> p.enc)) AS BINARY))")
          .as("stream_md5"))
      .orderBy("doc_id")
  }

  private def tokenizeBpeOracle: String = {
    val vStages = (1 to Rounds)
      .map(r => duckRewrite(s"v${r - 1}", s"v$r", r, "token"))
      .mkString(",\n")
    s"""WITH $learnChain,
       |d AS (SELECT doc_id, $duckToks AS tk FROM documents),
       |tok AS (
       |  SELECT doc_id, pos, tk[CAST(pos + 1 AS INT)] AS token
       |  FROM (SELECT doc_id, tk, unnest(range(len(tk))) AS pos FROM d)),
       |v0 AS (
       |  SELECT token,
       |    list_transform(range(1, length(token) + 1), i -> substr(token, CAST(i AS INT), 1)) AS syms
       |  FROM (SELECT DISTINCT token FROM tok)),
       |$vStages,
       |enc AS (SELECT token, array_to_string(syms, ' ') AS enc, CAST(len(syms) AS BIGINT) AS n_sym FROM v$Rounds)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe,
       |  md5(string_agg(enc, ' ' ORDER BY pos)) AS stream_md5
       |FROM tok JOIN enc USING (token)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Persist the learned merge table into a store (the train-once /
    * encode-many production shape, like Ivf.buildIndex): one tiny
    * parquet table, ordered by round. */
  def saveMerges(store: graft.engine.ParquetStore, s: SparkSession,
      merges: Seq[(Int, String, String, Long)]): Unit = {
    val rows = merges.map { case (r, x, y, c) => Row(r.toLong, x, y, c) }
    val schema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("left", StringType, nullable = false),
      StructField("right", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    store.overwrite(
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema), "bpe_merges")
  }

  /** Load a persisted merge table in round order — model-sized driver
    * state, the same contract as loading centroids or codebooks. */
  def loadMerges(store: graft.engine.ParquetStore,
      s: SparkSession): Seq[(Int, String, String, Long)] =
    store.read(s, "bpe_merges").orderBy("round").collect()
      .map(r => (r.getLong(0).toInt, r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  /** Encode a token frame (`token` column) with an explicit merge list —
    * exposed so persisted-model encoding is the same code path the
    * in-session query uses. */
  def encodeTokens(vocab: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame =
    applyMerges(
      vocab.withColumn("syms",
        expr("transform(sequence(1, length(token)), i -> substr(token, i, 1))")),
      merges)

  val queries: Map[String, Q] = Map(
    "vocab_bpe" -> vocabBpe,
    "tokenize_bpe" -> tokenizeBpe)
  val oracles: Map[String, String] = Map(
    "vocab_bpe" -> oracleSql,
    "tokenize_bpe" -> tokenizeBpeOracle)
}
