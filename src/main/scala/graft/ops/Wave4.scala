package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-4 training-pipeline wave: benchmark decontamination, the
  * deterministic global training-order shuffle, TF-IDF term scoring, and
  * stride-overlapped context chunking — the remaining corpus-preparation
  * steps between a deduped corpus (Wave3) and tokenized training shards.
  * Every query is DuckDB-oracle-backed.
  *
  * The reference's own surface stops at SQL analytics over warehouse
  * tables (dbc:cmd2-21); these extend the `documents`/`embeddings`
  * fixtures the same way the dedup/similarity families do (SURVEY §2.10).
  */
object Wave4 {

  // ---- decontaminate: train/eval n-gram overlap removal ----------------

  /** Benchmark decontamination: drop every training document that shares
    * any 5-token shingle with the held-out eval split (here: source =
    * 'src0' plays the eval set). This is the standard n-gram-overlap
    * decontamination step run before pretraining so the training corpus
    * cannot leak eval answers.
    *
    * Scale shape: shingling is a narrow per-row explode; the contamination
    * probe is ONE equi-join on the shingle string (hash-partitioned — the
    * candidate space is "docs sharing a shingle", never all pairs), then a
    * left-anti join on doc_id. The eval side is DISTINCT'ed first, so at
    * 100 TB the join's build side is the eval shingle set (benchmark-sized,
    * typically broadcastable), not the corpus. Docs shorter than the
    * shingle width have no shingles and are kept — both engines agree by
    * construction.
    *
    * This is the kernel over any (doc_id, text, lang, source) frame —
    * public so the spec can run planted-contamination fixtures through
    * the exact production path; the registered query applies it to the
    * documents table. */
  def testDecontaminate(documents: DataFrame): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("lang"), col("source"), LlmPipeline.tokens(col("text")).as("tk"))
    val shingles = docs
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("tk")) - 4),
          i => concat_ws(" ", slice(col("tk"), i, lit(5))))).as("sh"))
    val evalShingles = shingles.filter(col("source") === "src0")
      .select("sh").distinct()
    val contaminated = shingles.filter(col("source") =!= "src0")
      .join(evalShingles, Seq("sh"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("source") =!= "src0")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  private val decontaminate: Q = (s, dir) => testDecontaminate(Tables.load(s, dir, "documents"))

  private val decontaminateOracle =
    s"""WITH tk AS (SELECT doc_id, lang, source, ${LlmPipeline.duckTokens} AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, source,
       |    unnest(list_transform(generate_series(1, len(tk) - 4),
       |      i -> array_to_string(tk[i:i+4], ' '))) AS sh
       |  FROM tk WHERE len(tk) >= 5),
       |ev AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
       |bad AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (sh) WHERE s.source <> 'src0')
       |SELECT doc_id, lang, source FROM tk
       |WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY doc_id""".stripMargin

  // ---- shuffle_global: deterministic training-order shard assignment ---

  /** Global training shuffle: every document gets a pseudo-random but
    * DETERMINISTIC (content-hash) position — shard = hash residue mod 8,
    * position = rank of the hash within the shard. This is the
    * "shuffle once, read sequentially" layout training jobs want: the
    * order is reproducible across runs and engines (no RNG), and a
    * resumed job re-derives the exact same permutation.
    *
    * Scale shape: the shard assignment is a narrow map evaluated at the
    * scan; the only shuffle is the per-shard window sort, which
    * parallelizes across shards (8 here; thousands at 100 TB) instead of
    * serializing on one global ORDER BY. */
  private val shuffleGlobal: Q = (s, dir) => {
    val h = md5(col("doc_id").cast("string").cast("binary"))
    val shard = pmod(Hashing.md5HexLong(h), lit(8))
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), h.as("h"), shard.as("shard"))
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  private val shuffleGlobalOracle =
    """SELECT doc_id, shard, pos FROM (
      |  SELECT doc_id, shard,
      |    CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
      |  FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
      |          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
      |        FROM documents))
      |ORDER BY shard, pos""".stripMargin

  // ---- text_tfidf: corpus-weighted term scoring ------------------------

  /** TF-IDF: per-(doc, term) frequency weighted by inverse document
    * frequency over the whole corpus — the classic quality/topic signal a
    * curation pipeline computes before filtering or clustering. Emitted
    * un-ranked (every term of every doc) so the differential gate hashes
    * integer tf/df exactly; the float score is rounded to 6 places.
    *
    * Scale shape: one narrow explode, two hash aggregations (doc-term
    * counts, then document frequency — both partial-agg'd map-side), the
    * corpus size N broadcast as a 1-row cross join, and one token-keyed
    * equi-join of tf against df. Nothing is all-pairs; the df table is
    * vocabulary-sized, orders of magnitude below corpus-sized. */
  /** Shared term-statistics pipeline for the scoring family: (doc, term)
    * frequency, per-term document frequency, and corpus size — the ONE
    * place the tokenization-to-tf semantics live, so text_tfidf and
    * rank_bm25 (and both oracles) can never drift apart. */
  private[ops] def termStats(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val terms = docs.select(col("doc_id"), explode(LlmPipeline.tokens(col("text"))).as("token"))
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    (tf, dfreq, n)
  }
  private[ops] val duckTermStats =
    s"""terms AS (SELECT doc_id, unnest(${LlmPipeline.duckTokens}) AS token FROM documents),
       |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, token),
       |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)""".stripMargin

  private val textTfidf: Q = (s, dir) => {
    val (tf, dfreq, n) = termStats(Tables.load(s, dir, "documents"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
      .orderBy("doc_id", "token")
  }

  private val textTfidfOracle =
    s"""WITH $duckTermStats
       |SELECT doc_id, token, tf, df, round(tf * ln(n_docs / df), 6) AS tfidf
       |FROM tf JOIN df USING (token), n
       |ORDER BY doc_id, token""".stripMargin

  // ---- chunk_stride: overlapping context-window chunking ---------------

  /** Stride-overlapped chunking: split each document's token stream into
    * 64-token context windows advancing 48 tokens per step (16-token
    * overlap) — the long-document treatment for a fixed-context trainer,
    * where corpus_pack's contiguous packing handles the short tail. Chunk
    * count is ceil((len-64)/48)+1 clamped to >= 1, so every token lands in
    * at least one chunk and a short doc yields exactly one.
    *
    * Scale shape: a pure narrow map — sequence/transform/explode with no
    * shuffle anywhere except the output ordering the gate requires; at
    * 100 TB this pipelines at scan speed. The chunk fingerprint (md5 of
    * the joined window) is what a downstream passage-level dedup would
    * key on. */
  private val chunkStride: Q = (s, dir) => {
    val len = size(col("tk"))
    // integer ceil((len-64)/48) + 1 == floor((len-17)/48) + 1 for len > 64
    val nChunks = when(len <= 64, lit(1))
      .otherwise(floor((len - 17).cast("double") / 48.0).cast("int") + 1)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), LlmPipeline.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        slice(col("tk"), col("chunk_id") * 48 + 1, lit(64)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("bigint").as("n_tok"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("fp"))
      .orderBy("doc_id", "chunk_id")
  }

  private val chunkStrideOracle =
    s"""WITH tk AS (SELECT doc_id, ${LlmPipeline.duckTokens} AS tk FROM documents),
       |c AS (SELECT doc_id, tk,
       |        CASE WHEN len(tk) <= 64 THEN 1
       |             ELSE CAST(floor((len(tk) - 17) / 48.0) AS INT) + 1 END AS n_chunks
       |      FROM tk),
       |x AS (SELECT doc_id, tk, unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM c)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(len(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT) AS n_tok,
       |  md5(array_to_string(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')) AS fp
       |FROM x ORDER BY doc_id, chunk_id""".stripMargin

  // ---- semdedup: cluster-blocked semantic dedup ------------------------

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): assign every
    * embedding to its nearest seed centroid, then drop any vector with a
    * LOWER-id near-duplicate (cosine >= 0.3) in the same cell. Unlike
    * dedup_embed_cosine (which blocks on the fixture's label column),
    * the blocking key here is LEARNED from the vectors themselves — the
    * shape a real pipeline uses when no labels exist.
    *
    * Scale shape: assignment follows the Ivf.assign pattern — k centroid
    * literals, a completely narrow per-row argmax, no join/shuffle/window
    * — but scores are ROUNDED to 6 places first, so the cross-engine
    * argmax never compares raw doubles (the same rounding contract every
    * other oracled cosine query uses). The within-cell self-join is
    * quadratic ONLY in cell size: k grows with the corpus so cells stay
    * bounded, and the candidate space is "pairs sharing a cell", never
    * all-pairs. The kept set is provably pairwise non-near within every
    * cell (any near pair would have dropped its larger member). */
  private val semDedup: Q = (s, dir) => {
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val seeds: Array[(Int, Seq[Float])] = e.filter(col("vec_id") < 8)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1)))
    val sims = seeds.map { case (_, c) =>
      round(graft.functions.Native.cosineSim(col("embedding"),
        array(c.map(v => lit(v)): _*).cast("array<float>")), 6) }
    val mx = greatest(sims: _*)
    val cellCol = sims.zip(seeds).tail.foldLeft(
      when(sims.head === mx, seeds.head._1)) {
      case (acc, (sim, (id, _))) => acc.when(sim === mx, id)
    }
    val a = e.select(col("vec_id"), cellCol.cast("int").as("cell"), col("embedding"))
    val dropped = a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .filter(round(graft.functions.Native.cosineSim(
        col("x.embedding"), col("y.embedding")), 6) >= 0.3)
      .select(col("y.vec_id").as("vec_id")).distinct()
    a.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell").cast("bigint").as("cell"))
      .orderBy("vec_id")
  }

  private val duckCos =
    "list_aggregate(list_transform(list_zip(%s, %s), p -> p[1] * p[2]), 'sum')" +
      " / (SQRT(list_aggregate(list_transform(%s, x -> x*x), 'sum'))" +
      " * SQRT(list_aggregate(list_transform(%s, x -> x*x), 'sum')))"
  private def cosSql(a: String, b: String): String =
    duckCos.format(a, b, a, b)

  private val semDedupOracle =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM e WHERE vec_id < 8),
       |scored AS (SELECT vec_id, v, cell, ROUND(${cosSql("v", "cv")}, 6) AS cos FROM e CROSS JOIN c),
       |a AS (SELECT vec_id, v, cell FROM (
       |    SELECT vec_id, v, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
       |    FROM scored) WHERE rn = 1),
       |bad AS (SELECT DISTINCT y.vec_id FROM a x JOIN a y
       |  ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ROUND(${cosSql("x.v", "y.v")}, 6) >= 0.3)
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a
       |WHERE vec_id NOT IN (SELECT vec_id FROM bad) ORDER BY vec_id""".stripMargin

  // ---- rank_bm25: retrieval scoring over the corpus --------------------

  /** BM25 document scoring for a fixed 3-term query (Robertson/Lucene
    * form: idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturated by
    * k1 = 1.2 with b = 0.75 length normalization) — the retrieval-side
    * twin of text_tfidf, and the scoring a dedup-then-retrieve corpus
    * pipeline runs for eval-set mining. Emitted for every matching doc
    * (no float ranking; the gate hashes the rounded score).
    *
    * Scale shape: reuses the tf aggregation, joins the vocabulary-sized
    * df table, broadcasts the two corpus scalars (N, avgdl); per-doc
    * length is one narrow map. One token-keyed shuffle, one doc-keyed
    * aggregation — nothing all-pairs. */
  /** The (doc_id, bm25, n_terms) score frame for the fixed 3-term query
    * — shared by rank_bm25 and the hybrid fusion (rank_rrf, Wave23) so
    * the lexical scoring semantics live in exactly one place. */
  private[ops] def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val (tf, dfreq, n) = termStats(docs)
    val dl = docs.select(col("doc_id"),
      size(LlmPipeline.tokens(col("text"))).cast("double").as("dl"))
    val avgdl = dl.agg(avg("dl").as("avgdl"))
    val q = Seq("table", "spark", "query")
    tf.filter(col("token").isin(q: _*))
      .join(dfreq, Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(avgdl))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("s",
        col("idf") * col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      // each addend is rounded then summed in DECIMAL: the aggregation is
      // exact and order-independent, so partial-agg order can't flip the
      // gate hash (a raw double SUM has no defined addition order)
      .agg(round(sum(round(col("s"), 6).cast("decimal(18,6)")), 6)
        .cast("double").as("bm25"),
        count(lit(1)).cast("bigint").as("n_terms"))
  }

  /** DuckDB twin of [[bm25Scores]] (CTE body; expects $duckTermStats +
    * dl + a in scope), kept adjacent so the two can't drift. */
  private[ops] val duckBm25Body =
    """SELECT doc_id, CAST(round(SUM(CAST(round(
      |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
      |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS DECIMAL(18,6))), 6) AS DOUBLE) AS bm25,
      |  CAST(count(*) AS BIGINT) AS n_terms
      |FROM tf JOIN df USING (token) JOIN dl USING (doc_id), n, a
      |WHERE token IN ('table', 'spark', 'query')
      |GROUP BY doc_id""".stripMargin

  private val rankBm25: Q = (s, dir) => bm25Scores(s, dir).orderBy("doc_id")

  /** Shared DuckDB prelude for the BM25 score frame (term stats + doc
    * lengths + avgdl), used by rank_bm25 here and rank_rrf (Wave23). */
  private[ops] val duckBm25Prelude =
    s"""$duckTermStats,
       |dl AS (SELECT doc_id, CAST(len(${LlmPipeline.duckTokens}) AS DOUBLE) AS dl FROM documents),
       |a AS (SELECT avg(dl) AS avgdl FROM dl)""".stripMargin

  private val rankBm25Oracle =
    s"WITH $duckBm25Prelude\n$duckBm25Body\nORDER BY doc_id"

  // ---- vocab_build / tokenize_ids: text -> training token ids ----------

  /** Frequency-ranked vocabulary: the top-256 corpus tokens, id'd by
    * (frequency DESC, token ASC) — id 0 is reserved for unknowns. The
    * induction step every tokenizer pipeline runs before numericizing.
    *
    * Scale shape: one partial-agg'd token count, then a global TOP-K —
    * `orderBy().limit(256)` plans as TakeOrderedAndProject (each
    * partition prunes to its k head before anything moves), so no
    * vocabulary-sized sort or window exists at ANY corpus size; the id
    * window runs over the <= 256 surviving rows, bounded by the literal
    * k, not the vocabulary. */
  private[ops] def vocabFrame(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.load(s, dir, "documents")
      .select(explode(LlmPipeline.tokens(col("text"))).as("token"))
    val freq = terms.groupBy("token").agg(count(lit(1)).as("freq"))
    val top = freq.orderBy(desc("freq"), asc("token")).limit(256)
    top.withColumn("token_id",
      row_number().over(Window.orderBy(desc("freq"), asc("token"))).cast("bigint"))
  }

  private val vocabBuild: Q = (s, dir) =>
    vocabFrame(s, dir).select("token_id", "token", "freq").orderBy("token_id")

  private val vocabBuildOracle =
    s"""SELECT token_id, token, freq FROM (
       |  SELECT token, CAST(count(*) AS BIGINT) AS freq,
       |    CAST(row_number() OVER (ORDER BY count(*) DESC, token) AS BIGINT) AS token_id
       |  FROM (SELECT unnest(${LlmPipeline.duckTokens}) AS token FROM documents) GROUP BY token)
       |WHERE token_id <= 256 ORDER BY token_id""".stripMargin

  /** Numericization: every document's token stream mapped to vocabulary
    * ids (0 = unknown), preserving order — the step between the curated
    * corpus and chunk_stride/corpus_pack's fixed-context windows. The id
    * sequence is rendered as a comma string (the gate hashes scalar
    * cells only).
    *
    * Scale shape: the vocab is broadcast (model-sized); the corpus side
    * is one posexplode + broadcast join + one groupBy(doc) re-assembly —
    * a single corpus shuffle, and the position-ordered re-assembly uses
    * array_sort of (pos, id) structs, not a window. */
  private val tokenizeIds: Q = (s, dir) => {
    val vocab = vocabFrame(s, dir).select(col("token"), col("token_id"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), posexplode(LlmPipeline.tokens(col("text"))).as(Seq("pos", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .withColumn("id", coalesce(col("token_id"), lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_unk"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          x => x.getField("id").cast("string"))).as("ids"))
      .orderBy("doc_id")
  }

  private val tokenizeIdsOracle =
    s"""WITH v AS (
       |  SELECT token, token_id FROM (
       |    SELECT token, CAST(row_number() OVER (ORDER BY count(*) DESC, token) AS BIGINT) AS token_id
       |    FROM (SELECT unnest(${LlmPipeline.duckTokens}) AS token FROM documents) GROUP BY token)
       |  WHERE token_id <= 256),
       |p AS (SELECT doc_id, unnest(tk) AS token, generate_subscripts(tk, 1) AS pos
       |      FROM (SELECT doc_id, ${LlmPipeline.duckTokens} AS tk FROM documents)),
       |j AS (SELECT doc_id, pos, coalesce(token_id, 0) AS id
       |      FROM p LEFT JOIN v USING (token))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
       |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- dedup_incremental: incoming batch vs existing corpus ------------

  /** Incremental dedup: a NEW batch (doc_id >= 400) is checked against the
    * already-ingested corpus (doc_id < 400) without re-deduping the
    * corpus itself — the arrival-time shape every production pipeline
    * actually runs, where corpus-vs-corpus pair generation would be
    * wasted work. Two signals per incoming doc: an exact text-hash match,
    * and 3-shingle CONTAINMENT (fraction of the doc's distinct shingles
    * already present in the corpus shingle set) >= 0.5.
    *
    * Scale shape: the corpus side reduces to two DISTINCT sets (text
    * hashes, shingles) built once — at 100 TB these live as a persisted
    * index (the LshIndex pattern) and the batch probes them with
    * one semi-join each, shuffling only the incoming batch. Containment,
    * unlike symmetric Jaccard, never needs the corpus doc's size — so no
    * corpus-side per-doc state at all. */
  /** The incremental-dedup kernel over any (doc_id, text) frames — public
    * so the spec can plant exact / near / fresh incoming docs and assert
    * each verdict; the registered query splits the documents table at
    * doc_id 400. */
  def incrementalDedup(existingDocs: DataFrame, incomingDocs: DataFrame): DataFrame = {
    val sh3 = (tk: Column) => array_distinct(filter(
      transform(sequence(lit(0), greatest(size(tk) - 3, lit(0))),
        i => concat_ws(" ", slice(tk, i + 1, lit(3)))), x => x =!= ""))
    def prep(d: DataFrame) = d
      .select(col("doc_id"), sh3(LlmPipeline.tokens(col("text"))).as("sh"),
        md5(lower(trim(col("text"))).cast("binary")).as("h"))
    val existing = prep(existingDocs)
    val incoming = prep(incomingDocs)
    val exShingles = existing.select(explode(col("sh")).as("sh")).distinct()
    val exHashes = existing.select(col("h")).distinct()
      .withColumn("is_exact", lit(true))
    val hits = incoming.select(col("doc_id"), explode(col("sh")).as("sh"))
      .join(exShingles, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    incoming
      .select(col("doc_id"), size(col("sh")).cast("bigint").as("n_sh"), col("h"))
      .join(hits, Seq("doc_id"), "left")
      .join(exHashes, Seq("h"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("is_exact"), lit(false)).as("exact_dup"),
        round(coalesce(col("n_hit"), lit(0L)) /
          greatest(col("n_sh"), lit(1L)).cast("double"), 6).as("containment"))
      .withColumn("kept",
        !col("exact_dup") && col("containment") < 0.5)
      .orderBy("doc_id")
  }

  private val dedupIncremental: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
    incrementalDedup(d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400))
  }

  private val duckSh3 =
    "list_distinct(list_filter(list_transform(range(0, greatest(len(tk)-2, 1))," +
      " i -> concat_ws(' ', tk[i+1], tk[i+2], tk[i+3])), x -> x <> ''))"

  private val dedupIncrementalOracle =
    s"""WITH d AS (SELECT doc_id, $duckSh3 AS sh, md5(lower(trim(text))) AS h
       |           FROM (SELECT doc_id, text, ${LlmPipeline.duckTokens} AS tk FROM documents)),
       |ex AS (SELECT * FROM d WHERE doc_id < 400),
       |inc AS (SELECT * FROM d WHERE doc_id >= 400),
       |exsh AS (SELECT DISTINCT unnest(sh) AS s FROM ex),
       |exh AS (SELECT DISTINCT h FROM ex),
       |hits AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM inc)
       |  WHERE s IN (SELECT s FROM exsh) GROUP BY doc_id)
       |SELECT inc.doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
       |  coalesce(n_hit, 0) AS n_hit,
       |  coalesce(inc.h IN (SELECT h FROM exh), FALSE) AS exact_dup,
       |  round(coalesce(n_hit, 0) / CAST(greatest(len(sh), 1) AS DOUBLE), 6) AS containment,
       |  NOT coalesce(inc.h IN (SELECT h FROM exh), FALSE)
       |    AND round(coalesce(n_hit, 0) / CAST(greatest(len(sh), 1) AS DOUBLE), 6) < 0.5 AS kept
       |FROM inc LEFT JOIN hits USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- corpus_stats: per-stratum reporting rollup ----------------------

  /** The corpus dashboard: per (lang, source) stratum — document count,
    * exact-unique count, token volume, mean length — the reporting
    * aggregate a curation run emits after every pipeline stage. One
    * hash aggregation over narrow per-row maps; avg is exact-integer
    * sum / count so the double division is engine-identical. */
  private val corpusStats: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("lang"), col("source"),
        size(LlmPipeline.tokens(col("text"))).cast("bigint").as("n_tok"),
        col("n_chars"),
        md5(lower(trim(col("text"))).cast("binary")).as("h"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("h").as("n_uniq"),
        sum("n_tok").as("tok_total"),
        round(sum("n_chars").cast("double") / count(lit(1)), 6).as("avg_chars"))
      .orderBy("lang", "source")

  private val corpusStatsOracle =
    s"""SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT h) AS BIGINT) AS n_uniq,
       |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
       |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
       |FROM (SELECT lang, source, n_chars, CAST(len(${LlmPipeline.duckTokens}) AS BIGINT) AS n_tok,
       |        md5(lower(trim(text))) AS h FROM documents)
       |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  val queries: Map[String, Q] = Map(
    "vocab_build" -> vocabBuild,
    "tokenize_ids" -> tokenizeIds,
    "dedup_incremental" -> dedupIncremental,
    "corpus_stats" -> corpusStats,
    "decontaminate" -> decontaminate,
    "shuffle_global" -> shuffleGlobal,
    "text_tfidf" -> textTfidf,
    "chunk_stride" -> chunkStride,
    "semdedup" -> semDedup,
    "rank_bm25" -> rankBm25
  )

  val oracles: Map[String, String] = Map(
    "vocab_build" -> vocabBuildOracle,
    "tokenize_ids" -> tokenizeIdsOracle,
    "dedup_incremental" -> dedupIncrementalOracle,
    "corpus_stats" -> corpusStatsOracle,
    "decontaminate" -> decontaminateOracle,
    "shuffle_global" -> shuffleGlobalOracle,
    "text_tfidf" -> textTfidfOracle,
    "chunk_stride" -> chunkStrideOracle,
    "semdedup" -> semDedupOracle,
    "rank_bm25" -> rankBm25Oracle
  )
}
