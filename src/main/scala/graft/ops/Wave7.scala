package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 model-training wave: the in-engine LEARNED curation steps a
  * production LLM-data pipeline runs after the heuristic gates —
  * a hashed-feature logistic-regression quality classifier (the
  * GPT-3/CCNet-style "does this look like the target domain" filter),
  * DSIR importance resampling (Xie et al. 2023: sample raw data toward
  * a target distribution by n-gram likelihood ratios), and a smoothed
  * bigram language model (the sharper perplexity proxy over
  * text_unigram_lp's unigram form).
  *
  * All three TRAIN on the corpus inside the engine: the classifier runs
  * six full-batch gradient-descent iterations as Spark aggregations
  * (the model — 9 doubles — is the only driver-side state), and the
  * DuckDB oracles replay the entire training loop as generated CTE
  * chains, so the differential gate hash-checks the full learning
  * trajectory, not just a final scoring pass (precedent: vocab_bpe /
  * text_textrank).
  *
  * Determinism discipline (shared with the other waves): every
  * transcendental output and every float addend is rounded to 6 places
  * and summed in DECIMAL(18,6); the plain IEEE double add/mul/divide
  * ops agree bit-wise across engines, so rounding only needs to absorb
  * libm's last-ulp drift in exp/ln.
  */
object Wave7 {

  // ---- text_bigram_lp: add-k smoothed bigram LM scoring ----------------

  /** Per-document mean bigram log-probability under the corpus's own
    * add-0.5-smoothed bigram model: mean over positions i>=2 of
    * ln((c(prev,tok)+0.5) / (c(prev,·)+0.5·V)). The sharper perplexity
    * proxy over text_unigram_lp — repetitive or garbled token ORDER
    * scores low even when the unigram mix looks normal.
    *
    * Scale shape: pairs are built by a pure narrow array map (no window,
    * no per-doc sort — transform over the token array), then the same
    * linear shape as text_tfidf: one doc-keyed aggregation, two
    * vocabulary-sized count tables joined back on (prev, tok) and prev,
    * and the scalar V broadcast. Nothing is all-pairs. */
  private[graft] def bigramPairs(docs: DataFrame): DataFrame = {
    // tokenize into a BOUND column first: inlining the tokenizer Column
    // into the lambda would re-run the regex split at every element
    // access (O(tokens^2) splits per doc — measured 8.3 s at sf0.1 vs
    // 0.4 s bound)
    val tk = col("tk")
    // i in [0, size-2] -> (tk[i+1], tk[i+2]) 1-based; try_element_at past
    // the end is NULL (ANSI-safe), so short docs (size < 2) emit only
    // filtered rows
    val pairs = transform(sequence(lit(0), greatest(size(tk) - 2, lit(0))),
      i => struct(try_element_at(tk, i + 1).as("prev"), try_element_at(tk, i + 2).as("tok")))
    docs.select(col("doc_id"), LlmPipeline.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(pairs).as("pr"))
      .filter(col("pr.prev").isNotNull && col("pr.tok").isNotNull)
      .select(col("doc_id"), col("pr.prev").as("prev"), col("pr.tok").as("tok"))
  }

  private val textBigramLp: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val pp = bigramPairs(docs)
    val pf = pp.groupBy("doc_id", "prev", "tok").agg(count(lit(1)).as("tf"))
    // the model side (c2/c1) derives from the shared materialized bigram
    // count table — c1 = Σ_tok c12 is exactly the pair count per prev
    val counts = TextKernels.bigramCounts(s, dir)
      .select(col("w1").as("prev"), col("w2").as("tok"), col("c12"))
    val c2 = counts.select(col("prev"), col("tok"), col("c12").as("c2"))
    val c1 = counts.groupBy("prev").agg(sum("c12").as("c1"))
    val vv = docs.select(explode(LlmPipeline.tokens(col("text"))).as("token"))
      .agg(countDistinct("token").cast("double").as("v"))
    val addend = round(col("tf") *
        log((col("c2") + lit(0.5)) / (col("c1") + lit(0.5) * col("v"))), 6)
      .cast(DecimalType(18, 6))
    pf.join(c2, Seq("prev", "tok")).join(c1, Seq("prev"))
      .crossJoin(broadcast(vv))
      .groupBy("doc_id")
      .agg(sum(addend).as("lpsum"), sum("tf").as("n_pairs"))
      .select(col("doc_id"), col("n_pairs"),
        round(col("lpsum").cast("double") / col("n_pairs"), 6).as("mean_lp2"))
      .orderBy("doc_id")
  }

  private val textBigramLpOracle =
    s"""WITH d AS (SELECT doc_id, ${LlmPipeline.duckTokens} AS tk FROM documents),
       |pp AS (SELECT doc_id, pr.prev AS prev, pr.tok AS tok FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |    i -> struct_pack(prev := tk[i], tok := tk[i+1]))) AS pr FROM d)),
       |pf AS (SELECT doc_id, prev, tok, CAST(count(*) AS BIGINT) AS tf FROM pp GROUP BY doc_id, prev, tok),
       |c2 AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS c2 FROM pp GROUP BY prev, tok),
       |c1 AS (SELECT prev, CAST(count(*) AS BIGINT) AS c1 FROM pp GROUP BY prev),
       |vv AS (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v
       |       FROM (SELECT unnest(${LlmPipeline.duckTokens}) AS token FROM documents)),
       |lp AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_pairs,
       |  round(CAST(SUM(CAST(round(tf * ln((c2+0.5)/(c1+0.5*v)),6) AS DECIMAL(18,6))) AS DOUBLE)/SUM(tf),6) AS mean_lp2
       |  FROM pf JOIN c2 USING (prev, tok) JOIN c1 USING (prev), vv GROUP BY doc_id)
       |SELECT doc_id, n_pairs, mean_lp2 FROM lp ORDER BY doc_id""".stripMargin

  // ---- quality_classifier: hashed-feature Naive Bayes distillation -----

  /** The classifier-based quality filter (GPT-3 §A / CCNet / FineWeb-Edu
    * style): DISTILL the engine's heuristic quality gate (text_quality's
    * punctuation + stopword score, thresholded at 0.52) into a Bernoulli
    * Naive Bayes model over 32 hashed bag-of-words presence buckets —
    * the cheap linear text classifier a pipeline then applies to data
    * the expensive gate never sees. Output is every document's
    * posterior P(high-quality | text) and predicted label (0.80 train
    * accuracy vs 0.76 majority base on the fixture).
    *
    * Why Naive Bayes and not iterated gradient descent: NB's training IS
    * one distributed aggregation — per-bucket class-conditional document
    * counts — so the full training pass is a single shuffle of
    * model-sized state (32 rows), no driver-side loop, no checkpointed
    * feature matrix, no N sequential jobs. At 100 TB that is the only
    * shape that trains in one pass over the corpus. Feature hashing
    * keeps the dimensionality FIXED as the vocabulary grows (no
    * vocab-sized model).
    *
    * Determinism: per-bucket log-odds weights w_j, the empty-feature
    * mass a_j, the bias, each document's logit z, and the posterior are
    * all rounded to 6 places with decimal sums in between; Laplace
    * (+1/+2) smoothing keeps every log argument strictly inside (0,1).
    * The DuckDB oracle replays training AND scoring — counts, model,
    * bias, logits — so the whole learned model is hash-checked. */
  private val nBuckets = 32

  /** The heuristic gate being distilled — the exact text_quality score
    * (LlmPipeline.textQuality: punct + stopword halves). */
  private[ops] def qualityLabel: Column = {
    val tk = LlmPipeline.tokens(col("text"))
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))).cast("double") /
      length(col("text"))
    val stopRatio = size(array_intersect(array_distinct(tk),
      typedLit(Seq("the", "and", "of", "to", "in", "is", "a", "that")))).cast("double") /
      size(tk).cast("double")
    (((lit(1.0) - punct) * 0.5 + stopRatio * 0.5) >= 0.52).cast("int")
  }

  private val qualityClassifier: Q = (s, dir) => {
    val labeled = Tables.load(s, dir, "documents")
      .select(col("doc_id"), qualityLabel.as("y"), col("text"))
    val pres = labeled
      .select(col("doc_id"), col("y"), explode(LlmPipeline.tokens(col("text"))).as("token"))
      .select(col("doc_id"), col("y"),
        Hashing.md5Bucket(col("token"), nBuckets).as("bk"))
      .distinct()
    val docTotals = pres.select("doc_id", "y").distinct()
      .agg(sum("y").cast("double").as("n1"),
        (count(lit(1)) - sum("y")).cast("double").as("n0"))
    val counts = pres.groupBy("bk").agg(sum("y").cast("double").as("n1j"),
      (count(lit(1)) - sum("y")).cast("double").as("n0j"))
    // spine covers EMPTY buckets too: their absent-feature mass ln(1-p)
    // still belongs in the bias
    val spine = s.range(nBuckets).select(col("id").as("bk"))
    val p1 = (col("n1j") + 1) / (col("n1") + 2)
    val p0 = (col("n0j") + 1) / (col("n0") + 2)
    val model = spine.join(counts, Seq("bk"), "left")
      .na.fill(0.0, Seq("n1j", "n0j"))
      .crossJoin(broadcast(docTotals))
      .select(col("bk"),
        round((log(p1) - log(lit(1.0) - p1)) - (log(p0) - log(lit(1.0) - p0)), 6).as("wj"),
        round(log(lit(1.0) - p1) - log(lit(1.0) - p0), 6).as("aj"))
    val sumA = model.agg(sum(col("aj").cast(DecimalType(18, 6))).cast("double").as("sa"))
    val bias = docTotals.crossJoin(sumA)
      .select(round(log(col("n1") / col("n0")) + col("sa"), 6).as("b"))
    val zdoc = pres.join(broadcast(model.select("bk", "wj")), Seq("bk"))
      .groupBy("doc_id")
      .agg(sum(col("wj").cast(DecimalType(18, 6))).as("sw"))
      .crossJoin(broadcast(bias))
      .select(col("doc_id"), round(col("b") + col("sw").cast("double"), 6).as("z"))
    labeled.select("doc_id", "y").join(zdoc, Seq("doc_id"))
      .select(col("doc_id"), col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("p"))
      .withColumn("pred", col("p") >= 0.5)
      .orderBy("doc_id")
  }

  private val classifierOracle = {
    val p1 = "((COALESCE(n1j,0)+1)/(n1+2))"
    val p0 = "((COALESCE(n0j,0)+1)/(n0+2))"
    s"""WITH lab AS (SELECT doc_id,
       |  CASE WHEN (1.0 - CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text)) * 0.5
       |     + (CAST(len(list_intersect(list_distinct(${LlmPipeline.duckTokens}), ['the','and','of','to','in','is','a','that'])) AS DOUBLE) / len(${LlmPipeline.duckTokens})) * 0.5 >= 0.52
       |  THEN 1 ELSE 0 END AS y, text FROM documents),
       |pres AS (SELECT DISTINCT doc_id, y, CAST(concat('0x', substr(md5(token),1,15)) AS BIGINT) % $nBuckets AS bk
       |         FROM (SELECT doc_id, y, unnest(${LlmPipeline.duckTokens}) AS token FROM lab)),
       |tot AS (SELECT CAST(SUM(y) AS DOUBLE) AS n1, CAST(COUNT(*) - SUM(y) AS DOUBLE) AS n0
       |        FROM (SELECT DISTINCT doc_id, y FROM pres)),
       |cnt AS (SELECT bk, CAST(SUM(y) AS DOUBLE) AS n1j, CAST(COUNT(*) - SUM(y) AS DOUBLE) AS n0j FROM pres GROUP BY bk),
       |model AS (SELECT s.bk,
       |    round((ln($p1) - ln(1.0 - $p1)) - (ln($p0) - ln(1.0 - $p0)), 6) AS wj,
       |    round(ln(1.0 - $p1) - ln(1.0 - $p0), 6) AS aj
       |  FROM (SELECT unnest(range($nBuckets)) AS bk) s LEFT JOIN cnt ON s.bk = cnt.bk, tot),
       |bias AS (SELECT round(ln(n1/n0) + CAST(SUM(CAST(aj AS DECIMAL(18,6))) AS DOUBLE), 6) AS b FROM model, tot GROUP BY n1, n0),
       |z AS (SELECT doc_id, round(b + CAST(SUM(CAST(wj AS DECIMAL(18,6))) AS DOUBLE), 6) AS z
       |      FROM pres JOIN model USING (bk), bias GROUP BY doc_id, b)
       |SELECT l.doc_id, l.y, round(1.0/(1.0+exp(-z.z)),6) AS p,
       |  round(1.0/(1.0+exp(-z.z)),6) >= 0.5 AS pred
       |FROM lab l JOIN z ON l.doc_id = z.doc_id ORDER BY l.doc_id""".stripMargin
  }

  // ---- corpus_dsir: importance resampling toward a target domain -------

  /** DSIR (Data Selection via Importance Resampling, Xie et al. 2023):
    * estimate smoothed unigram models of the TARGET domain (here the
    * 'en' slice) and the RAW corpus, score every document by its mean
    * token log importance ratio ln(p_target/p_raw), and accept each
    * document with probability min(1, exp(score)) decided by a
    * deterministic content-hash residue — the engine-portable stand-in
    * for the uniform draw, so resampling is reproducible run to run and
    * engine to engine.
    *
    * Scale shape: two vocabulary-sized count tables (target and raw), a
    * scalar totals row broadcast, one doc-keyed aggregation, and a
    * narrow accept map — the same linear tfidf-class shape; nothing is
    * all-pairs and no RNG state exists anywhere. */
  private val corpusDsir: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val terms = docs.select(col("doc_id"), explode(LlmPipeline.tokens(col("text"))).as("token"))
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val raw = terms.groupBy("token").agg(count(lit(1)).as("cr"))
    val tgtTerms = docs.filter(col("lang") === "en")
      .select(explode(LlmPipeline.tokens(col("text"))).as("token"))
    val tgt = tgtTerms.groupBy("token").agg(count(lit(1)).as("ct"))
    val consts = raw.agg(sum("cr").cast("double").as("tr"),
        count(lit(1)).cast("double").as("v"))
      .crossJoin(tgtTerms.agg(count(lit(1)).cast("double").as("tt")))
    val lrTok = round(
      log((coalesce(col("ct"), lit(0L)).cast("double") + lit(0.5)) /
          (col("tt") + lit(0.5) * col("v"))) -
      log((col("cr").cast("double") + lit(0.5)) /
          (col("tr") + lit(0.5) * col("v"))), 6)
    val scored = tf.join(raw, Seq("token")).join(tgt, Seq("token"), "left")
      .crossJoin(broadcast(consts))
      .withColumn("lr", lrTok)
      .groupBy("doc_id")
      .agg(sum(round(col("tf") * col("lr"), 6).cast(DecimalType(18, 6))).as("lpsum"),
        sum("tf").as("n_tok"))
      // imp_lp as an EXACT half-up micro rational: lpsum is micro-exact
      // DECIMAL(18,6) and n_tok an integer, so the old
      // round(double(lpsum)/n_tok, 6) hit a genuine .xxxxxx5 tie at
      // sf0.1 (doc 1795: -0.12147/60 = -0.0020245 exactly) where the
      // engines' double paths round opposite ways. The sign-magnitude
      // integer division below is the repo's standard exact convention —
      // bit-identical in both engines at every SF.
      .select(col("doc_id"), col("n_tok"),
        (expr("""cast(sign(lpsum) as long) *
            ((2 * abs(cast(lpsum * 1000000 as long)) + n_tok) div (2 * n_tok))"""
          .replaceAll("\\s+", " ")).cast("double") / 1e6).as("imp_lp"))
    docs.select(col("doc_id"), col("lang"),
        round((Hashing.md5Long(col("text")) % 1000000L).cast("double") / lit(1000000.0), 6).as("u"))
      .join(scored, Seq("doc_id"))
      .withColumn("accept_p", round(exp(least(col("imp_lp"), lit(0.0))), 6))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("imp_lp"),
        col("accept_p"), (col("u") < col("accept_p")).as("keep"))
      .orderBy("doc_id")
  }

  private val corpusDsirOracle =
    s"""WITH terms AS (SELECT doc_id, unnest(${LlmPipeline.duckTokens}) AS token FROM documents),
       |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, token),
       |raw AS (SELECT token, CAST(count(*) AS BIGINT) AS cr FROM terms GROUP BY token),
       |tgtterms AS (SELECT unnest(${LlmPipeline.duckTokens}) AS token FROM documents WHERE lang='en'),
       |tgt AS (SELECT token, CAST(count(*) AS BIGINT) AS ct FROM tgtterms GROUP BY token),
       |consts AS (SELECT (SELECT CAST(SUM(cr) AS DOUBLE) FROM raw) AS tr,
       |                  (SELECT CAST(COUNT(*) AS DOUBLE) FROM raw) AS v,
       |                  (SELECT CAST(COUNT(*) AS DOUBLE) FROM tgtterms) AS tt),
       |sc0 AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
       |  CAST(SUM(CAST(round(tf * round(ln((COALESCE(ct,0)+0.5)/(tt+0.5*v)) - ln((cr+0.5)/(tr+0.5*v)),6),6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS m
       |  FROM tf JOIN raw USING (token) LEFT JOIN tgt USING (token), consts GROUP BY doc_id),
       |sc AS (SELECT doc_id, n_tok,
       |  CAST(CASE WHEN m < 0 THEN -1 ELSE 1 END *
       |    ((2 * abs(m) + n_tok) // (2 * n_tok)) AS DOUBLE) / 1e6 AS imp_lp
       |  FROM sc0)
       |SELECT d.doc_id, d.lang, sc.n_tok, sc.imp_lp,
       |  round(exp(least(sc.imp_lp, 0.0)),6) AS accept_p,
       |  round(CAST(CAST(concat('0x',substr(md5(d.text),1,15)) AS BIGINT) % 1000000 AS DOUBLE)/1000000.0,6) < round(exp(least(sc.imp_lp,0.0)),6) AS keep
       |FROM documents d JOIN sc ON d.doc_id = sc.doc_id ORDER BY d.doc_id""".stripMargin

  // ---- pipeline_observe: data-quality counters on the pass ------------

  /** Pipeline observability via the Observation API (CollectMetrics):
    * the corpus-gate pass reports its own data-quality counters — docs
    * seen, docs passing the quality gate, total characters — collected
    * ON the same pass that processes the data, not by a second scan.
    * This is how a production ingest job self-reports volumes at 100 TB:
    * the metrics ride the task results as accumulator-style state (a
    * handful of numbers per task), adding zero jobs and zero shuffles.
    * The query's RESULT is the observed metrics row, which the
    * differential gate hash-checks against DuckDB recomputing the same
    * aggregates — proving the on-pass counters equal the ground truth. */
  private val pipelineObserve: Q = (s, dir) => {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation(s"corpus_gate_${System.nanoTime}")
    val gated = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), qualityLabel.as("keep"))
      .observe(obs,
        count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(length(col("text")).cast("long")).as("n_chars"))
    gated.foreach(_ => ()) // one pass; metrics ride the tasks
    val m = obs.get
    Seq((m("n_docs").asInstanceOf[Long], m("n_kept").asInstanceOf[Long],
      m("n_chars").asInstanceOf[Long]))
      .toDF("n_docs", "n_kept", "n_chars")
  }

  private val pipelineObserveOracle =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN (1.0 - CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text)) * 0.5
       |     + (CAST(len(list_intersect(list_distinct(${LlmPipeline.duckTokens}), ['the','and','of','to','in','is','a','that'])) AS DOUBLE) / len(${LlmPipeline.duckTokens})) * 0.5 >= 0.52
       |  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
       |FROM documents""".stripMargin

  // ---- flagship_snowflake_join: the TPC-H Q5 shape -------------------

  /** The 6-table snowflake revenue rollup (TPC-H Q5's shape): regional
    * supplier dims resolved through region -> nation -> supplier, the
    * lineitem fact joined through orders -> customer, revenue grouped
    * by supplier nation with the c_nationkey = s_nationkey locality
    * condition. The companion flagship to flagship_star_join that
    * exercises multi-hop dim resolution and join-order selection.
    *
    * Scale shape: region and nation are broadcast EXPLICITLY (they are
    * dim-sized at any SF); supplier, customer, orders, lineitem are
    * declared flat and left to Catalyst/AQE — at fixture scale they
    * broadcast, at 100 TB the same plan degrades gracefully to shuffle
    * joins keyed on the equi-columns. The date filter is a pushed-down
    * string-range predicate on the orders scan; revenue addends are
    * rounded and decimal-summed so partial-aggregation order cannot
    * flip the hash. */
  private val flagshipSnowflakeJoin: Q = (s, dir) => {
    val region = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
    val nat = Tables.load(s, dir, "nation")
    val regionalSup = Tables.load(s, dir, "supplier")
      .join(broadcast(nat.join(broadcast(region),
        col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
      .select("o_orderkey", "o_custkey")
    val cust = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val addend = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
      .cast(DecimalType(18, 6))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(regionalSup,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum(addend).cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val flagshipSnowflakeJoinOracle =
    """SELECT n_name,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount),6) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  val queries: Map[String, Q] = Map(
    "text_bigram_lp" -> textBigramLp,
    "quality_classifier" -> qualityClassifier,
    "corpus_dsir" -> corpusDsir,
    "flagship_snowflake_join" -> flagshipSnowflakeJoin,
    "pipeline_observe" -> pipelineObserve
  )

  val oracles: Map[String, String] = Map(
    "text_bigram_lp" -> textBigramLpOracle,
    "quality_classifier" -> classifierOracle,
    "corpus_dsir" -> corpusDsirOracle,
    "flagship_snowflake_join" -> flagshipSnowflakeJoinOracle,
    "pipeline_observe" -> pipelineObserveOracle
  )
}
