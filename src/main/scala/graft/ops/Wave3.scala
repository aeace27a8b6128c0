package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-3 operator wave: dedup clustering, stratified corpus sampling,
  * sequence packing, regexp/date-interval scalar families, IGNORE NULLS
  * windows, k-NN join, embedding quantization, grouping_id, and the
  * whole-database per-column top-k — every query oracle-backed.
  *
  * Training-pipeline framing: near-dup PAIRS (dedup_minhash/jaccard) are
  * only half of dedup — production keeps ONE doc per connected component,
  * so `dedup_components` closes the loop; `sample_stratified` is the
  * corpus-mixing primitive; `corpus_pack` is context-window sequence
  * packing; `embed_quantize` is the int8 storage form of an embedding
  * index.
  */
object Wave3 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Whitespace/punct token split (identical to LlmPipeline.tokens /
    * its DuckDB twin, which the text_* oracles already pin). */
  private def toks(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), x => x =!= "")
  private val duckToks =
    "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x->x<>'')"

  // ---- dedup_components: connected components over near-dup pairs ------

  /** CC kernel: min-label propagation over an undirected pair set — each
    * node's component id is the smallest id reachable through dup pairs,
    * the "keep one per cluster" step that turns pairwise dedup output
    * into actual drops. Converges in O(cluster diameter) supersteps and
    * is verified against the oracle's true transitive closure.
    *
    * Two phases, split by plan shape:
    *  - The data-sized edge set (pairs ∪ swapped pairs, one read of the
    *    pairs) is the loop input of
    *    [[graft.engine.ConfScope.superstepOver]]: pinned and counted in
    *    one job under the session conf, so AQE's skew handling stays
    *    available to the one pass whose size follows the data, and freed
    *    when the loop ends. The pin is a local checkpoint, not a
    *    lineage-keeping persist: every superstep checkpoints its labels
    *    anyway, so an executor loss mid-loop fails the query either way.
    *  - The initial label table and every superstep run in the superstep
    *    scope (AQE off), sized by the edge count. There the edges, plus
    *    one self-loop per node, are cached
    *    again as `repartition(width, src)`. A hop is one SHUFFLE_HASH
    *    join of that layout against the label table, which is already
    *    hash-partitioned on the node at the same width (a checkpointed
    *    or aggregated label table), then one min-label aggregate. The
    *    join reads both sides in place; only the aggregate shuffles. (At
    *    width 1, below 65536 edges, the cached scan reports no hash
    *    partitioning, so the second hop re-shuffles its join inputs: two
    *    more single-task stages per superstep, over at most that many
    *    rows.) The self-loop keeps a node's own label, so the label
    *    table is read once per hop and the superstep plan is a chain,
    *    not a DAG (plans/r12 holds the plan pair).
    *  - Labels are NODE-sized, so they are never broadcast: a broadcast
    *    collects all of them into one process and copies them to every
    *    executor, and under AQE each one was a job of its own.
    *  Measured (local[4]): one job per superstep, where the loop under
    *  the session conf ran about seven (one per query stage plus a
    *  broadcast per hop): 9 jobs instead of 51 for the 7-superstep chain
    *  in Wave3Spec, and 20 instead of 43 for dedup_components at sf0.01
    *  (warm, perfbench `iterative`; 21 with the persisted edge pin).
    *
    * Each superstep runs two hops and pins its state with
    * localCheckpoint, truncating the lineage: a lazy loop stacks all
    * rounds into one deep plan that re-runs every earlier round
    * (measured 36 s at sf0.1), and persist+unpersist chains are no better
    * because Spark's non-cascading unpersist (SPARK-24596) marks the
    * dependent round's cache for rebuild (measured 55 s).
    *
    * Convergence check: min-label propagation is MONOTONE — a node's
    * label only ever decreases — and the node set is fixed, so the
    * rounds' label state is unchanged iff the label SUM is unchanged.
    * The sum rides the checkpoint job as an observed metric, so no
    * superstep runs a separate aggregate job. It is exact DECIMAL(38,0):
    * bigint doc-id sums overflow double above ~2^53 rows·ids and a long
    * above ~2^63/id, either of which could mask a decrease; past 10^38
    * the decimal itself nulls out and the loop fails loudly rather than
    * faking convergence. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    graft.engine.ConfScope.superstepOver(
        pairs.toDF("i", "j").select(expr("stack(2, i, j, j, i) AS (src, dst)"))) {
        (edges, ne, width) =>
      // every node is a src of the symmetric edge set, so this gives
      // each node its self-loop
      val bySrc = edges.select(expr("stack(2, src, dst, src, src) AS (src, dst)"))
        .repartition(width, col("src")).distinct().persist()
      try {
        def hop(l: DataFrame): DataFrame =
          bySrc.as("e")
            .join(l.hint("shuffle_hash").as("l"), col("e.src") === col("l.v"))
            .groupBy(col("e.dst").as("v")).agg(min(col("l.lbl")).as("lbl"))
        // a NULL sum (decimal overflow under non-ANSI eval) must FAIL, not
        // silently compare equal across rounds and fake convergence; with
        // at least one edge the node set is non-empty, so its sum is set
        def ckptWithSum(l: DataFrame): (DataFrame, java.math.BigDecimal) = {
          val obs = org.apache.spark.sql.Observation()
          val out = l.observe(obs,
            sum(col("lbl").cast("decimal(38,0)")).as("ls")).localCheckpoint()
          val s = obs.get("ls").asInstanceOf[java.math.BigDecimal]
          require(ne == 0L || s != null,
            "connectedComponents: label sum overflowed decimal(38,0)")
          (out, s)
        }
        // the self-loops are the node set, each node labeled by itself
        var (lbl, prevSum) = ckptWithSum(bySrc.filter(col("src") === col("dst"))
          .select(col("src").as("v"), col("src").as("lbl")))
        var converged = ne == 0L // no edges -> no nodes: already done
        var supersteps = 0
        // 64 supersteps = 128 hops >= any realistic dup-graph diameter; the
        // cap is a runaway backstop, and hitting it FAILS LOUDLY — silently
        // returning unconverged labels would leave deep-chain duplicates
        // labeled as their own component (wrongly kept by dedup_keep).
        while (!converged && supersteps < 64) {
          val (next, s) = ckptWithSum(hop(hop(lbl)))
          converged = s.compareTo(prevSum) == 0
          prevSum = s
          lbl = next
          supersteps += 1
        }
        require(converged,
          s"connectedComponents did not converge in $supersteps supersteps (graph diameter > 128?)")
        lbl.select(col("v").as("doc_id"), col("lbl").as("component"))
          .orderBy("doc_id")
      } finally bySrc.unpersist()
    }

  /** The recursive-CTE transitive-closure oracle over any pair SQL. */
  private def componentsOracle(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (SELECT i AS src, j AS dst FROM pairs UNION ALL SELECT j, i FROM pairs),
       |nodes AS (SELECT DISTINCT src AS v FROM edges),
       |reach(v, r) AS (
       |  SELECT v, v FROM nodes
       |  UNION
       |  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.v)
       |SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v ORDER BY doc_id""".stripMargin

  /** The Jaccard-graph component table, materialized (the cluster
    * assignment every downstream drop/keep decision reads). */
  private def jaccardComponents(s: SparkSession, dir: String): DataFrame =
    graft.engine.Materialize(s, s"cc-jaccard:$dir") {
      connectedComponents(LlmPipeline.jaccardPairs(s, dir).select("i", "j"))
    }

  private val dedupComponents: Q = (s, dir) =>
    jaccardComponents(s, dir).orderBy("doc_id")

  private def dedupComponentsOracle: String =
    componentsOracle(LlmPipeline.oracles("dedup_ngram_jaccard"))

  /** Multi-signal dup graph: the union of the Jaccard pair set and the
    * MinHash/LSH pair set (agreement >= 0.5) clustered together — how a
    * production pipeline actually decides drops, since no single signal
    * catches every duplicate family. Each signal's pair table is already
    * materialized; the union is their read + one CC run. */
  private val dedupComponentsMulti: Q = (s, dir) =>
    graft.engine.Materialize(s, s"cc-multi:$dir") {
      val jacc = LlmPipeline.jaccardPairs(s, dir).select("i", "j")
      val mh = LlmPipeline.queries("dedup_minhash_md5")(s, dir)
        .filter(col("est_sim") >= 0.5).select("i", "j")
      connectedComponents(jacc.union(mh).distinct())
    }.orderBy("doc_id")

  /** The end of the dedup story: the KEPT corpus. A document is dropped
    * iff it sits in a dup component under a smaller doc_id; everything
    * else (component representatives and documents in no dup pair)
    * survives. One anti-join of the corpus against the materialized
    * component table. */
  private val dedupKeep: Q = (s, dir) => {
    val dropped = jaccardComponents(s, dir)
      .filter(col("doc_id") =!= col("component"))
      .select("doc_id")
    t(s, dir, "documents")
      .join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  private def dedupKeepOracle: String =
    s"""WITH comp AS (${dedupComponentsOracle})
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
       |ORDER BY doc_id""".stripMargin

  private def dedupComponentsMultiOracle: String = {
    val jacc = LlmPipeline.oracles("dedup_ngram_jaccard")
    val mh = LlmPipeline.oracles("dedup_minhash_md5")
    componentsOracle(
      s"""SELECT DISTINCT i, j FROM (
         |  SELECT i, j FROM ($jacc)
         |  UNION ALL
         |  SELECT i, j FROM ($mh) WHERE est_sim >= 0.5)""".stripMargin)
  }

  // ---- profile_numeric_bins: equi-width histogram binning --------------

  /** Equi-width 10-bin histograms for the fact table's numeric columns —
    * the numeric complement of the per-value profile (per-value rows are
    * useless for near-continuous columns). Two passes: a global min/max
    * aggregate (one row, broadcast into the plan), then one binning
    * scan + count per bin. The bin arithmetic is written IDENTICALLY on
    * both engines (same IEEE double ops in the same order), so the
    * boundaries land identically. */
  private val profileNumericBins: Q = (s, dir) => {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val li = t(s, dir, "lineitem")
    val mm = li.agg(
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_mn"), max(col(c)).as(s"${c}_mx"))).head,
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_mn"), max(col(c)).as(s"${c}_mx"))).tail: _*)
    val binned = cols.map { c =>
      li.crossJoin(broadcast(mm))
        .select(lit(c).as("columnName"),
          least(floor((col(c) - col(s"${c}_mn")) /
            ((col(s"${c}_mx") - col(s"${c}_mn")) / 10.0)), lit(9.0))
            .cast("bigint").as("bin"))
    }.reduce(_ union _)
    binned.groupBy("columnName", "bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("columnName", "bin")
  }

  private val profileNumericBinsOracle = {
    val parts = Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
      s"""SELECT '$c' AS columnName,
         |  CAST(LEAST(FLOOR(($c - mn) / ((mx - mn) / 10.0)), 9.0) AS BIGINT) AS bin
         |FROM lineitem CROSS JOIN (SELECT MIN($c) AS mn, MAX($c) AS mx FROM lineitem)""".stripMargin
    }
    s"""SELECT columnName, bin, CAST(COUNT(*) AS BIGINT) AS n
       |FROM (${parts.mkString(" UNION ALL ")})
       |GROUP BY columnName, bin ORDER BY columnName, bin""".stripMargin
  }

  // ---- fn_try_arith: null-safe arithmetic ------------------------------

  /** try_* arithmetic: division by zero and bigint overflow yield NULL
    * instead of errors/wraparound — the safe-ingestion arithmetic mode.
    * DuckDB expresses the same contracts with explicit guards. */
  private val fnTryArith: Q = (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"),
        expr("try_divide(p_retailprice, p_size - 25)").as("per_unit"),
        expr("try_add(9223372036854775807L, p_partkey)").as("overflowed"),
        expr("try_multiply(p_partkey, 0)").as("zeroed"))
      .orderBy("p_partkey")

  private val fnTryArithOracle =
    """SELECT p_partkey,
      |  CASE WHEN p_size - 25 = 0 THEN NULL ELSE p_retailprice / (p_size - 25) END AS per_unit,
      |  CASE WHEN p_partkey > 0 THEN NULL ELSE 9223372036854775807 + p_partkey END AS overflowed,
      |  p_partkey * 0 AS zeroed
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---- corpus_filter: the composite keep gate --------------------------

  /** The production keep/drop gate: quality score, repetition gates, and
    * language agreement joined into one decision per document (the
    * C4/Gopher-style filter stack) — each signal is its own verified
    * query; the gate is their join plus boolean thresholds, so the 100 TB
    * plan is three map-side-combined shuffles and one doc_id join. */
  private val corpusFilter: Q = (s, dir) => {
    val q = LlmPipeline.queries("text_quality")(s, dir)
      .select("doc_id", "quality")
    val r = Corpus.queries("text_repetition")(s, dir)
      .select("doc_id", "n_tok", "top_token_ratio", "dup_bigram_ratio")
    val l = LlmPipeline.queries("text_langid")(s, dir)
      .select(col("doc_id"), (col("lang_pred") === col("lang")).as("lang_ok"))
    q.join(r, "doc_id").join(l, "doc_id")
      .select(col("doc_id"), col("quality"), col("top_token_ratio"),
        col("dup_bigram_ratio"), col("lang_ok"),
        (col("quality") >= 0.4 && col("n_tok") >= 10 &&
          col("top_token_ratio") <= 0.2 && col("dup_bigram_ratio") <= 0.3 &&
          col("lang_ok")).as("keep"))
      .orderBy("doc_id")
  }

  private def corpusFilterOracle: String = {
    val q = LlmPipeline.oracles("text_quality")
    val r = Corpus.oracles("text_repetition")
    val l = LlmPipeline.oracles("text_langid")
    s"""WITH q AS ($q), r AS ($r), l AS ($l)
       |SELECT q.doc_id, q.quality, r.top_token_ratio, r.dup_bigram_ratio,
       |  (l.lang_pred = l.lang) AS lang_ok,
       |  (q.quality >= 0.4 AND r.n_tok >= 10 AND r.top_token_ratio <= 0.2
       |   AND r.dup_bigram_ratio <= 0.3 AND l.lang_pred = l.lang) AS keep
       |FROM q JOIN r ON q.doc_id = r.doc_id JOIN l ON q.doc_id = l.doc_id
       |ORDER BY q.doc_id""".stripMargin
  }

  // ---- text_rarity: rank-based lexical rarity --------------------------

  /** Per-document lexical rarity via GLOBAL frequency ranks — the
    * perplexity-proxy quality signal computed with pure integer ranks
    * (log-probability forms depend on libm's log and are not
    * cross-engine exact; ranks are). Corpus term ranks (count desc,
    * token asc — deterministic) broadcast-join onto doc tokens; median
    * rank via the exact interpolated percentile the gate already pins.
    * The vocabulary ranking needs EVERY token's rank (unlike
    * vocab_build's top-k), so it runs on the two-phase range-partition +
    * broadcast-offset kernel (Ranks, group = none): balanced partition-
    * local windows, no vocabulary-sized single task even at web-scale
    * vocabularies (where Heaps' law stops saving the global window). */
  private val textRarity: Q = (s, dir) => {
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("n"))
    val ranks = Ranks.perGroupRank(freq, Seq.empty,
        Seq(col("n").desc, col("w").asc), rankCol = "rank", nCol = "__nvocab",
        partitions = s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select("w", "rank")
    tok.join(broadcast(ranks), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        expr("percentile(rank, 0.5)").as("median_rank"),
        max("rank").as("rarest_rank"))
      .orderBy("doc_id")
  }

  private val textRarityOracle =
    s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS w FROM documents),
       |ranks AS (SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w ASC) AS BIGINT) AS rank
       |          FROM tok GROUP BY w)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
       |  CAST(median(rank) AS DOUBLE) AS median_rank,
       |  MAX(rank) AS rarest_rank
       |FROM tok JOIN ranks USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- sample_stratified: per-stratum deterministic rates --------------

  /** Corpus-mixing sampler: per-language sampling rates (en is
    * down-sampled to 10%, everything else kept at 50%) via the same
    * content-hash residue as sample_hash — deterministic, engine- and
    * layout-independent, a narrow map evaluated at the scan. */
  private val sampleStratified: Q = (s, dir) => {
    val h = Hashing.md5Bucket(col("doc_id").cast("string").cast("binary"), 100)
    t(s, dir, "documents")
      .withColumn("bucket", h)
      .filter(col("bucket") < when(col("lang") === "en", 10).otherwise(50))
      .select("doc_id", "lang", "source", "bucket")
      .orderBy("doc_id")
  }

  private val sampleStratifiedOracle =
    """SELECT doc_id, lang, source, bucket FROM (
      |  SELECT doc_id, lang, source,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100 AS bucket
      |  FROM documents)
      |WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 50 END ORDER BY doc_id""".stripMargin

  // ---- corpus_pack: context-window sequence packing --------------------

  /** Sequence packing: documents are packed in doc_id order into
    * 512-token context windows per (lang, source) stream — pack id is the
    * running token count divided by the window size (contiguous packing;
    * a doc spanning a boundary starts its pack at its first token). The
    * running sum is one partitioned window — per-stream, so packing
    * parallelizes across strata at 100 TB instead of serializing on a
    * global order. */
  private val corpusPack: Q = (s, dir) => {
    // the running sum is two-phase (Ranks.perGroupPrefixSum), not a
    // per-stratum window: a dominant (lang, source) stratum would
    // serialize its whole token stream into one window task at scale
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        size(toks(col("text"))).cast("bigint").as("n_tok"))
    Ranks.perGroupPrefixSum(base, Seq("lang", "source"), Seq(col("doc_id")),
        col("n_tok"), "cum_tok",
        partitions = s.conf.get("spark.sql.shuffle.partitions").toInt)
      .withColumn("pack_id", floor((col("cum_tok") - col("n_tok")) / 512).cast("bigint"))
      .orderBy("doc_id")
  }

  private val corpusPackOracle =
    s"""SELECT doc_id, lang, source, n_tok,
       |  CAST(SUM(n_tok) OVER w AS BIGINT) AS cum_tok,
       |  CAST(FLOOR((SUM(n_tok) OVER w - n_tok) / 512) AS BIGINT) AS pack_id
       |FROM (SELECT doc_id, lang, source, CAST(len($duckToks) AS BIGINT) AS n_tok FROM documents)
       |WINDOW w AS (PARTITION BY lang, source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY doc_id""".stripMargin

  // ---- corpus_mix: weighted data-mixture sampling to a token budget ----

  /** Training-data mixture: fill a global token budget (40% of the
    * corpus) across sources in proportion to per-source weights, taking
    * documents within each source in a deterministic pseudo-random order
    * (md5 of doc_id) until that source's quota is reached — the "data
    * mixing" step that turns per-source weights into an actual sampled
    * corpus. The crossing document is included, so every quota is met.
    *
    * All arithmetic is engine-portable: quotas are floor() of exact
    * doubles (integers < 2^53), the fill order is a content hash, and
    * the greedy cut is a cumulative window sum — no RNG anywhere.
    *
    * Scale shape: one narrow map (token count + hash), two model-sized
    * aggregates (global token total, per-source weight sum) broadcast
    * back, and a TWO-PHASE running fill (Ranks.perGroupPrefixSum): the
    * cumulative sum range-partitions on (source, h, doc_id), so even a
    * source holding most of the corpus fills across many balanced
    * tasks instead of one per-source window task. */
  private val corpusMix: Q = (s, dir) => {
    val base = t(s, dir, "documents").select(
      col("doc_id"), col("source"),
      size(toks(col("text"))).cast("bigint").as("n_tok"),
      md5(col("doc_id").cast("string").cast("binary")).as("h"),
      (lit(1) + regexp_extract(col("source"), "[0-9]+", 0).cast("int") % 3)
        .cast("bigint").as("w"))
    // model-sized scalars: global token total and the weight-sum over the
    // DISTINCT source set (each source counted once, not per row)
    val tot = base.agg(sum("n_tok").as("tot_tok"))
    val wsum = base.select("source", "w").distinct().agg(sum("w").as("w_sum"))
    // two-phase running fill (Ranks.perGroupPrefixSum): a source holding
    // most of the corpus would otherwise fill inside ONE window task
    val cum = Ranks.perGroupPrefixSum(base, Seq("source"),
      Seq(col("h"), col("doc_id")), col("n_tok"), "cum_tok",
      partitions = s.conf.get("spark.sql.shuffle.partitions").toInt)
    cum
      .crossJoin(broadcast(tot)).crossJoin(broadcast(wsum))
      .withColumn("quota",
        floor(lit(2.0) * col("tot_tok") * col("w") / (lit(5.0) * col("w_sum"))).cast("bigint"))
      .filter(col("cum_tok") - col("n_tok") < col("quota"))
      .select("source", "doc_id", "n_tok", "w", "quota", "cum_tok")
      .orderBy("source", "doc_id")
  }

  private val corpusMixOracle =
    s"""WITH base AS (
       |  SELECT doc_id, source, CAST(len($duckToks) AS BIGINT) AS n_tok,
       |    md5(CAST(doc_id AS VARCHAR)) AS h,
       |    CAST(1 + CAST(regexp_extract(source, '[0-9]+') AS INT) % 3 AS BIGINT) AS w
       |  FROM documents),
       |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tot_tok FROM base),
       |wsum AS (SELECT CAST(SUM(w) AS BIGINT) AS w_sum FROM (SELECT DISTINCT source, w FROM base)),
       |cum AS (
       |  SELECT base.*, tot_tok, w_sum,
       |    CAST(FLOOR(2.0 * tot_tok * w / (5.0 * w_sum)) AS BIGINT) AS quota,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
       |  FROM base, tot, wsum)
       |SELECT source, doc_id, n_tok, w, quota, cum_tok
       |FROM cum WHERE cum_tok - n_tok < quota ORDER BY source, doc_id""".stripMargin

  // ---- fn_array_hof: higher-order array predicates/reductions ----------

  /** Higher-order function family over the token array: exists / forall
    * / filter-count / fold (aggregate) — all codegen-able builtins, no
    * UDFs; DuckDB expresses the same via list_filter/list_aggregate. */
  private val fnArrayHof: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"),
        exists(col("tk"), x => x.startsWith("a")).as("has_a_word"),
        forall(col("tk"), x => length(x) < 20).as("all_short"),
        size(filter(col("tk"), x => length(x) >= 6)).cast("bigint").as("n_long"),
        aggregate(col("tk"), lit(0L), (acc, x) => acc + length(x)).as("total_chars"))
      .orderBy("doc_id")

  private val fnArrayHofOracle =
    s"""SELECT doc_id,
       |  len(list_filter(tk, x -> x LIKE 'a%')) > 0 AS has_a_word,
       |  len(list_filter(tk, x -> NOT length(x) < 20)) = 0 AS all_short,
       |  CAST(len(list_filter(tk, x -> length(x) >= 6)) AS BIGINT) AS n_long,
       |  CAST(coalesce(list_aggregate(list_transform(tk, x -> length(x)), 'sum'), 0) AS BIGINT) AS total_chars
       |FROM (SELECT doc_id, $duckToks AS tk FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---- fn_map_ops: map construction / filter / value transform ---------

  /** MapType pipeline: build token→length maps, filter entries, rewrite
    * values, explode back to rows (map_from_arrays / map_filter /
    * transform_values / explode — the MapType half of the HOF surface).
    * Keys are array_distinct'ed first: Spark's default mapKeyDedupPolicy
    * throws on duplicate keys. The oracle computes the same entry set
    * list-wise (the map is an intermediate, not an output type). */
  private val fnMapOps: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_distinct(slice(toks(col("text")), 1, 3)).as("tk"))
      .select(col("doc_id"),
        map_from_arrays(col("tk"), transform(col("tk"), x => length(x))).as("m"))
      .select(col("doc_id"),
        transform_values(
          map_filter(col("m"), (_, v) => v >= 4),
          (_, v) => v * 2L).as("m2"))
      .select(col("doc_id"), explode(col("m2")).as(Seq("token", "double_len")))
      .select(col("doc_id"), col("token"), col("double_len").cast("bigint").as("double_len"))
      .orderBy("doc_id", "token")

  private val fnMapOpsOracle =
    s"""SELECT doc_id, token, CAST(2 * length(token) AS BIGINT) AS double_len
       |FROM (SELECT doc_id, unnest(list_distinct(tk[1:3])) AS token
       |      FROM (SELECT doc_id, $duckToks AS tk FROM documents))
       |WHERE length(token) >= 4
       |ORDER BY doc_id, token""".stripMargin

  // ---- fn_regexp: extract / replace / extract_all ----------------------

  /** Regexp scalar family (both engines on RE2-safe patterns: plain
    * character classes, no lookaround/backrefs). */
  private val fnRegexp: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_extract(col("text"), "([0-9]+)", 1).as("first_num"),
        regexp_replace(col("text"), "[0-9]+", "#").as("no_digits"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("bigint").as("n_nums"))
      .orderBy("doc_id")

  private val fnRegexpOracle =
    """SELECT doc_id,
      |  regexp_extract(text, '([0-9]+)', 1) AS first_num,
      |  regexp_replace(text, '[0-9]+', '#', 'g') AS no_digits,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- fn_interval: calendar arithmetic --------------------------------

  /** Date/interval arithmetic family: add_months (end-of-month clamped on
    * both engines), last_day, month/week truncation, day diff from a
    * fixed epoch. */
  private val fnInterval: Q = (s, dir) => {
    val d = to_date(col("o_orderdate"))
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        d.as("d"),
        add_months(d, 3).as("plus3m"),
        last_day(d).as("eom"),
        trunc(d, "month").as("som"),
        trunc(d, "week").as("sow"),
        datediff(d, lit("1995-01-01")).cast("bigint").as("days_since"))
      .orderBy("o_orderkey")
  }

  private val fnIntervalOracle =
    """SELECT o_orderkey, d,
      |  CAST(d + INTERVAL 3 MONTH AS DATE) AS plus3m,
      |  last_day(d) AS eom,
      |  date_trunc('month', d) AS som,
      |  date_trunc('week', d) AS sow,
      |  CAST(date_diff('day', DATE '1995-01-01', d) AS BIGINT) AS days_since
      |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---- win_ignore_nulls: gap-bridging analytics ------------------------

  /** IGNORE NULLS window analytics: carry the previous / latest non-null
    * observation across gaps (the last-observation-carried-forward
    * primitive for sparse sensor streams). */
  private val winIgnoreNulls: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("v", when(col("event_type") === "click", col("value")))
      .select(col("event_id"), col("user_id"), col("v"),
        lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_click"),
        last(col("v"), ignoreNulls = true).over(wRows).as("latest_click"))
      .orderBy("event_id")
  }

  private val winIgnoreNullsOracle =
    """SELECT event_id, user_id, v,
      |  lag(v IGNORE NULLS) OVER w AS prev_click,
      |  last_value(v IGNORE NULLS) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest_click
      |FROM (SELECT event_id, user_id, ts,
      |        CASE WHEN event_type = 'click' THEN value END AS v
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |ORDER BY event_id""".stripMargin

  // ---- sim_knn_join: top-k neighbors for a query SET -------------------

  /** k-NN JOIN: top-3 cosine neighbors for EACH of the 10 query vectors
    * (vec_id < 10) — the batch form of sim_topk. Queries are broadcast
    * (model-sized side), the corpus never shuffles, and the per-query
    * top-k is two-phase (local top-3 per physical partition, then global
    * rank) so ranking parallelism is cluster-width, not #queries. */
  private val simKnnJoin: Q = (s, dir) => {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6).as("cos"))
    Ranks.perGroupTopK(scored, Seq("qid"), Seq(desc("cos"), asc("vec_id")), 3)
      .select("qid", "vec_id", "cos", "rn")
      .orderBy("qid", "rn")
  }

  private val simKnnJoinOracle =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT qid, vec_id,
      |    ROUND(list_aggregate(list_transform(list_zip(v, qv), x -> x[1] * x[2]), 'sum')
      |      / (SQRT(list_aggregate(list_transform(v, x -> x*x), 'sum')) * SQRT(list_aggregate(list_transform(qv, x -> x*x), 'sum'))), 6) AS cos
      |  FROM e CROSS JOIN q WHERE vec_id <> qid)
      |SELECT qid, vec_id, cos, rn FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rn FROM scored)
      |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  // ---- embed_quantize: L2-normalize + int8 -----------------------------

  /** Embedding storage quantization: L2 norm (exact sequential double
    * fold, same order both engines) and the int8 code array
    * floor(x/norm*127 + 0.5) — explicit floor(+0.5) instead of round()
    * because engines disagree on negative-half rounding modes. The norm
    * is computed inline per row (one narrow projection, no shuffle) and
    * the code array is rendered as a comma-joined string because the
    * differential gate hashes scalar cells only. */
  private val embedQuantize: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(aggregate(col("embedding"), lit(0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))).as("norm"))
      // zero vectors have no direction to quantize: excluded on BOTH
      // sides (Spark would emit NULL codes from floor(NaN); DuckDB
      // errors on CAST(inf AS INT) — divergent, so neither is allowed)
      .filter(col("norm") > 0)
      .select(col("vec_id"), round(col("norm"), 6).as("l2_norm"),
        concat_ws(",", transform(col("embedding"),
          x => floor(x.cast("double") / col("norm") * 127 + 0.5).cast("int"))).as("q"))
      .orderBy("vec_id")

  private val embedQuantizeOracle =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, SQRT(list_aggregate(list_transform(v, x -> x*x), 'sum')) AS norm FROM e)
      |SELECT vec_id, ROUND(norm, 6) AS l2_norm,
      |  array_to_string(list_transform(v, x -> CAST(FLOOR(x / norm * 127 + 0.5) AS INT)), ',') AS q
      |FROM n WHERE norm > 0 ORDER BY vec_id""".stripMargin

  // ---- agg_grouping_id -------------------------------------------------

  /** GROUPING SETS with grouping_id disambiguation (real NULLs vs
    * rollup NULLs). */
  private val aggGroupingId: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""SELECT o_orderstatus, o_orderpriority,
              CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
              COUNT(*) AS n
             FROM orders
             GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
             ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
  }

  private val aggGroupingIdOracle =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus)*2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // ---- profile_topk_all: top-3 values for EVERY column -----------------

  /** Whole-database per-column top-3 — the profiler UX panel over all 51
    * columns, served from the materialized histogram (one read, no
    * re-scan of any base table) with the two-phase top-k. */
  private val profileTopkAll: Q = (s, dir) =>
    // native bounded top-k aggregate: ONE aggregation pass over the
    // materialized histogram, k entries per (group × partition) through
    // the shuffle — no window sort at all. Tie order (count desc, value
    // asc NULLS FIRST, binary collation) matches row_number/the oracle
    // exactly; histogram (t, c, value) rows are unique so the order is
    // total.
    Profiler.histogramAgg(s, dir)
      .groupBy("tableName", "columnName")
      .agg(graft.functions.Native.topKCountAgg(col("value"), col("cnt"), 3).as("topk"))
      .select(col("tableName"), col("columnName"), posexplode(col("topk")))
      .select(col("tableName"), col("columnName"),
        col("col.value").as("value"),
        col("col.cnt").cast("float").as("num_records"),
        (col("pos") + 1).cast("bigint").as("rn"))
      .orderBy("tableName", "columnName", "rn")

  private def profileTopkAllOracle: String = {
    val inner = (for (tm <- Tables.all; c <- tm.atomicCols) yield
      s"""SELECT '${tm.name}' AS tableName, '${c.name}' AS columnName, value, CAST(COUNT(*) AS REAL) AS num_records FROM (SELECT ${Profiler.duckFmtValue(c)} AS value FROM ${tm.name}) GROUP BY value"""
      ).mkString(" UNION ALL ")
    s"""SELECT tableName, columnName, value, num_records, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY tableName, columnName ORDER BY num_records DESC, value ASC NULLS FIRST) AS BIGINT) AS rn
       |  FROM ($inner))
       |WHERE rn <= 3 ORDER BY tableName, columnName, rn""".stripMargin
  }

  // ---- stream_static_join: micro-batch dimension enrichment ------------

  /** Batch twin of [[Streaming.staticEnrich]] (StreamingSpec drives the
    * readStream form and asserts equivalence). */
  private val streamStaticJoin: Q = (s, dir) =>
    Streaming.staticEnrich(t(s, dir, "events"), t(s, dir, "customer"))
      .orderBy("c_mktsegment", "event_type")

  private val streamStaticJoinOracle =
    """SELECT c_mktsegment, event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type ORDER BY c_mktsegment, event_type""".stripMargin

  // ---- fn_json_path: JSON path extraction ------------------------------

  /** JSON path extraction from the props column (get_json_object — the
    * per-field probe, complementing fn_map_json's full from_json parse). */
  private val fnJsonPath: Q = (s, dir) =>
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k_num"),
        get_json_object(col("props"), "$.missing").as("absent"))
      .orderBy("event_id")

  private val fnJsonPathOracle =
    """SELECT event_id,
      |  props->>'$.k' AS k_str,
      |  CAST(props->>'$.k' AS BIGINT) AS k_num,
      |  props->>'$.missing' AS absent
      |FROM events ORDER BY event_id""".stripMargin

  // ---- join_lateral: correlated top-1 subquery -------------------------

  /** LATERAL join: each customer's single highest-value order — the
    * correlated top-1 probe. Catalyst decorrelates the LIMIT 1 subquery
    * into a ranked join (no per-row re-execution); the same query text
    * runs on both engines. */
  private val joinLateral: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
        |ORDER BY c.c_custkey""".stripMargin)
  }

  private val joinLateralOracle =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
      |ORDER BY c.c_custkey""".stripMargin

  // ---- flagship_star_join: the 3-table analytics shape -----------------

  /** TPC-H Q3-shaped star join: segment-filtered customers (size-chosen
    * join — the dim is entity-scaled), date-filtered orders joined
    * to lineitem on the shuffle key, one partial-aggregated groupBy, and
    * TakeOrderedAndProject for the top 10 — the canonical "100 TB fact,
    * small dims" plan. Revenue is decimal×decimal so the sum is exact on
    * both engines. */
  private val flagshipStarJoin: Q = (s, dir) => {
    val cutoff = "1995-03-15"
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t(s, dir, "orders")
      .filter(to_date(col("o_orderdate")) < lit(cutoff))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = t(s, dir, "lineitem")
      .filter(to_date(col("l_shipdate")) > lit(cutoff))
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("rev"))
    // the segment-filtered customer list is still entity-scaled - let
    // size-based selection pick broadcast while it fits (it does at any
    // bench SF) and degrade to shuffle at 100 TB instead of OOMing
    ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"),
        col("o_orderpriority"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("o_orderkey"))
      .limit(10)
  }

  private val flagshipStarJoinOracle =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
      |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
      |GROUP BY o_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // ---- join_salted_skew: hot-key join decomposition --------------------

  /** Salted join on a pathologically skewed key (l_returnflag: 3 values →
    * 3 reducers own 100 TB in a plain shuffle join). The small side is
    * replicated across 16 salt values; the fact side derives its salt
    * from a row hash, so each hot key fans out over 16 reducers. The
    * final aggregate is salt-free — results identical to the unsalted
    * join (which is exactly what the oracle runs). AQE's skew-join
    * split handles moderate skew automatically; explicit salting is the
    * deterministic form for known-degenerate keys. */
  private val joinSaltedSkew: Q = (s, dir) => {
    import s.implicits._
    val salts = 16
    val dim = Seq(("A", "accepted"), ("N", "new"), ("R", "returned"))
      .toDF("flag", "meaning")
      .crossJoin(s.range(salts).select(col("id").cast("int").as("salt")))
    val fact = t(s, dir, "lineitem")
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts)).cast("int"))
    fact.join(dim, fact("l_returnflag") === dim("flag") && fact("salt") === dim("salt"))
      .groupBy("meaning")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("meaning")
  }

  private val joinSaltedSkewOracle =
    """SELECT meaning, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN (VALUES ('A','accepted'),('N','new'),('R','returned')) AS d(flag, meaning)
      |  ON l_returnflag = flag
      |GROUP BY meaning ORDER BY meaning""".stripMargin

  // ---- sink_time_travel: snapshot isolation across commits -------------

  /** Time travel (`VERSION AS OF`): commit two versions of a table, then
    * read the SUPERSEDED snapshot and diff it against the live one — the
    * rows the second commit changed, recovered from history. The oracle
    * derives the same delta from the source table directly, so the
    * version pointer, snapshot isolation, and the diff all verify. */
  private val sinkTimeTravel: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "timetravel")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), year(col("o_orderdate")).as("oyear"))
    store.write(base, "orders")                                         // v1
    store.write(base.withColumn("o_totalprice",                          // v2
      when(col("oyear") === 1996, col("o_totalprice") + lit(1000.0))
        .otherwise(col("o_totalprice"))), "orders")
    store.readVersion(s, "orders", 1L)
      .except(store.readVersion(s, "orders", 2L))
      .orderBy("o_orderkey")
  }

  private val sinkTimeTravelOracle =
    """SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS oyear
      |FROM orders WHERE year(o_orderdate) = 1996 ORDER BY o_orderkey""".stripMargin

  // ---- sink_delete: file-level DELETE WHERE ----------------------------

  /** DELETE WHERE against the versioned store: range-clustered commit,
    * then a predicate delete that rewrites ONLY the files containing
    * matches (the manifest shares the rest — VersionedStoreSpec pins the
    * file accounting). The post-state hash-checks against the source
    * table minus the predicate, and the pre-delete snapshot stays
    * readable (history row count asserted in-query via the final
    * filter's complement living in v1). */
  private val sinkDelete: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "delete")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), year(col("o_orderdate")).as("oyear"))
    store.write(base.repartitionByRange(4, col("o_orderkey")), "orders")  // v1
    store.delete(s, "orders", col("oyear") === 1995)                      // v2
    store.read(s, "orders").orderBy("o_orderkey")
  }

  private val sinkDeleteOracle =
    """SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS oyear
      |FROM orders WHERE year(o_orderdate) <> 1995 ORDER BY o_orderkey""".stripMargin

  // ---- sink_clone: zero-copy SHALLOW CLONE ----------------------------

  /** SHALLOW CLONE (Delta CLONE analog): the clone's v1 hard-links the
    * source head's immutable files — zero data copied — then the two
    * tables diverge: the clone deletes small parts, the source stays
    * whole. Result = per-(side) row count + value sum after divergence,
    * derivable from the part table; VersionedStoreSpec pins the
    * zero-copy mechanics (shared inodes, independent evolution, vacuum
    * safety via link counts). */
  private val sinkClone: Q = (s, dir) => {
    import s.implicits._
    val root = graft.engine.Fs.freshScratch(s, "clone")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "part")
      .select(col("p_partkey"), col("p_size").cast("int").as("p_size"))
    store.write(base.repartitionByRange(4, col("p_partkey")), "part")
    store.shallowClone("part", "part_dev")
    store.delete(s, "part_dev", col("p_size") < 10)
    val agg = (df: org.apache.spark.sql.DataFrame, side: String) =>
      df.agg(count(lit(1)).as("n"), sum(col("p_size").cast("long")).as("size_sum"))
        .select(lit(side).as("side"), col("n"), col("size_sum"))
    agg(store.read(s, "part"), "source")
      .unionAll(agg(store.read(s, "part_dev"), "clone"))
      .orderBy("side")
  }

  private val sinkCloneOracle =
    """SELECT side, n, size_sum FROM (
      |  SELECT 'clone' AS side, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(CAST(p_size AS INT)) AS BIGINT) AS size_sum
      |  FROM part WHERE CAST(p_size AS INT) >= 10
      |  UNION ALL
      |  SELECT 'source', CAST(COUNT(*) AS BIGINT), CAST(SUM(CAST(p_size AS INT)) AS BIGINT)
      |  FROM part)
      |ORDER BY side""".stripMargin

  // ---- sink_history: DESCRIBE HISTORY over the versioned store ---------

  /** Version history probe (Delta's DESCRIBE HISTORY, row-count form):
    * commit v1 (full write), v2 (insert-only upsert of the BUILDING
    * segment under shifted keys), v3 (DELETE of one nation), then report
    * every version's row count by time-traveling to it. History is
    * metadata (one manifest line per version) and the per-version counts
    * are manifest-pruned scans; at 100 TB the count could come straight
    * from manifest stats without touching data. The oracle derives each
    * version's expected cardinality from the source table alone. */
  private val sinkHistory: Q = (s, dir) => {
    import s.implicits._
    val root = graft.engine.Fs.freshScratch(s, "history")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    // insert keys start past the live maximum (model-sized agg), so the
    // upsert stays insert-only at ANY scale factor — a fixed shift would
    // silently collide into updates once the table outgrows it
    val shift = base.agg(max("c_custkey")).head().getLong(0) + 1L
    store.write(base, "customer")                                         // v1
    store.upsert(s, "customer",                                           // v2: inserts
      base.filter(col("c_mktsegment") === "BUILDING")
        .withColumn("c_custkey", col("c_custkey") + lit(shift)),
      Seq("c_custkey"))
    store.delete(s, "customer", col("c_nationkey") === 3)                 // v3
    store.history("customer")
      .map(v => (v, store.readVersion(s, "customer", v).count()))
      .toDF("version", "n_rows")
      .orderBy("version")
  }

  private val sinkHistoryOracle =
    """SELECT CAST(1 AS BIGINT) AS version, CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_rows
      |UNION ALL SELECT 2, CAST((SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM customer WHERE c_mktsegment = 'BUILDING') AS BIGINT)
      |UNION ALL SELECT 3, CAST((SELECT COUNT(*) FROM customer WHERE c_nationkey <> 3) + (SELECT COUNT(*) FROM customer WHERE c_mktsegment = 'BUILDING' AND c_nationkey <> 3) AS BIGINT)
      |ORDER BY version""".stripMargin

  // ---- sink_concurrent_upsert: OCC rebase under real contention --------

  /** Two concurrent writers, disjoint keys, BOTH commits must survive —
    * Delta's optimistic-concurrency contract driven end to end. Writer A
    * updates the low keys; writer B (fired from the engine's
    * before-commit hook, i.e. exactly between A's staging and A's commit
    * attempt) inserts fresh keys above the live maximum. A loses the
    * version race, finds B's added files disjoint from its own key range
    * (manifest stats, no data read), rebases its ALREADY-STAGED files
    * onto B's head, and commits — zero recompute, v1..v3 in history.
    * The result pins the full post state (both writers' rows), the
    * version count, and that the contention really happened. */
  private val sinkConcurrentUpsert: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "occ")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    store.write(base.repartitionByRange(4, col("c_custkey")), "customer") // v1
    // B's inserts start past the live max (model-sized agg) so the two
    // writers stay key-disjoint at ANY scale factor
    val shift = base.agg(max("c_custkey")).head().getLong(0) + 1L
    val bSource = base.filter(col("c_custkey") <= 10)
      .select((col("c_custkey") + lit(shift)).as("c_custkey"),
        lit(-1.0).as("c_acctbal"))
    @volatile var contended = false
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      store.upsert(s, "customer", bSource, Seq("c_custkey"))              // v2: B wins
      contended = true
    }
    store.upsert(s, "customer",                                           // v3: A rebases
      base.filter(col("c_custkey") <= 10).withColumn("c_acctbal", lit(0.0)),
      Seq("c_custkey"))
    val nVersions = store.currentVersion("customer").getOrElse(0L)
    store.read(s, "customer")
      .filter(col("c_custkey") <= 10 || col("c_custkey") >= lit(shift))
      .select(
        when(col("c_custkey") >= lit(shift), col("c_custkey") - lit(shift))
          .otherwise(col("c_custkey")).as("key"),
        when(col("c_custkey") >= lit(shift), "insert_b").otherwise("update_a")
          .as("writer"),
        col("c_acctbal").as("bal"),
        lit(nVersions).as("n_versions"), lit(contended).as("contended"))
      .orderBy("writer", "key")
  }

  private val sinkConcurrentUpsertOracle =
    """SELECT c_custkey AS key, 'insert_b' AS writer, CAST(-1.0 AS DOUBLE) AS bal,
      |  CAST(3 AS BIGINT) AS n_versions, TRUE AS contended
      |FROM customer WHERE c_custkey <= 10
      |UNION ALL
      |SELECT c_custkey, 'update_a', CAST(0.0 AS DOUBLE), CAST(3 AS BIGINT), TRUE
      |FROM customer WHERE c_custkey <= 10
      |ORDER BY writer, key""".stripMargin

  // ---- sql_text_agg: the SQL-text surface end-to-end -------------------

  /** The reference drives everything through SQL text (its notebook is
    * `spark.sql` cell after cell — dbc:cmd7-17); this query runs a
    * fact-dim join + aggregate as PURE SQL over temp views on the engine
    * session, proving the text surface plans identically to the Column
    * API (same Catalyst plan, same broadcast/pushdown physics). */
  private val sqlTextAgg: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("sql_orders")
    t(s, dir, "lineitem").createOrReplaceTempView("sql_lineitem")
    s.sql(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM sql_lineitem JOIN sql_orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  private val sqlTextAggOracle =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- sink_restore: roll back a bad deploy as a new commit ------------

  /** RESTORE VERSION AS OF: commit a snapshot, corrupt it with an
    * upsert, restore the original — the read-back must hash-match the
    * source exactly (proving the rollback is bytewise faithful), while
    * v2 stays in history. The restore itself moves no data: the new
    * manifest references v1's files verbatim. */
  private val sinkRestore: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "restore")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), year(col("o_orderdate")).as("oyear"))
    store.write(base.repartitionByRange(4, col("o_orderkey")), "orders")  // v1
    store.upsert(s, "orders",                                             // v2: bad deploy
      base.filter(col("oyear") === 1996).withColumn("o_totalprice", lit(-1.0)),
      Seq("o_orderkey"))
    store.restore("orders", 1L)                                           // v3 = v1
    store.read(s, "orders").orderBy("o_orderkey")
  }

  private val sinkRestoreOracle =
    """SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS oyear
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- sink_cdc: change data feed between versions ---------------------

  /** CDC between two commits: v2 updates 1996 prices, deletes 1998
    * orders, and inserts one synthetic row — `changes` recovers exactly
    * that intent (insert/update/delete per key) from the two snapshots.
    * The oracle re-derives the same change set from the source table. */
  private val sinkCdc: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "cdc")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), year(col("o_orderdate")).as("oyear"))
    store.write(base, "orders")                                          // v1
    val v2 = base.filter(col("oyear") =!= 1998)
      .withColumn("o_totalprice",
        when(col("oyear") === 1996, col("o_totalprice") + lit(1000.0))
          .otherwise(col("o_totalprice")))
      .union(s.range(1).select(lit(-1L).as("o_orderkey"),
        lit(0.0).as("o_totalprice"), lit(2024).as("oyear")))
    store.write(v2, "orders")
    store.changes(s, "orders", 1L, 2L, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  private val sinkCdcOracle =
    """SELECT o_orderkey, change_type FROM (
      |  SELECT o_orderkey, 'update' AS change_type FROM orders WHERE year(o_orderdate) = 1996
      |  UNION ALL
      |  SELECT o_orderkey, 'delete' FROM orders WHERE year(o_orderdate) = 1998
      |  UNION ALL
      |  SELECT -1, 'insert')
      |ORDER BY o_orderkey""".stripMargin

  // ---- agg_time_rollup: calendar-hierarchy rollup ----------------------

  /** ROLLUP over a derived time hierarchy (year → quarter → month):
    * subtotals at every calendar grain in one pass — grouping columns are
    * computed at the scan, so the rollup is still a single Expand +
    * aggregate, no self-joins. */
  private val aggTimeRollup: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        col("o_totalprice"))
      .rollup("y", "q", "m")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy(asc_nulls_first("y"), asc_nulls_first("q"), asc_nulls_first("m"))

  private val aggTimeRollupOracle =
    """SELECT y, q, m, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM (SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(quarter(o_orderdate) AS INT) AS q,
      |             CAST(month(o_orderdate) AS INT) AS m, o_totalprice FROM orders)
      |GROUP BY ROLLUP (y, q, m)
      |ORDER BY y NULLS FIRST, q NULLS FIRST, m NULLS FIRST""".stripMargin

  // ---- fn_explode_outer: null-preserving generators --------------------

  /** explode_outer: rows with EMPTY token arrays survive with a NULL
    * element (plain explode silently drops them — fatal when the melted
    * row must keep 1:1 provenance with its document). */
  private val fnExplodeOuter: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode_outer(filter(toks(col("text")), x => length(x) >= 12)).as("longtok"))
      .orderBy(asc("doc_id"), asc_nulls_first("longtok"))

  private val fnExplodeOuterOracle =
    s"""SELECT doc_id, u.longtok FROM
       |  (SELECT doc_id, list_filter($duckToks, x -> length(x) >= 12) AS lt FROM documents) d
       |LEFT JOIN LATERAL (SELECT unnest(d.lt) AS longtok) u ON TRUE
       |ORDER BY doc_id, longtok NULLS FIRST""".stripMargin

  // ---- sink_dynamic_partition: partition-scoped overwrite --------------

  /** Dynamic partition overwrite: rewrite ONLY the partitions present in
    * the incoming batch (partitionOverwriteMode=dynamic), leaving sibling
    * partitions untouched — the idempotent daily-reload write mode of a
    * partitioned lake. The oracle reconstructs the expected post-state:
    * 1996 rows discounted, every other year original. */
  private val sinkDynamicPartition: Q = (s, dir) => {
    val tmp = graft.engine.Fs.freshScratch(s, "dynpart") + "/orders"
    val base = t(s, dir, "orders").withColumn("oyear", year(col("o_orderdate")))
    base.write.mode(SaveMode.Overwrite).partitionBy("oyear").parquet(tmp)
    // overwrite JUST the 1996 partition with adjusted prices (an exact
    // IEEE add — round(x*0.9, 2) differs between engines on .x05 halves)
    base.filter(col("oyear") === 1996)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("oyear").parquet(tmp)
    s.read.parquet(tmp)
      .select(col("o_orderkey"), col("o_totalprice"), col("oyear").cast("bigint").as("oyear"))
      .orderBy("o_orderkey")
  }

  private val sinkDynamicPartitionOracle =
    """SELECT o_orderkey,
      |  CASE WHEN year(o_orderdate) = 1996 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
      |  CAST(year(o_orderdate) AS BIGINT) AS oyear
      |FROM orders ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "flagship_star_join" -> flagshipStarJoin,
    "agg_time_rollup" -> aggTimeRollup,
    "sink_time_travel" -> sinkTimeTravel,
    "sink_cdc" -> sinkCdc,
    "sink_delete" -> sinkDelete,
    "sink_clone" -> sinkClone,
    "sink_restore" -> sinkRestore,
    "sink_history" -> sinkHistory,
    "sink_concurrent_upsert" -> sinkConcurrentUpsert,
    "sql_text_agg" -> sqlTextAgg,
    "fn_explode_outer" -> fnExplodeOuter,
    "sink_dynamic_partition" -> sinkDynamicPartition,
    "join_salted_skew" -> joinSaltedSkew,
    "stream_static_join" -> streamStaticJoin,
    "fn_json_path" -> fnJsonPath,
    "join_lateral" -> joinLateral,
    "dedup_components" -> dedupComponents,
    "dedup_components_multi" -> dedupComponentsMulti,
    "dedup_keep" -> dedupKeep,
    "corpus_filter" -> corpusFilter,
    "profile_numeric_bins" -> profileNumericBins,
    "fn_try_arith" -> fnTryArith,
    "text_rarity" -> textRarity,
    "sample_stratified" -> sampleStratified,
    "corpus_pack" -> corpusPack,
    "corpus_mix" -> corpusMix,
    "fn_regexp" -> fnRegexp,
    "fn_array_hof" -> fnArrayHof,
    "fn_map_ops" -> fnMapOps,
    "fn_interval" -> fnInterval,
    "win_ignore_nulls" -> winIgnoreNulls,
    "sim_knn_join" -> simKnnJoin,
    "embed_quantize" -> embedQuantize,
    "agg_grouping_id" -> aggGroupingId,
    "profile_topk_all" -> profileTopkAll
  )

  val oracles: Map[String, String] = Map(
    "flagship_star_join" -> flagshipStarJoinOracle,
    "agg_time_rollup" -> aggTimeRollupOracle,
    "sink_time_travel" -> sinkTimeTravelOracle,
    "sink_cdc" -> sinkCdcOracle,
    "sink_delete" -> sinkDeleteOracle,
    "sink_clone" -> sinkCloneOracle,
    "sink_restore" -> sinkRestoreOracle,
    "sink_history" -> sinkHistoryOracle,
    "sink_concurrent_upsert" -> sinkConcurrentUpsertOracle,
    "sql_text_agg" -> sqlTextAggOracle,
    "fn_explode_outer" -> fnExplodeOuterOracle,
    "sink_dynamic_partition" -> sinkDynamicPartitionOracle,
    "join_salted_skew" -> joinSaltedSkewOracle,
    "stream_static_join" -> streamStaticJoinOracle,
    "fn_json_path" -> fnJsonPathOracle,
    "join_lateral" -> joinLateralOracle,
    "dedup_components" -> dedupComponentsOracle,
    "dedup_components_multi" -> dedupComponentsMultiOracle,
    "dedup_keep" -> dedupKeepOracle,
    "corpus_filter" -> corpusFilterOracle,
    "profile_numeric_bins" -> profileNumericBinsOracle,
    "fn_try_arith" -> fnTryArithOracle,
    "text_rarity" -> textRarityOracle,
    "sample_stratified" -> sampleStratifiedOracle,
    "corpus_pack" -> corpusPackOracle,
    "corpus_mix" -> corpusMixOracle,
    "fn_regexp" -> fnRegexpOracle,
    "fn_array_hof" -> fnArrayHofOracle,
    "fn_map_ops" -> fnMapOpsOracle,
    "fn_interval" -> fnIntervalOracle,
    "win_ignore_nulls" -> winIgnoreNullsOracle,
    "sim_knn_join" -> simKnnJoinOracle,
    "embed_quantize" -> embedQuantizeOracle,
    "agg_grouping_id" -> aggGroupingIdOracle,
    "profile_topk_all" -> profileTopkAllOracle
  )
}
