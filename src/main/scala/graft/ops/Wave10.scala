package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 third wave: the curation pipeline end to end, plus the
  * distribution-health profilers a corpus team runs before a training
  * launch.
  *
  * - `pipeline_e2e`: the WHOLE curation funnel as one DAG — quality/
  *   language/repetition gates, exact dedup, content-hash split, budget
  *   sheet — the flagship "a user of the reference runs their entire
  *   prep in one query" demonstration.
  * - `profile_ks`: exact two-sample Kolmogorov–Smirnov drift statistic
  *   per event type (the continuous-distribution complement of
  *   profile_psi's banded PSI), computed with pure integer arithmetic
  *   on the two-phase prefix-sum kernel — no global sort, no window
  *   task per type.
  * - `sketch_countmin`: Count–Min heavy-hitter estimation through
  *   Spark's mergeable CMS aggregate, with the CMS error contract
  *   (never-underestimate, eps·N overestimate cap) pinned as oracle-
  *   checked booleans against the exact counts.
  * - `text_heaps`: Heaps'-law vocabulary-growth curve (distinct terms
  *   vs corpus prefix) — the companion diagnostic to text_zipf that
  *   says how fast the vocabulary will keep growing at 100 TB.
  */
object Wave10 {

  // ---- pipeline_e2e: the whole curation funnel in one DAG --------------

  /** The production corpus-prep pipeline end to end, one query: the
    * corpus_filter gate stack (quality ≥ 0.4, ≥ 10 tokens, repetition
    * caps, language agreement) → EXACT dedup of the survivors (min
    * doc_id per content hash) → content-hash train/val/test assignment
    * (the shared [[Hashing.splitOf]] definition) → the per-(split,
    * source) budget sheet a training run starts from: document count,
    * token total, and an exact id-sum so the gate pins WHICH documents
    * survived, not just how many.
    *
    * Scale shape: the gates are three map-side-combined doc-keyed
    * aggregations joined on doc_id (corpus_filter's audited plan); dedup
    * is ONE md5-keyed aggregation plus a co-partitioned (h, doc_id)
    * join-back — the shuffle key is a 16-byte digest, never the
    * document text; the budget sheet is one final hash aggregation.
    * Nothing in the funnel is quadratic, windowed, or driver-side, so
    * the same DAG runs unchanged on a 1000-executor cluster. */
  private val pipelineE2e: Q = (s, dir) => {
    val keepIds = Wave3.queries("corpus_filter")(s, dir)
      .filter(col("keep")).select("doc_id")
    val kept = Tables.load(s, dir, "documents").join(keepIds, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("text"),
        md5(col("text").cast("binary")).as("h"))
    val survivors = kept.groupBy("h").agg(min("doc_id").as("doc_id"))
    kept.join(survivors, Seq("h", "doc_id"))
      .select(Hashing.splitOf(col("text")).as("split"), col("source"),
        size(LlmPipeline.tokens(col("text"))).cast("long").as("n_tok"), col("doc_id"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_total"),
        sum("doc_id").as("id_sum"))
      .orderBy("split", "source")
  }

  private def pipelineE2eOracle: String = {
    val f = Wave3.oracles("corpus_filter")
    s"""WITH f AS ($f),
       |kept AS (
       |  SELECT d.doc_id, d.source, d.text, md5(d.text) AS h
       |  FROM documents d JOIN f ON d.doc_id = f.doc_id WHERE f.keep),
       |surv AS (SELECT h, MIN(doc_id) AS doc_id FROM kept GROUP BY h),
       |docs AS (
       |  SELECT k.doc_id, k.source, k.text
       |  FROM kept k JOIN surv USING (h, doc_id))
       |SELECT ${Hashing.duckSplitCase} AS split, source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CAST(len(${LlmPipeline.duckTokens}) AS BIGINT)) AS BIGINT) AS tok_total,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM docs GROUP BY 1, 2 ORDER BY split, source""".stripMargin
  }

  // ---- profile_ks: exact two-sample Kolmogorov-Smirnov drift -----------

  /** Two-sample KS drift per event type between the first and second
    * half of the stream (profile_psi's exact median-day cut): D =
    * max_x |F1(x) − F2(x)| over the pooled value points — the
    * continuous-distribution drift test that needs no banding choice.
    *
    * Exactness: both empirical CDFs are integer step functions, so D's
    * numerator max|c1·N2 − c2·N1| is computed ENTIRELY in 64-bit
    * integers (c ≤ N ≤ 2^31 ⇒ products < 2^62) and only the final
    * division is floating — one exact-integer-ratio round(…, 6), the
    * round-then-sum discipline's division twin. Cross-engine ordering
    * is bitwise: parquet doubles group and sort identically in both
    * engines.
    *
    * Scale shape: one (type, value) hash aggregation packs BOTH half
    * counts into one 64-bit word (n1·2^32 + n2), ONE two-phase prefix
    * sum ([[Ranks.perGroupPrefixSum]]: balanced range shuffle +
    * pid-local windows — a hot event type never serializes onto one
    * task), a broadcast of the model-sized per-type totals, and a final
    * per-type max. A global-sort or per-type-window formulation dies at
    * 100 TB on exactly the skew this kernel was built for. */
  private val profileKs: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value"))
    val bounds = ev.agg(
      expr("percentile(datediff(d, DATE '1970-01-01'), 0.5)").as("mid"))
    val cnt = ev.crossJoin(broadcast(bounds))
      .select(col("event_type"), col("value"),
        when(datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("double") <= col("mid"), "p1").otherwise("p2").as("period"))
      .groupBy("event_type", "value")
      .agg(sum(when(col("period") === "p1", 1L).otherwise(0L)).as("n1"),
        sum(when(col("period") === "p2", 1L).otherwise(0L)).as("n2"))
    val packed = cnt.withColumn("pk",
      col("n1") * lit(4294967296L) + col("n2"))
    val cum = Ranks.perGroupPrefixSum(packed, Seq("event_type"),
      Seq(col("value")), col("pk"), "cumpk", ConfScope.shufflePartitions(s))
    val dec = cum.select(col("event_type"),
      expr("cumpk DIV 4294967296").as("c1"),
      pmod(col("cumpk"), lit(4294967296L)).as("c2"))
    val tot = dec.groupBy("event_type")
      .agg(max("c1").as("nn1"), max("c2").as("nn2"))
    dec.join(broadcast(tot), Seq("event_type"))
      .groupBy("event_type")
      .agg(max("nn1").as("n1"), max("nn2").as("n2"),
        max(abs(col("c1") * col("nn2") - col("c2") * col("nn1")))
          .as("d_num"))
      .select(col("event_type"), col("n1"), col("n2"), col("d_num"),
        round(col("d_num").cast("double") /
          (col("n1") * col("n2")).cast("double"), 6).as("ks_d"))
      .orderBy("event_type")
  }

  private val profileKsOracle =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, value
      |  FROM events WHERE value IS NOT NULL),
      |bounds AS (
      |  SELECT quantile_cont(datediff('day', DATE '1970-01-01', d), 0.5) AS mid
      |  FROM ev),
      |cnt AS (
      |  SELECT event_type, value,
      |    CAST(SUM(CASE WHEN CAST(datediff('day', DATE '1970-01-01', d) AS DOUBLE) <= mid
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN CAST(datediff('day', DATE '1970-01-01', d) AS DOUBLE) <= mid
      |             THEN 0 ELSE 1 END) AS BIGINT) AS n2
      |  FROM ev, bounds GROUP BY event_type, value),
      |cum AS (
      |  SELECT event_type,
      |    CAST(SUM(n1) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS c1,
      |    CAST(SUM(n2) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS c2
      |  FROM cnt),
      |tot AS (
      |  SELECT event_type, MAX(c1) AS nn1, MAX(c2) AS nn2 FROM cum GROUP BY 1)
      |SELECT c.event_type, MAX(t.nn1) AS n1, MAX(t.nn2) AS n2,
      |  MAX(ABS(c.c1 * t.nn2 - c.c2 * t.nn1)) AS d_num,
      |  round(CAST(MAX(ABS(c.c1 * t.nn2 - c.c2 * t.nn1)) AS DOUBLE) /
      |    CAST(MAX(t.nn1) * MAX(t.nn2) AS DOUBLE), 6) AS ks_d
      |FROM cum c JOIN tot t USING (event_type)
      |GROUP BY c.event_type ORDER BY event_type""".stripMargin

  // ---- sketch_countmin: mergeable Count-Min heavy-hitter estimates -----

  /** Count–Min sketch estimation of the corpus's exact top-8 terms,
    * with the CMS error contract surfaced as ORACLE-CHECKED booleans:
    * `lower_ok` (a Count–Min estimate can never undercount — the
    * structural guarantee) and `upper_ok` (estimate ≤ exact +
    * ceil(eps·N) at eps = 0.001 over N total insertions — the
    * probabilistic cap, deterministic here under the fixed seed). The
    * estimates themselves are hash-layout-dependent so the oracle pins
    * the contract, not the raw figures; the exact twin
    * (`text_heavyhitters`) hash-checks the true counts.
    *
    * Scale story: `count_min_sketch` is a MERGEABLE typed aggregate —
    * each task folds its partition into a w×d counter grid (here
    * 2719×5 ints, a few KB) and the grids merge associatively, so the
    * full-corpus frequency table costs one narrow aggregation of
    * constant-size state no matter how many trillion tokens stream
    * through: the sketch is what replaces text_termfreq's exact
    * (data-sized) table when the vocabulary itself stops fitting.
    * The driver-side readback is the model-sized sketch plus 8 probe
    * rows — the same envelope as Ivf's centroids. */
  private val sketchCountmin: Q = (s, dir) => {
    val tok = Tables.load(s, dir, "documents")
      .select(explode(LlmPipeline.tokens(col("text"))).as("w"))
    val top = tok.groupBy("w").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w").asc).limit(8)
    val skBytes = tok
      .agg(expr("count_min_sketch(w, 0.001d, 0.99d, 42)").as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(skBytes))
    val slack = math.ceil(0.001 * cms.totalCount()).toLong
    import s.implicits._
    val probes = top.collect()
      .map { r =>
        val est = cms.estimateCount(r.getString(0))
        (r.getString(0), r.getLong(1), est >= r.getLong(1),
          est <= r.getLong(1) + slack)
      }.toSeq.toDF("term", "n_exact", "lower_ok", "upper_ok")
    probes.orderBy(col("n_exact").desc, col("term").asc)
  }

  private val sketchCountminOracle =
    s"""WITH tok AS (SELECT unnest(${LlmPipeline.duckTokens}) AS w FROM documents)
       |SELECT w AS term, CAST(count(*) AS BIGINT) AS n_exact,
       |  TRUE AS lower_ok, TRUE AS upper_ok
       |FROM tok GROUP BY w
       |ORDER BY n_exact DESC, term ASC LIMIT 8""".stripMargin

  // ---- text_heaps: vocabulary-growth (Heaps'-law) curve ----------------

  /** Heaps'-law diagnostic: distinct-vocabulary size at each decile
    * prefix of the corpus (documents ordered by doc_id) — the curve
    * whose flattening (or not) says whether vocab_build's top-k budget
    * will hold as the corpus scales to 100 TB. Reported per decile:
    * documents seen, tokens seen, distinct terms seen.
    *
    * The construction never materializes per-prefix vocabularies: a
    * term is "seen by decile i" iff its FIRST occurrence doc falls at
    * or before the decile boundary, so one min-aggregation per term +
    * ten conditional counts against a broadcast single-row boundary
    * table replace ten distinct-counts over growing prefixes. Decile
    * boundaries come from the two-phase rank kernel (no global window
    * even at web-scale document counts) and are reduced to ONE
    * broadcast row — all integer arithmetic, trivially cross-engine. */
  private val textHeaps: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val ranked = Ranks.perGroupRank(docs.select(col("doc_id")), Seq.empty,
      Seq(col("doc_id")), rankCol = "rn", nCol = "nd", ConfScope.shufflePartitions(s))
    val bCols = (1 to 10).map(i =>
      max(when(col("rn") === greatest(expr(s"(nd * $i) DIV 10"), lit(1L)),
        col("doc_id"))).as(s"b$i"))
    val bounds = ranked.agg(bCols.head, bCols.tail: _*)
    val docAggCols = (1 to 10).flatMap(i => Seq(
      count(when(col("doc_id") <= col(s"b$i"), 1)).as(s"d$i"),
      coalesce(sum(when(col("doc_id") <= col(s"b$i"), col("n_tok"))), lit(0L))
        .as(s"t$i")))
    val docAgg = docs
      .select(col("doc_id"), size(LlmPipeline.tokens(col("text"))).cast("long").as("n_tok"))
      .crossJoin(broadcast(bounds))
      .agg(docAggCols.head, docAggCols.tail: _*)
    val vocCols = (1 to 10).map(i =>
      count(when(col("fd") <= col(s"b$i"), 1)).as(s"v$i"))
    val vocAgg = docs
      .select(col("doc_id"), explode(LlmPipeline.tokens(col("text"))).as("w"))
      .groupBy("w").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(bounds))
      .agg(vocCols.head, vocCols.tail: _*)
    docAgg.crossJoin(vocAgg)
      .select(expr("stack(10, " +
        (1 to 10).map(i => s"$i, d$i, t$i, v$i").mkString(", ") +
        ") AS (decile, n_docs, n_tokens, vocab)"))
      .orderBy("decile")
  }

  private val textHeapsOracle =
    s"""WITH tok AS (SELECT doc_id, unnest(${LlmPipeline.duckTokens}) AS w FROM documents),
       |rk AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn
       |  FROM documents),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
       |b AS (
       |  SELECT t.i AS decile, r.doc_id AS b
       |  FROM range(1, 11) t(i), n, rk r
       |  WHERE r.rn = GREATEST((n.nd * t.i) // 10, 1)),
       |dt AS (SELECT doc_id, CAST(len(${LlmPipeline.duckTokens}) AS BIGINT) AS n_tok FROM documents),
       |fi AS (SELECT w, MIN(doc_id) AS fd FROM tok GROUP BY w)
       |SELECT CAST(b.decile AS INT) AS decile,
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents d
       |   WHERE d.doc_id <= b.b) AS n_docs,
       |  (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM dt
       |   WHERE dt.doc_id <= b.b) AS n_tokens,
       |  (SELECT CAST(count(*) AS BIGINT) FROM fi
       |   WHERE fi.fd <= b.b) AS vocab
       |FROM b ORDER BY decile""".stripMargin

  val queries: Map[String, Q] = Map(
    "pipeline_e2e" -> pipelineE2e,
    "profile_ks" -> profileKs,
    "sketch_countmin" -> sketchCountmin,
    "text_heaps" -> textHeaps)

  val oracles: Map[String, String] = Map(
    "pipeline_e2e" -> pipelineE2eOracle,
    "profile_ks" -> profileKsOracle,
    "sketch_countmin" -> sketchCountminOracle,
    "text_heaps" -> textHeapsOracle)
}
