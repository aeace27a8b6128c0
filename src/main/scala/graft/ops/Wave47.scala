package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 47: link analysis, temporal overlap, and code
  * detection — HITS hubs/authorities over the customer↔supplier
  * purchase graph (exact-integer supersteps, bit-identical across
  * engines), an interval×interval overlap join banded on the calendar
  * week (never all-pairs), and code-document detection by symbol
  * density + keyword hits (the corpus-curation split every LLM data
  * pipeline needs).
  */
object Wave47 {

  private def d38(c: Column) = c.cast(DecimalType(38, 0))

  private val HitsIters = 8

  // ---- graph_hits: hubs & authorities ------------------------------

  /** HITS over the bipartite customer→supplier edge list (orders ⋈
    * lineitem, aggregated once to distinct weighted edges — the only
    * data-sized work). 8 supersteps of authority = Σ w·hub,
    * hub = Σ w·authority, each half-step truncated, norm-quantized to
    * nano-unit longs with identical IEEE ops on both engines.
    *
    * Scale shape: hub/authority vectors are ENTITY-sized (one row per
    * customer/supplier — billions at 100 TB), so they are NEVER
    * broadcast. Instead the edge aggregate is CACHED TWICE, hash-
    * partitioned by each join side (`InMemoryTableScan` reports the
    * cached exchange's partitioning), and every half-step is a
    * co-partitioned `SHUFFLE_HASH` join that builds on the VECTOR
    * side: the edge layout is read in place with no exchange and no
    * sort across all 16 half-steps; only the narrow vector shuffles.
    * (Hint, not `broadcast()`: a shuffled hash build holds 1/numPartitions
    * of the vector per task — scale-free — where a broadcast holds ALL
    * of it on every executor and the driver.)
    * Output: every customer hub score and supplier authority score. */
  private val graphHits: Q = (s, dir) =>
    hits(Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
      .agg(count(lit(1)).as("w")))

  /** The HITS kernel over a weighted bipartite edge list (c, p, w): the
    * edge aggregate is the loop input of
    * [[graft.engine.ConfScope.superstepOver]], and the 16 half-step pins
    * are tiny fixed-shape jobs in its superstep scope. Nothing there
    * needs runtime re-planning: joins are hint-pinned SHUFFLE_HASH and
    * partitioning is explicit. */
  private[graft] def hits(edges: DataFrame): DataFrame =
    graft.engine.ConfScope.superstepOver(edges) { (edges0, _, superParts) =>
      graphHitsBody(edges0, superParts)
    }

  private def graphHitsBody(edges0: DataFrame, superParts: Int): DataFrame = {
    // lazy cache build: each layout materializes inside its first
    // half-step join job (the partitioning is plan-level, so the SHJ
    // recognizes it either way) — two fewer scheduler round-trips
    val edgesByC = edges0.repartition(superParts, col("c")).persist()
    val edgesByP = edges0.repartition(superParts, col("p")).persist()
    try {
      // Long fast path for the 16 half-step aggregates, DATA-DERIVED:
      // |Σ w·v| per node ≤ strengthMax · 1e9 (scores are nano-unit, so
      // |v| ≤ 1e9 by normalization), so when the max node strength keeps
      // that bound under 2^62 the decimal(38) accumulators — whose only
      // job is overflow headroom — are provably unnecessary and the sums
      // run on codegen'd longs (~2× per half-step locally). A pathological
      // fixture falls back to the decimal path, and ANSI mode (session
      // default) would throw loudly rather than wrap even if this bound
      // were ever wrong. Values are bit-identical on both paths.
      val strengthMax = edges0.groupBy("p").agg(sum("w").as("sw")).select("sw")
        .unionByName(edges0.groupBy("c").agg(sum("w").as("sw")).select("sw"))
        .agg(max("sw")).head.getLong(0)
      val longSafe = strengthMax <= (Long.MaxValue >> 1) / 1000000000L
      def wTimes(v: Column): Column =
        if (longSafe) sum(col("w") * v) else sum(d38(col("w")) * v)
      def normQ(df: DataFrame, key: String, raw: String): DataFrame = {
        // pin the RAW scores (the data-sized edge join runs once) with the
        // squared norm riding the SAME job as an observed metric
        // (CollectMetrics): r8 ran a separate n2 aggregation job + a 1-row
        // broadcast per half-step — 16 extra scheduler round-trips across
        // the run; the observation is ONE scalar (scale-free) and the
        // quantized division derives narrowly from the pinned table.
        // q ≤ strengthMax·1e6 on the long path (raw div 1000), under 2^53
        // by the longSafe bound, so the double cast below is exact either
        // way; q² always accumulates in decimal (it exceeds long range)
        val q = df.withColumn("q",
          if (longSafe) signum(col(raw)).cast("long") * expr(s"abs($raw) div 1000")
          else signum(col(raw)).cast(DecimalType(38, 0)) * expr(s"abs($raw) div 1000"))
        val pinned = graft.engine.ConfScope.pin(q,
          sum(d38(col("q")) * d38(col("q"))).as("n2"))
        // same arithmetic as the former n2-column path: decimal -> double
        // cast, then identical IEEE sqrt/divide/floor
        val n2 = lit(pinned.metrics("n2")).cast("double")
        pinned.df.select(col(key),
          floor(col("q").cast("double") * 1e9 / sqrt(n2) + 0.5)
            .cast("long").as("v"))
      }
      var h = graft.engine.ConfScope.pin(edgesByC.select(col("c")).distinct()
        .withColumn("v", lit(1000000000L))).df
      var a: DataFrame = null
      for (_ <- 1 to HitsIters) {
        val araw = edgesByC
          .join(h.withColumnRenamed("v", "hv").hint("shuffle_hash"), Seq("c"))
          .groupBy("p").agg(wTimes(col("hv")).as("raw"))
        a = normQ(araw, "p", "raw")
        val hraw = edgesByP
          .join(a.withColumnRenamed("v", "av").hint("shuffle_hash"), Seq("p"))
          .groupBy("c").agg(wTimes(col("av")).as("raw"))
        h = normQ(hraw, "c", "raw")
      }
      h.select(lit("hub").as("side"), col("c").as("id"),
          (col("v").cast("double") / 1e9).as("score"))
        .unionByName(a.select(lit("authority").as("side"), col("p").as("id"),
          (col("v").cast("double") / 1e9).as("score")))
        .orderBy("side", "id")
    } finally { edgesByC.unpersist(false); edgesByP.unpersist(false) }
  }

  private val graphHitsOracle: String = {
    val steps = (1 to HitsIters).map { k =>
      val ph = if (k == 1) "h0" else s"h${k - 1}"
      s"""ar$k AS MATERIALIZED (
         |  SELECT e.p, SUM(CAST(e.w AS HUGEINT) * h.v) AS raw
         |  FROM edges e JOIN $ph h ON e.c = h.c GROUP BY e.p),
         |aq$k AS MATERIALIZED (
         |  SELECT p, CASE WHEN raw < 0 THEN -1 ELSE 1 END * (abs(raw) // 1000) AS q
         |  FROM ar$k),
         |an$k AS MATERIALIZED (SELECT SUM(q * q) AS n2 FROM aq$k),
         |a$k AS MATERIALIZED (
         |  SELECT p, CAST(FLOOR(CAST(q AS DOUBLE) * 1e9 / sqrt(CAST(n2 AS DOUBLE)) + 0.5)
         |    AS BIGINT) AS v
         |  FROM aq$k, an$k),
         |hr$k AS MATERIALIZED (
         |  SELECT e.c, SUM(CAST(e.w AS HUGEINT) * a.v) AS raw
         |  FROM edges e JOIN a$k a ON e.p = a.p GROUP BY e.c),
         |hq$k AS MATERIALIZED (
         |  SELECT c, CASE WHEN raw < 0 THEN -1 ELSE 1 END * (abs(raw) // 1000) AS q
         |  FROM hr$k),
         |hn$k AS MATERIALIZED (SELECT SUM(q * q) AS n2 FROM hq$k),
         |h$k AS MATERIALIZED (
         |  SELECT c, CAST(FLOOR(CAST(q AS DOUBLE) * 1e9 / sqrt(CAST(n2 AS DOUBLE)) + 0.5)
         |    AS BIGINT) AS v
         |  FROM hq$k, hn$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT o_custkey AS c, l_suppkey AS p, CAST(count(*) AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       |h0 AS (SELECT DISTINCT c, CAST(1000000000 AS BIGINT) AS v FROM edges),
       |$steps
       |SELECT 'hub' AS side, c AS id, CAST(v AS DOUBLE) / 1e9 AS score FROM h$HitsIters
       |UNION ALL
       |SELECT 'authority', p, CAST(v AS DOUBLE) / 1e9 FROM a$HitsIters
       |ORDER BY side, id""".stripMargin
  }

  // ---- join_interval_overlap: banded interval-interval join ----------

  /** Interval×interval overlap: each user's daily activity span
    * [first, last] against each event type's weekly span, joined on
    * the calendar week — the band key makes the join an equi-join
    * (days nest in weeks), never all-pairs. Overlap arithmetic is
    * exact epoch-second integers. Reports, per event type, how many
    * user-days overlap its weekly window and the total/max overlap —
    * the "who was active while the campaign ran" read. */
  private val joinIntervalOverlap: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
    val userDay = ev
      .groupBy(col("user_id"), floor(col("sec") / 86400L).cast("long").as("day"))
      .agg(min("sec").as("a_start"), max("sec").as("a_end"))
      .withColumn("wk", expr("day div 7"))
    val typeWeek = ev
      .groupBy(col("event_type"),
        expr("floor(sec / 86400) div 7").cast("long").as("wk"))
      .agg(min("sec").as("b_start"), max("sec").as("b_end"))
    userDay.join(typeWeek, "wk")
      .withColumn("ov",
        greatest(least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start")), lit(0L)))
      .filter(col("ov") > 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"), sum("ov").as("total_overlap_s"),
        max("ov").as("max_overlap_s"))
      .orderBy("event_type")
  }

  private val joinIntervalOverlapOracle =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |ud AS (
      |  SELECT user_id, CAST(FLOOR(sec / 86400) AS BIGINT) AS day,
      |    MIN(sec) AS a_start, MAX(sec) AS a_end
      |  FROM ev GROUP BY 1, 2),
      |ud2 AS (SELECT *, day // 7 AS wk FROM ud),
      |tw AS (
      |  SELECT event_type, CAST(FLOOR(sec / 86400) AS BIGINT) // 7 AS wk,
      |    MIN(sec) AS b_start, MAX(sec) AS b_end
      |  FROM ev GROUP BY 1, 2),
      |j AS (
      |  SELECT event_type,
      |    greatest(least(a_end, b_end) - greatest(a_start, b_start), 0) AS ov
      |  FROM ud2 JOIN tw USING (wk))
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(ov) AS BIGINT) AS total_overlap_s,
      |  CAST(MAX(ov) AS BIGINT) AS max_overlap_s
      |FROM j WHERE ov > 0 GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- text_code_detect: code-document split -------------------------

  /** Code detection per document: density of code punctuation
    * ({}();=<>[]) and programming-keyword token hits; is_code when the
    * symbol density clears 2% AND at least two keyword tokens appear.
    * Pure narrow map + orderBy; the standard natural-language/code
    * corpus split. */
  private val textCodeDetect: Q = (s, dir) => {
    val kw = Seq("def", "class", "import", "return", "function", "var",
      "int", "void", "if", "else")
    val nChars = length(col("text")).cast("bigint")
    val nSym = (nChars - length(regexp_replace(col("text"), "[{}();=<>\\[\\]]", "")))
      .cast("bigint")
    val hits = size(array_intersect(
      array_distinct(LlmPipeline.tokens(col("text"))), typedLit(kw))).cast("bigint")
    Tables.load(s, dir, "documents")
      .filter(nChars > 0)
      .select(col("doc_id"), nChars.as("n_chars"), nSym.as("n_sym"),
        hits.as("kw_hits"),
        (floor(nSym.cast("double") / nChars.cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6).as("sym_ratio"),
        (nSym.cast("double") * 50.0 > nChars.cast("double") && hits >= 2L)
          .as("is_code"))
      .orderBy("doc_id")
  }

  private val textCodeDetectOracle =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
       |    CAST(LENGTH(text) -
       |      LENGTH(regexp_replace(text, '[{}();=<>\\[\\]]', '', 'g')) AS BIGINT) AS n_sym,
       |    CAST(len(list_intersect(list_distinct(${LlmPipeline.duckTokens}),
       |      ['def','class','import','return','function','var','int','void','if','else']))
       |      AS BIGINT) AS kw_hits
       |  FROM documents WHERE LENGTH(text) > 0)
       |SELECT doc_id, n_chars, n_sym, kw_hits,
       |  CAST(FLOOR(CAST(n_sym AS DOUBLE) / n_chars * 1e6 + 0.5) AS DOUBLE) / 1e6
       |    AS sym_ratio,
       |  CAST(n_sym AS DOUBLE) * 50.0 > n_chars AND kw_hits >= 2 AS is_code
       |FROM d ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "graph_hits" -> graphHits,
    "join_interval_overlap" -> joinIntervalOverlap,
    "text_code_detect" -> textCodeDetect
  )

  val oracles: Map[String, String] = Map(
    "graph_hits" -> graphHitsOracle,
    "join_interval_overlap" -> joinIntervalOverlapOracle,
    "text_code_detect" -> textCodeDetectOracle
  )
}
