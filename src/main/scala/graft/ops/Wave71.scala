package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 71: parallel-trends evidence + vocabulary richness —
  * the event-study leads/lags curve (the plot that justifies — or
  * kills — a difference-in-differences readout: treated-minus-control
  * gaps must be flat BEFORE the treatment week), and hapax legomena
  * profiling (the share of words seen exactly once — the vocabulary-
  * richness read that separates generative text from boilerplate).
  */
object Wave71 {

  // ---- events_event_study: leads/lags around the treatment week -------

  /** Event-study curve for the hash-assigned A/B split: per relative
    * week −4..+4 around the treatment week (the row-weighted median
    * event week — one scalar percentile, so both engines cut the same
    * instant), the treated-minus-control gap in mean event value.
    * Exact integer cell sums; the gap is a micro rational with
    * sign-magnitude rounding. The pre-treatment gaps estimate the
    * parallel-trends violation a DiD reader must subtract. */
  private val eventsEventStudy: Q = (s, dir) => {
    val arm = pmod(Hashing.md5Long(
      concat(col("user_id").cast("string"), lit(":ab")).cast("binary")), lit(2))
    val ev = Tables.load(s, dir, "events")
      .select(arm.as("arm"),
        expr("floor(unix_timestamp(ts) / 86400) div 7").cast("long").as("wk"),
        expr("cast(round(value * 100) as long)").as("cents"))
    // ONE data-sized pass (r11): the r10 form scanned events twice — a
    // row-level percentile pass for the treatment week, then the cell
    // aggregate. Both derive from the (wk, arm) weekly table, which is
    // calendar-bounded at any data scale: the treatment week via the
    // EXACT frequency-weighted percentile(wk, 0.5, n) (same counts-map
    // accumulation as the row form — bit-identical), cells by re-summing
    // the weekly partials (long sums, associative — exact).
    val g = ev.groupBy("wk", "arm")
      .agg(count(lit(1)).as("wn"), sum("cents").as("wsc"))
    val mid = g.agg(expr("cast(floor(percentile(wk, 0.5, wn)) as long)").as("w0"))
    val cells = g.crossJoin(broadcast(mid))
      .withColumn("rel", col("wk") - col("w0"))
      .filter(col("rel").between(-4, 4))
      .groupBy("rel", "arm")
      .agg(sum("wn").as("n"), sum("wsc").as("sc"))
    val a = cells.filter(col("arm") === 1)
      .select(col("rel"), col("n").as("n_t"), col("sc").as("sc_t"))
    val b = cells.filter(col("arm") === 0)
      .select(col("rel").as("rel_c"), col("n").as("n_c"), col("sc").as("sc_c"))
    a.join(b, col("rel") === col("rel_c"))
      .withColumn("num",
        expr("cast(sc_t as decimal(38,0)) * n_c - cast(sc_c as decimal(38,0)) * n_t"))
      .withColumn("den", expr("cast(n_t as decimal(38,0)) * n_c"))
      .withColumn("gmag", expr(
        "cast((2 * abs(num) * 10000 + den) div (2 * den) as long)"))
      .withColumn("gap_micro",
        when(col("num") < 0, -col("gmag")).otherwise(col("gmag")))
      .select(col("rel").as("rel_week"), col("n_t"), col("n_c"),
        (col("gap_micro").cast("double") / 1e6).as("gap_dollars"))
      .orderBy("rel_week")
  }

  private val eventsEventStudyOracle =
    """WITH ev AS (
      |  SELECT
      |    CAST(concat('0x', substr(md5(user_id || ':ab'), 1, 15)) AS BIGINT) % 2 AS arm,
      |    CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) // 7 AS wk,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |mid AS (SELECT CAST(FLOOR(quantile_cont(wk, 0.5)) AS BIGINT) AS w0 FROM ev),
      |cells AS (
      |  SELECT wk - w0 AS rel, arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS sc
      |  FROM ev, mid WHERE wk - w0 BETWEEN -4 AND 4
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT a.rel, a.n AS n_t, a.sc AS sc_t, b.n AS n_c, b.sc AS sc_c,
      |    a.sc::HUGEINT * b.n - b.sc::HUGEINT * a.n AS num,
      |    a.n::HUGEINT * b.n AS den
      |  FROM cells a JOIN cells b ON a.rel = b.rel AND a.arm = 1 AND b.arm = 0)
      |SELECT rel AS rel_week, n_t, n_c,
      |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(num) * 10000 + den) // (2 * den)) AS DOUBLE) / 1e6
      |    AS gap_dollars
      |FROM j ORDER BY rel_week""".stripMargin

  // ---- text_hapax: hapax legomena richness per source -----------------

  /** Vocabulary richness per source: vocabulary size, hapax count
    * (terms occurring exactly once WITHIN the source), the hapax share
    * of the vocabulary, and tokens-per-vocab (the inverse richness).
    * Template-generated boilerplate has near-zero hapax share; natural
    * text sits near half — the cheapest generative-vs-boilerplate
    * separator. One (source, term) aggregation; everything after is
    * vocabulary-sized. */
  private val textHapax: Q = (s, dir) => {
    val tf = Tables.load(s, dir, "documents")
      .select(col("source"),
        explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
          x => x =!= "")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    tf.groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum("c").as("tokens"))
      .withColumn("hapax_micro",
        expr("(2 * hapax * 1000000 + vocab) div (2 * vocab)"))
      .withColumn("tok_per_vocab_micro",
        expr("(2 * tokens * 1000000 + vocab) div (2 * vocab)"))
      .select(col("source"), col("vocab"), col("hapax"), col("tokens"),
        (col("hapax_micro").cast("double") / 1e6).as("hapax_share"),
        (col("tok_per_vocab_micro").cast("double") / 1e6).as("tokens_per_vocab"))
      .orderBy("source")
  }

  private val textHapaxOracle =
    s"""WITH tf AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest(${LlmPipeline.duckTokens}) AS w FROM documents)
       |  GROUP BY 1, 2),
       |g AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       |    CAST(SUM(c) AS BIGINT) AS tokens
       |  FROM tf GROUP BY 1)
       |SELECT source, vocab, hapax, tokens,
       |  CAST((2 * hapax * 1000000 + vocab) // (2 * vocab) AS DOUBLE) / 1e6
       |    AS hapax_share,
       |  CAST((2 * tokens * 1000000 + vocab) // (2 * vocab) AS DOUBLE) / 1e6
       |    AS tokens_per_vocab
       |FROM g ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_event_study" -> eventsEventStudy,
    "text_hapax" -> textHapax
  )

  val oracles: Map[String, String] = Map(
    "events_event_study" -> eventsEventStudyOracle,
    "text_hapax" -> textHapaxOracle
  )
}
