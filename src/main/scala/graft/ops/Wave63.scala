package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 63: systematic sampling + recency weighting — every
  * k-th document in a deterministic global order (the survey-sampling
  * design that guarantees even coverage where Bernoulli sampling
  * clumps), and binary half-life decay scores (the recency-weighted
  * engagement metric, computed in EXACT integers via power-of-two
  * decay so distributed summation is order-free).
  */
object Wave63 {

  // ---- sample_systematic: every k-th in hash order --------------------

  /** Systematic 1-in-20 sample: documents ordered by (md5(text), doc_id)
    * — a deterministic shuffle, so the stride hits an arbitrary-but-
    * fixed permutation — and every 20th rank survives. The global rank
    * comes from Ranks.perGroupRank with an EMPTY group (range partition
    * + broadcast offsets — the global row-number without a
    * single-partition window). Reports the per-source sample: count,
    * doc-id checksum (pins WHICH rows), and exact 20x-expansion error
    * vs the source's true size. */
  private val sampleSystematic: Q = (s, dir) => {
    val parts = ConfScope.shufflePartitions(s)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), md5(col("text").cast("binary")).as("h"))
    val ranked = Ranks.perGroupRank(d, Seq.empty,
      Seq(col("h"), col("doc_id")), rankCol = "rk", nCol = "nn",
      partitions = parts)
    val src = Tables.load(s, dir, "documents").groupBy("source")
      .agg(count(lit(1)).as("n_total"))
    ranked.filter(pmod(col("rk"), lit(20)) === 1)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"), sum("doc_id").as("id_sum"))
      .join(src, "source")
      .withColumn("expansion_err", col("n_sampled") * 20 - col("n_total"))
      .select(col("source"), col("n_sampled"), col("id_sum"),
        col("n_total"), col("expansion_err"))
      .orderBy("source")
  }

  private val sampleSystematicOracle =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (ORDER BY md5(text), doc_id) AS rk
      |  FROM documents),
      |smp AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
      |    CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |  FROM r WHERE rk % 20 = 1 GROUP BY 1),
      |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
      |  FROM documents GROUP BY 1)
      |SELECT source, n_sampled, id_sum, n_total,
      |  n_sampled * 20 - n_total AS expansion_err
      |FROM smp JOIN tot USING (source) ORDER BY source""".stripMargin

  // ---- win_decay_score: binary half-life recency weighting ------------

  /** Recency-weighted user engagement: each event contributes
    * value · 2^(−age/30d) with the age bucketed to whole half-lives
    * (binary decay — the exact-arithmetic form of exponential decay:
    * the contribution is value_cents · 2^(40−k) as a DECIMAL integer,
    * zero past 40 half-lives, so the distributed sum has no float
    * accumulation order to disagree on). Anchor T is the corpus max
    * timestamp (broadcast scalar). Reports the top-10 users by decayed
    * score with exact raw totals alongside — the "who is active NOW"
    * leaderboard vs the all-time one. */
  private val winDecayScore: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        expr("cast(round(value * 100) as long)").as("cents"))
    val anchor = ev.agg(max("sec").as("t0"))
    val scored = ev.crossJoin(broadcast(anchor))
      .withColumn("k", expr("(t0 - sec) div (86400 * 30)"))
      .withColumn("contrib", expr(
        "case when k > 40 then cast(0 as decimal(38,0)) " +
          "else cast(cents as decimal(38,0)) * cast(shiftleft(cast(1 as bigint), cast(40 - k as int)) as decimal(38,0)) end"))
    scored.groupBy("user_id")
      .agg(sum("contrib").as("raw"), count(lit(1)).as("n_events"),
        sum("cents").as("cents_total"))
      .orderBy(desc("raw"), col("user_id"))
      .limit(10)
      .select(col("user_id"), col("n_events"), col("cents_total"),
        expr("cast(raw as string)").as("raw_units"))
  }

  private val winDecayScoreOracle =
    """WITH ev AS (
      |  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |a AS (SELECT MAX(sec) AS t0 FROM ev),
      |sc AS (
      |  SELECT user_id, cents,
      |    (t0 - sec) // (86400 * 30) AS k
      |  FROM ev, a),
      |g AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN k > 40 THEN 0
      |        ELSE cents * CAST((1::BIGINT << CAST(40 - k AS INT)) AS HUGEINT) END) AS raw,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(SUM(cents) AS BIGINT) AS cents_total
      |  FROM sc GROUP BY 1)
      |SELECT user_id, n_events, cents_total,
      |  CAST(raw AS VARCHAR) AS raw_units
      |FROM g ORDER BY raw DESC, user_id LIMIT 10""".stripMargin

  val queries: Map[String, Q] = Map(
    "sample_systematic" -> sampleSystematic,
    "win_decay_score" -> winDecayScore
  )

  val oracles: Map[String, String] = Map(
    "sample_systematic" -> sampleSystematicOracle,
    "win_decay_score" -> winDecayScoreOracle
  )
}
