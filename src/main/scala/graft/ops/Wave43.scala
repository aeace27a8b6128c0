package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 43: experiment design + curation statistics —
  * difference-in-differences (the panel-data causal read), a power /
  * sample-size calculator (how much traffic the next test needs),
  * Neyman-optimal stratified allocation (where to spend a labeling
  * budget), and per-term burstiness (topical vs function words by
  * variance-to-mean ratio).
  */
object Wave43 {

  private def d38(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))

  // ---- events_did: difference-in-differences ------------------------

  /** Panel DiD: per user, value sums before/after the mid-point day;
    * arms from the portable md5 split. The estimator is the mean of
    * the per-user (post − pre) diff in the treatment arm minus the
    * control arm, with Welch SE from exact per-arm moments (Σd, Σd²
    * as DECIMAL(38,0) micro-units — no float accumulation). One
    * user-level aggregate, one 2-row arm aggregate. */
  private val eventsDid: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("user_id"),
      floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
    val split = ev.agg(((min("day") + max("day")) / 2).cast("long").as("mid"))
    val arm = pmod(Hashing.md5Long(
      concat(col("user_id").cast("string"), lit(":ab")).cast("binary")), lit(2))
    val users = ev.crossJoin(broadcast(split))
      .groupBy("user_id")
      .agg((sum(when(col("day") > col("mid"), col("v")).otherwise(0L)) -
        sum(when(col("day") <= col("mid"), col("v")).otherwise(0L))).as("dv"))
      .select(arm.as("arm"), col("dv"))
    val arms = users.groupBy("arm").agg(
      count(lit(1)).as("n"), sum("dv").as("sd"),
      sum(d38(col("dv")) * col("dv")).as("sdd"))
    def dbl(c: String) = col(c).cast("double")
    val tr = arms.filter(col("arm") === 1)
      .select(col("n").as("n_t"), col("sd").as("sd_t"), col("sdd").as("sdd_t"))
    val ct = arms.filter(col("arm") === 0)
      .select(col("n").as("n_c"), col("sd").as("sd_c"), col("sdd").as("sdd_c"))
    tr.crossJoin(ct)
      .withColumn("mt", dbl("sd_t") / dbl("n_t"))
      .withColumn("mc", dbl("sd_c") / dbl("n_c"))
      .withColumn("vt",
        (dbl("sdd_t") - dbl("sd_t") * dbl("sd_t") / dbl("n_t")) / (dbl("n_t") - 1.0))
      .withColumn("vc",
        (dbl("sdd_c") - dbl("sd_c") * dbl("sd_c") / dbl("n_c")) / (dbl("n_c") - 1.0))
      .withColumn("se", sqrt(col("vt") / dbl("n_t") + col("vc") / dbl("n_c")))
      .select(col("n_t"), col("n_c"),
        round((col("mt") - col("mc")) / 1e6, 6).as("did"),
        round(col("se") / 1e6, 6).as("se"),
        round((col("mt") - col("mc")) / col("se"), 6).as("t_stat"))
  }

  private val eventsDidOracle =
    """WITH ev AS (
      |  SELECT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |sp AS (SELECT CAST((MIN(day) + MAX(day)) // 2 AS BIGINT) AS mid FROM ev),
      |users AS (
      |  SELECT CAST(concat('0x', substr(md5(user_id || ':ab'), 1, 15)) AS BIGINT) % 2 AS arm,
      |    CAST(SUM(CASE WHEN day > mid THEN v ELSE 0 END)
      |      - SUM(CASE WHEN day <= mid THEN v ELSE 0 END) AS BIGINT) AS dv
      |  FROM ev, sp GROUP BY user_id, 1),
      |arms AS (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(SUM(dv) AS BIGINT) AS sd,
      |    SUM(CAST(dv AS HUGEINT) * dv) AS sdd
      |  FROM users GROUP BY 1),
      |ab AS (
      |  SELECT
      |    (SELECT n FROM arms WHERE arm = 1) AS n_t,
      |    (SELECT sd FROM arms WHERE arm = 1) AS sd_t,
      |    (SELECT sdd FROM arms WHERE arm = 1) AS sdd_t,
      |    (SELECT n FROM arms WHERE arm = 0) AS n_c,
      |    (SELECT sd FROM arms WHERE arm = 0) AS sd_c,
      |    (SELECT sdd FROM arms WHERE arm = 0) AS sdd_c),
      |calc AS (
      |  SELECT n_t, n_c,
      |    CAST(sd_t AS DOUBLE) / n_t AS mt, CAST(sd_c AS DOUBLE) / n_c AS mc,
      |    (CAST(sdd_t AS DOUBLE) - CAST(sd_t AS DOUBLE) * CAST(sd_t AS DOUBLE) / n_t)
      |      / (n_t - 1.0) AS vt,
      |    (CAST(sdd_c AS DOUBLE) - CAST(sd_c AS DOUBLE) * CAST(sd_c AS DOUBLE) / n_c)
      |      / (n_c - 1.0) AS vc
      |  FROM ab),
      |c2 AS (SELECT *, sqrt(vt / n_t + vc / n_c) AS se FROM calc)
      |SELECT n_t, n_c,
      |  round((mt - mc) / 1e6, 6) AS did,
      |  round(se / 1e6, 6) AS se,
      |  round((mt - mc) / se, 6) AS t_stat
      |FROM c2""".stripMargin

  // ---- events_power: sample-size / MDE calculator --------------------

  /** Two-sample power calculation per event type: from the exact
    * pooled variance of `value`, the users-per-arm needed to detect a
    * 5%-of-mean lift at α = 0.05 (z = 1.959964) with 80% power
    * (z = 0.841621): n = 2σ²(z_α + z_β)²/Δ². One aggregate; the rest
    * is closed-form arithmetic on a #types-sized table. */
  private val eventsPower: Q = (s, dir) => {
    val m = Tables.load(s, dir, "events")
      .select(col("event_type"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(d38(col("v")) * col("v")).as("svv"))
    def dbl(c: String) = col(c).cast("double")
    m.withColumn("mean", dbl("sv") / dbl("n") / 1e6)
      .withColumn("variance",
        (dbl("svv") - dbl("sv") * dbl("sv") / dbl("n")) / (dbl("n") - 1.0) / 1e12)
      .withColumn("mde", col("mean") * 0.05)
      .withColumn("n_per_arm",
        ceil(lit(2.0) * col("variance") *
          math.pow(1.959964 + 0.841621, 2) /
          (col("mde") * col("mde"))).cast("long"))
      .select(col("event_type"), col("n"),
        round(col("mean"), 6).as("mean"),
        round(sqrt(col("variance")), 6).as("sd"),
        round(col("mde"), 6).as("mde"),
        col("n_per_arm"))
      .orderBy("event_type")
  }

  private val eventsPowerOracle =
    """WITH m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sv,
      |    SUM(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS HUGEINT)
      |      * CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS svv
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT event_type, n,
      |    CAST(sv AS DOUBLE) / n / 1e6 AS mean,
      |    (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
      |      / (n - 1.0) / 1e12 AS variance
      |  FROM m),
      |c2 AS (SELECT *, mean * 0.05 AS mde FROM c)
      |SELECT event_type, n, round(mean, 6) AS mean,
      |  round(sqrt(variance), 6) AS sd, round(mde, 6) AS mde,
      |  CAST(CEIL(2.0 * variance * power(1.959964 + 0.841621, 2) / (mde * mde))
      |    AS BIGINT) AS n_per_arm
      |FROM c2 ORDER BY event_type""".stripMargin

  // ---- sample_neyman: optimal stratified allocation ------------------

  /** Neyman allocation of a 1000-row sample over (lang, source)
    * strata, proportional to N_h·σ_h of n_chars (population sd, exact
    * integer moments): the allocation that minimizes the variance of
    * the stratified mean at fixed budget. Allocations floor(x + 0.5)
    * and cap at N_h. One stratum aggregate + a broadcast scalar. */
  private val sampleNeyman: Q = (s, dir) => {
    val m = Tables.load(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_h"), sum("n_chars").as("sx"),
        sum(d38(col("n_chars")) * col("n_chars")).as("sxx"))
    def dbl(c: String) = col(c).cast("double")
    val wgt = m
      .withColumn("sd_h", sqrt(
        (dbl("sxx") - dbl("sx") * dbl("sx") / dbl("n_h")) / dbl("n_h")))
      .withColumn("w", dbl("n_h") * col("sd_h"))
    val tot = wgt.agg(sum("w").as("wt"))
    wgt.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_h"),
        round(col("sd_h"), 6).as("sd_h"),
        least(floor(lit(1000.0) * col("w") / col("wt") + 0.5).cast("long"),
          col("n_h")).as("alloc"))
      .orderBy("lang", "source")
  }

  private val sampleNeymanOracle =
    """WITH m AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_h,
      |    CAST(SUM(n_chars) AS BIGINT) AS sx,
      |    SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
      |  FROM documents GROUP BY 1, 2),
      |w AS (
      |  SELECT lang, source, n_h,
      |    sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_h)
      |      / n_h) AS sd_h
      |  FROM m),
      |w2 AS (SELECT *, n_h * sd_h AS wgt FROM w),
      |tot AS (SELECT SUM(wgt) AS wt FROM w2)
      |SELECT lang, source, n_h, round(sd_h, 6) AS sd_h,
      |  least(CAST(FLOOR(1000.0 * wgt / wt + 0.5) AS BIGINT), n_h) AS alloc
      |FROM w2, tot ORDER BY lang, source""".stripMargin

  // ---- text_burstiness: variance-to-mean per term --------------------

  /** Term burstiness: for the 20 highest-total-count tokens, the Fano
    * factor (variance-to-mean over ALL docs, zeros included — from
    * Σc, Σc² and the doc count, no per-doc-zero materialization) and
    * the within-document burst (mean count per containing doc).
    * Function words hover near VMR ≈ 1 (Poisson); topical terms
    * burst. Per-(token, doc) counts are the only data-sized pass. */
  private val textBurstiness: Q = (s, dir) => {
    val toks = LlmPipeline.tokens(col("text"))
    val docs = Tables.load(s, dir, "documents")
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = docs.select(col("doc_id"), explode(toks).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
    def dbl(c: String) = col(c).cast("double")
    perDoc.groupBy("w")
      .agg(count(lit(1)).as("df"), sum("c").as("tc"),
        sum(d38(col("c")) * col("c")).as("tcc"))
      .crossJoin(broadcast(nd))
      .withColumn("mu", dbl("tc") / dbl("n_docs"))
      .withColumn("vmr",
        ((dbl("tcc") / dbl("n_docs") - col("mu") * col("mu")) *
          (dbl("n_docs") / (dbl("n_docs") - 1.0))) / col("mu"))
      .select(col("w"), col("df"), col("tc"),
        round(col("vmr"), 6).as("vmr"),
        round(dbl("tc") / dbl("df"), 6).as("burst"))
      .orderBy(desc("tc"), col("w"))
      .limit(20)
  }

  private val textBurstinessOracle =
    s"""WITH d AS (SELECT doc_id, ${LlmPipeline.duckTokens} AS toks FROM documents),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
       |pd AS (
       |  SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS w FROM d) GROUP BY 1, 2),
       |st AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS df, CAST(SUM(c) AS BIGINT) AS tc,
       |    SUM(CAST(c AS HUGEINT) * c) AS tcc
       |  FROM pd GROUP BY 1),
       |c2 AS (
       |  SELECT w, df, tc, n_docs,
       |    CAST(tc AS DOUBLE) / n_docs AS mu,
       |    CAST(tcc AS DOUBLE) / n_docs AS m2
       |  FROM st, nd)
       |SELECT w, df, tc,
       |  round(((m2 - mu * mu) * (CAST(n_docs AS DOUBLE) / (n_docs - 1.0))) / mu, 6)
       |    AS vmr,
       |  round(CAST(tc AS DOUBLE) / df, 6) AS burst
       |FROM c2 ORDER BY tc DESC, w LIMIT 20""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_did" -> eventsDid,
    "events_power" -> eventsPower,
    "sample_neyman" -> sampleNeyman,
    "text_burstiness" -> textBurstiness
  )

  val oracles: Map[String, String] = Map(
    "events_did" -> eventsDidOracle,
    "events_power" -> eventsPowerOracle,
    "sample_neyman" -> sampleNeymanOracle,
    "text_burstiness" -> textBurstinessOracle
  )
}
