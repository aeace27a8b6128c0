package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 67: honest proportions + FDR control — Wilson score
  * intervals for adoption rates (the interval that stays inside [0,1]
  * and behaves at small n, unlike the Wald interval dashboards
  * mis-ship), and Benjamini–Hochberg step-up FDR adjustment over the
  * per-type A/B tests (Holm controls family-wise error; BH controls
  * the false-discovery RATE — the right guarantee when many metrics
  * move at once).
  */
object Wave67 {

  // ---- events_wilson_ci: adoption-rate Wilson intervals ---------------

  /** Per event type: the share of ALL users who ever did it, with the
    * 95% Wilson score interval. k and n are exact integer counts (one
    * distinct per type + one global distinct, broadcast); the interval
    * arithmetic is the same IEEE expression in both engines over those
    * integers, rounded to 6dp. */
  private val eventsWilsonCi: Q = (s, dir) => {
    val z = 1.959963984540054 // Phi^-1(0.975)
    val adopters = Tables.load(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type").agg(count(lit(1)).as("k"))
    val users = Tables.load(s, dir, "events")
      .agg(countDistinct("user_id").as("n"))
    adopters.crossJoin(broadcast(users))
      .withColumn("ph", col("k").cast("double") / col("n").cast("double"))
      .withColumn("z2n", lit(z * z) / col("n").cast("double"))
      .withColumn("center",
        (col("ph") + col("z2n") / 2.0) / (col("z2n") + 1.0))
      .withColumn("hw",
        lit(z) / (col("z2n") + 1.0) *
          sqrt(col("ph") * (lit(1.0) - col("ph")) / col("n").cast("double") +
            col("z2n") / (col("n").cast("double") * 4.0)))
      .select(col("event_type"), col("k"), col("n"),
        round(col("ph"), 6).as("p_hat"),
        round(col("center") - col("hw"), 6).as("wilson_lo"),
        round(col("center") + col("hw"), 6).as("wilson_hi"))
      .orderBy("event_type")
  }

  private val eventsWilsonCiOracle =
    """WITH a AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS k
      |  FROM (SELECT DISTINCT event_type, user_id FROM events) GROUP BY 1),
      |u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
      |c AS (
      |  SELECT event_type, k, n,
      |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
      |    (1.959963984540054 * 1.959963984540054) / CAST(n AS DOUBLE) AS z2n
      |  FROM a, u)
      |SELECT event_type, k, n, round(ph, 6) AS p_hat,
      |  round((ph + z2n / 2.0) / (z2n + 1.0)
      |    - 1.959963984540054 / (z2n + 1.0) *
      |      sqrt(ph * (1.0 - ph) / CAST(n AS DOUBLE)
      |        + z2n / (CAST(n AS DOUBLE) * 4.0)), 6) AS wilson_lo,
      |  round((ph + z2n / 2.0) / (z2n + 1.0)
      |    + 1.959963984540054 / (z2n + 1.0) *
      |      sqrt(ph * (1.0 - ph) / CAST(n AS DOUBLE)
      |        + z2n / (CAST(n AS DOUBLE) * 4.0)), 6) AS wilson_hi
      |FROM c ORDER BY event_type""".stripMargin

  // ---- events_bh_fdr: Benjamini-Hochberg step-up ----------------------

  /** BH false-discovery-rate adjustment over the same per-type A/B
    * z-tests events_holm runs (exact DECIMAL moments → IEEE z → the
    * A&S 26.2.17 tail polynomial — identical steps in both engines):
    * p_bh(i) = min_{j ≥ i} (m·p_(j)/j), discovery at q = 0.10. The
    * rank/min windows run on the #types-sized test table — model-
    * sized by construction. */
  private val eventsBhFdr: Q = (s, dir) => {
    val arm = pmod(Hashing.md5Long(
      concat(col("user_id").cast("string"), lit(":ab")).cast("binary")), lit(2))
    def d38(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val cells = Tables.load(s, dir, "events")
      .select(col("event_type"), arm.as("arm"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
      .groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(d38(col("v")) * col("v")).as("svv"))
    def dbl(c: String) = col(c).cast("double")
    val a = cells.filter(col("arm") === 1).select(col("event_type"),
      col("n").as("n_t"), col("sv").as("sv_t"), col("svv").as("svv_t"))
    val b = cells.filter(col("arm") === 0).select(col("event_type").as("et_c"),
      col("n").as("n_c"), col("sv").as("sv_c"), col("svv").as("svv_c"))
    val tests = a.join(b, col("event_type") === col("et_c"))
      .withColumn("mt", dbl("sv_t") / dbl("n_t"))
      .withColumn("mc", dbl("sv_c") / dbl("n_c"))
      .withColumn("vt",
        (dbl("svv_t") - dbl("sv_t") * dbl("sv_t") / dbl("n_t")) / (dbl("n_t") - 1.0))
      .withColumn("vc",
        (dbl("svv_c") - dbl("sv_c") * dbl("sv_c") / dbl("n_c")) / (dbl("n_c") - 1.0))
      .withColumn("z",
        (col("mt") - col("mc")) /
          sqrt(col("vt") / dbl("n_t") + col("vc") / dbl("n_c")))
      .withColumn("az", abs(col("z")))
      .withColumn("kk", lit(1.0) / (lit(1.0) + col("az") * 0.2316419))
      .withColumn("poly",
        col("kk") * (lit(0.319381530) + col("kk") * (lit(-0.356563782) +
          col("kk") * (lit(1.781477937) + col("kk") * (lit(-1.821255978) +
            col("kk") * 1.330274429)))))
      .withColumn("p",
        exp(col("az") * col("az") * -0.5) / math.sqrt(2.0 * math.Pi) *
          col("poly") * 2.0)
    val w = Window.orderBy("p", "event_type")
    val wAll = Window.partitionBy(lit(0))
    val wDesc = Window.orderBy(desc("p"), desc("event_type"))
    tests
      .withColumn("m", count(lit(1)).over(wAll).cast("double"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("p_bh",
        least(lit(1.0),
          min(col("m") * col("p") / col("rk").cast("double"))
            .over(wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .select(col("event_type"), col("n_t"), col("n_c"),
        round(col("z"), 6).as("z"), round(col("p"), 6).as("p"),
        round(col("p_bh"), 6).as("p_bh"),
        (col("p_bh") <= 0.10).as("discovery"))
      .orderBy("event_type")
  }

  private val eventsBhFdrOracle =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(concat('0x', substr(md5(user_id || ':ab'), 1, 15)) AS BIGINT) % 2 AS arm,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |cells AS (
      |  SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(v) AS BIGINT) AS sv, SUM(v::HUGEINT * v) AS svv
      |  FROM ev GROUP BY 1, 2),
      |j AS (
      |  SELECT a.event_type,
      |    a.n AS n_t, a.sv AS sv_t, a.svv AS svv_t,
      |    b.n AS n_c, b.sv AS sv_c, b.svv AS svv_c
      |  FROM cells a JOIN cells b
      |    ON a.event_type = b.event_type AND a.arm = 1 AND b.arm = 0),
      |tz AS (
      |  SELECT event_type, n_t, n_c,
      |    (CAST(sv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
      |      - CAST(sv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) /
      |    sqrt(((CAST(svv_t AS DOUBLE) - CAST(sv_t AS DOUBLE) * CAST(sv_t AS DOUBLE) / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1.0)) / CAST(n_t AS DOUBLE)
      |      + ((CAST(svv_c AS DOUBLE) - CAST(sv_c AS DOUBLE) * CAST(sv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1.0)) / CAST(n_c AS DOUBLE)) AS z
      |  FROM j),
      |pp AS (
      |  SELECT event_type, n_t, n_c, z,
      |    exp(abs(z) * abs(z) * -0.5) / sqrt(2.0 * pi()) *
      |      ((1.0 / (1.0 + abs(z) * 0.2316419)) * (0.319381530
      |        + (1.0 / (1.0 + abs(z) * 0.2316419)) * (-0.356563782
      |        + (1.0 / (1.0 + abs(z) * 0.2316419)) * (1.781477937
      |        + (1.0 / (1.0 + abs(z) * 0.2316419)) * (-1.821255978
      |        + (1.0 / (1.0 + abs(z) * 0.2316419)) * 1.330274429))))) * 2.0 AS p
      |  FROM tz),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY p, event_type) AS r,
      |    CAST(count(*) OVER () AS DOUBLE) AS m
      |  FROM pp),
      |adj AS (
      |  SELECT *, least(1.0,
      |    MIN(m * p / CAST(r AS DOUBLE)) OVER (ORDER BY p DESC, event_type DESC
      |      ROWS UNBOUNDED PRECEDING)) AS p_bh
      |  FROM rk)
      |SELECT event_type, n_t, n_c, round(z, 6) AS z, round(p, 6) AS p,
      |  round(p_bh, 6) AS p_bh, p_bh <= 0.10 AS discovery
      |FROM adj ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_wilson_ci" -> eventsWilsonCi,
    "events_bh_fdr" -> eventsBhFdr
  )

  val oracles: Map[String, String] = Map(
    "events_wilson_ci" -> eventsWilsonCiOracle,
    "events_bh_fdr" -> eventsBhFdrOracle
  )
}
