package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 77: closed-form linear models + tail risk — 2-feature
  * OLS by the exact centered-moments Cramer solve (the linear probe:
  * how much of order value is explained by item count and quantity),
  * and Gumbel extreme-value fitting of daily activity maxima (the
  * return-level read capacity planning runs on peak load).
  */
object Wave77 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- ml_ols_cramer: exact closed-form 2-feature regression -----------

  /** OLS of order total (whole dollars) on (line count, total
    * quantity) per order. Three aggregations over the cached order-
    * level table: means (milli-quantized), CENTERED second moments
    * (exact integers on milli deviations — centering is what keeps
    * every Cramer determinant inside DECIMAL(38) at bench scale), and
    * the residual pass with the micro-quantized coefficients. The 2×2
    * solve is two exact integer rationals (b = Σnum/Σden in natural
    * units — the milli² factors cancel), the intercept is one nano
    * identity, and R² = 1 − SSE/SST is one final rational (micro² vs
    * milli² bookkeeping documented inline). */
  private val mlOlsCramer: Q = (s, dir) => {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey").as("ok"), round(col("o_totalprice")).cast("long").as("y"))
      .join(t(s, dir, "lineitem").groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("x1"), sum(col("l_quantity")).cast("long").as("x2")),
        "ok")
      .select("y", "x1", "x2")
      .localCheckpoint()
    val means = orders.agg(count(lit(1)).as("n"),
        sum("x1").as("sx1"), sum("x2").as("sx2"), sum("y").as("sy"))
      .select(col("n"),
        expr("(2 * sx1 * 1000 + n) div (2 * n)").as("m1"),
        expr("(2 * sx2 * 1000 + n) div (2 * n)").as("m2"),
        expr("(2 * sy * 1000 + n) div (2 * n)").as("my"))
    val cm = orders.crossJoin(broadcast(means))
      .select(col("n"), col("m1"), col("m2"), col("my"),
        (col("x1") * 1000 - col("m1")).as("d1"),
        (col("x2") * 1000 - col("m2")).as("d2"),
        (col("y") * 1000 - col("my")).as("dy"))
      .groupBy("n", "m1", "m2", "my")
      .agg(
        sum(expr("cast(d1 as decimal(38,0)) * d1")).as("s11"),
        sum(expr("cast(d1 as decimal(38,0)) * d2")).as("s12"),
        sum(expr("cast(d2 as decimal(38,0)) * d2")).as("s22"),
        sum(expr("cast(d1 as decimal(38,0)) * dy")).as("s1y"),
        sum(expr("cast(d2 as decimal(38,0)) * dy")).as("s2y"),
        sum(expr("cast(dy as decimal(38,0)) * dy")).as("syy"))
    // the two moment aggregates (means broadcast build + cm) and the
    // 1-row Cramer solve are a fixed shape over the pinned orders table:
    // every exchange carries one partial row per map partition, so the
    // superstep scope at width 1 is the right shape at any
    // scale; the data-sized orders⋈lineitem pass pinned above under
    // session AQE. Arithmetic unchanged.
    val beta = graft.engine.ConfScope.superstep(s) { _ => cm
      .withColumn("det", expr("s11 * s22 - s12 * s12"))
      .withColumn("nb1", expr("s1y * s22 - s2y * s12"))
      .withColumn("nb2", expr("s2y * s11 - s1y * s12"))
      .withColumn("b1m", expr("case when det = 0 then 0 else " +
        "cast(case when nb1 < 0 then -((2 * abs(nb1) * 1000000 + det) div (2 * det)) " +
        "else (2 * abs(nb1) * 1000000 + det) div (2 * det) end as long) end"))
      .withColumn("b2m", expr("case when det = 0 then 0 else " +
        "cast(case when nb2 < 0 then -((2 * abs(nb2) * 1000000 + det) div (2 * det)) " +
        "else (2 * abs(nb2) * 1000000 + det) div (2 * det) end as long) end"))
      // intercept in nano: my_milli*1e6 - b1_micro*m1_milli - b2_micro*m2_milli
      .withColumn("b0n",
        expr("my * 1000000 - b1m * m1 - b2m * m2"))
      .localCheckpoint() }
    orders.crossJoin(broadcast(beta))
      .withColumn("rn",
        expr("y * 1000000000 - b0n - b1m * x1 * 1000 - b2m * x2 * 1000"))
      // sign-magnitude nano->micro (div truncates, // floors: only the
      // magnitude form is engine-identical on negatives)
      .withColumn("rm", expr(
        "cast(sign(rn) as long) * ((2 * abs(rn) + 1000) div 2000)"))
      .groupBy("n", "b0n", "b1m", "b2m", "syy")
      .agg(sum(expr("cast(rm as decimal(38,0)) * rm")).as("sse"))
      .select(col("n"),
        (col("b0n").cast("double") / 1e9).as("b0"),
        (col("b1m").cast("double") / 1e6).as("b1"),
        (col("b2m").cast("double") / 1e6).as("b2"),
        expr("cast(1000000 - (2 * sse + syy) div (2 * syy) as double)")
          .divide(lit(1e6)).as("r2"))
  }

  private val mlOlsCramerOracle =
    """WITH o AS MATERIALIZED (
      |  SELECT CAST(round(o_totalprice) AS BIGINT) AS y, x1, x2
      |  FROM orders JOIN (
      |    SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x1,
      |      CAST(SUM(l_quantity) AS BIGINT) AS x2
      |    FROM lineitem GROUP BY 1) l ON o_orderkey = l_orderkey),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    (2 * SUM(x1)::HUGEINT * 1000 + count(*)) // (2 * count(*)) AS m1,
      |    (2 * SUM(x2)::HUGEINT * 1000 + count(*)) // (2 * count(*)) AS m2,
      |    (2 * SUM(y)::HUGEINT * 1000 + count(*)) // (2 * count(*)) AS my
      |  FROM o),
      |cm AS (
      |  SELECT n, m1, m2, my,
      |    SUM(d1 * d1) AS s11, SUM(d1 * d2) AS s12, SUM(d2 * d2) AS s22,
      |    SUM(d1 * dy) AS s1y, SUM(d2 * dy) AS s2y, SUM(dy * dy) AS syy
      |  FROM (
      |    SELECT n, m1, m2, my,
      |      x1::HUGEINT * 1000 - m1 AS d1, x2::HUGEINT * 1000 - m2 AS d2,
      |      y::HUGEINT * 1000 - my AS dy
      |    FROM o, m)
      |  GROUP BY 1, 2, 3, 4),
      |beta AS (
      |  SELECT n, m1, m2, my, syy,
      |    CASE WHEN det = 0 THEN 0 ELSE
      |      (CASE WHEN nb1 < 0 THEN -1 ELSE 1 END) *
      |      ((2 * abs(nb1) * 1000000 + det) // (2 * det)) END AS b1m,
      |    CASE WHEN det = 0 THEN 0 ELSE
      |      (CASE WHEN nb2 < 0 THEN -1 ELSE 1 END) *
      |      ((2 * abs(nb2) * 1000000 + det) // (2 * det)) END AS b2m
      |  FROM (
      |    SELECT n, m1, m2, my, syy, s11 * s22 - s12 * s12 AS det,
      |      s1y * s22 - s2y * s12 AS nb1, s2y * s11 - s1y * s12 AS nb2
      |    FROM cm)),
      |b AS (SELECT *, my * 1000000 - b1m * m1 - b2m * m2 AS b0n FROM beta),
      |res AS (
      |  SELECT n, b0n, b1m, b2m, syy, SUM(rm * rm) AS sse
      |  FROM (
      |    SELECT n, b0n, b1m, b2m, syy,
      |      CAST(sign(rn) AS HUGEINT) * ((2 * abs(rn) + 1000) // 2000) AS rm
      |    FROM (
      |      SELECT n, b0n, b1m, b2m, syy,
      |        y::HUGEINT * 1000000000 - b0n - b1m * x1 * 1000
      |          - b2m * x2 * 1000 AS rn
      |      FROM o, b))
      |  GROUP BY 1, 2, 3, 4, 5)
      |SELECT n,
      |  CAST(b0n AS DOUBLE) / 1e9 AS b0,
      |  CAST(b1m AS DOUBLE) / 1e6 AS b1,
      |  CAST(b2m AS DOUBLE) / 1e6 AS b2,
      |  CAST(1000000 - (2 * sse + syy) // (2 * syy) AS DOUBLE) / 1e6 AS r2
      |FROM res""".stripMargin

  // ---- profile_extreme_gumbel: block-maxima tail fit --------------------

  /** Gumbel fit of daily peak event value per type by method of
    * moments over the 30 calendar block maxima: exact integer cent
    * maxima and moment sums, sample variance as one micro rational,
    * then σ̂ = s·√6/π, μ̂ = x̄ − γσ̂ and the 99% return level
    * μ̂ + 4.600149226776579·σ̂ — the three extreme-value constants are
    * decimal literals, sqrt is correctly-rounded IEEE on an identical
    * quantized input, so both engines emit the same rounded-6
    * numbers. */
  private val profileExtremeGumbel: Q = (s, dir) => {
    val daily = t(s, dir, "events")
      .select(col("event_type"),
        expr("cast(floor(unix_timestamp(ts) / 86400) as long)").as("day"),
        expr("cast(round(value * 100) as long)").as("c"))
      .groupBy("event_type", "day").agg(max("c").as("mx"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("mx").as("sx"),
        sum(expr("cast(mx as decimal(38,0)) * mx")).as("sxx"))
      .withColumn("mean_micro", expr("(2 * sx * 1000000 + n_days) div (2 * n_days)"))
      .withColumn("s2_micro", expr(
        "(2 * (n_days * sxx - cast(sx as decimal(38,0)) * sx) * 1000000 " +
          "+ n_days * (n_days - 1)) div (2 * n_days * (n_days - 1))"))
      .withColumn("sdev", sqrt(col("s2_micro").cast("double") / 1e6))
      .withColumn("sigma", col("sdev") * lit(0.7796968012336609))
      .withColumn("mu",
        col("mean_micro").cast("double") / 1e6 -
          lit(0.5772156649015329) * col("sigma"))
      .select(col("event_type"), col("n_days"),
        round(col("mean_micro").cast("double") / 1e6, 6).as("max_mean_cents"),
        round(col("sigma"), 6).as("gumbel_scale"),
        round(col("mu"), 6).as("gumbel_loc"),
        round(col("mu") + lit(4.600149226776579) * col("sigma"), 6)
          .as("return_level_p99"))
      .orderBy("event_type")
  }

  private val profileExtremeGumbelOracle =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
      |    MAX(CAST(round(value * 100) AS BIGINT)) AS mx
      |  FROM events GROUP BY 1, 2),
      |agg AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    SUM(mx) AS sx, SUM(mx::HUGEINT * mx) AS sxx
      |  FROM daily GROUP BY 1),
      |q AS (
      |  SELECT event_type, n_days,
      |    (2 * sx::HUGEINT * 1000000 + n_days) // (2 * n_days) AS mean_micro,
      |    (2 * (n_days * sxx - sx::HUGEINT * sx) * 1000000
      |      + n_days * (n_days - 1)) // (2 * n_days * (n_days - 1)) AS s2_micro
      |  FROM agg),
      |f AS (
      |  SELECT event_type, n_days, mean_micro,
      |    sqrt(CAST(s2_micro AS DOUBLE) / 1e6) * 0.7796968012336609 AS sigma
      |  FROM q)
      |SELECT event_type, n_days,
      |  round(CAST(mean_micro AS DOUBLE) / 1e6, 6) AS max_mean_cents,
      |  round(sigma, 6) AS gumbel_scale,
      |  round(CAST(mean_micro AS DOUBLE) / 1e6 - 0.5772156649015329 * sigma, 6)
      |    AS gumbel_loc,
      |  round(CAST(mean_micro AS DOUBLE) / 1e6 - 0.5772156649015329 * sigma
      |    + 4.600149226776579 * sigma, 6) AS return_level_p99
      |FROM f ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "ml_ols_cramer" -> mlOlsCramer,
    "profile_extreme_gumbel" -> profileExtremeGumbel
  )

  val oracles: Map[String, String] = Map(
    "ml_ols_cramer" -> mlOlsCramerOracle,
    "profile_extreme_gumbel" -> profileExtremeGumbelOracle
  )
}
