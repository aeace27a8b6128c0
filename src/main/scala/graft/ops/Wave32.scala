package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 32: survival analysis (the Kaplan-Meier estimator over
  * user lifetimes with right-censoring) and classical seasonal
  * decomposition of the daily series (trend + day-of-week seasonal +
  * residual) — the two remaining staples of the time-dimension toolkit.
  */
object Wave32 {

  // ---- events_survival: Kaplan-Meier with right-censoring ------------

  /** Kaplan-Meier time-to-first-purchase: per user, hours from the
    * first event to the first purchase (the "event"), right-CENSORED at
    * the user's last observed hour for never-purchasers — the textbook
    * conversion-lifetime estimator, with censoring handled the way a
    * naive conversion-rate query cannot. S(t) = prod over event times
    * <= t of (1 - d_i/n_i), computed as exp(running sum of
    * ln(1-d/n)) — each addend is one rounded float of exact integer
    * counts (the bm25 recipe), the running sum is DECIMAL over the
    * duration table (time-bounded, model-sized), so engines agree
    * bit-for-bit. The at-risk count derives from cumulative counts. */
  private val eventsSurvival: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600).cast("long").as("hr"))
    val life = ev.groupBy("user_id")
      .agg(min("hr").as("t0"), max("hr").as("t_last"),
        min(when(col("event_type") === "purchase", col("hr"))).as("tp"))
      .select(col("user_id"),
        when(col("tp").isNotNull, col("tp") - col("t0"))
          .otherwise(col("t_last") - col("t0")).as("dur"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("event"))
    val totals = life.agg(count(lit(1)).as("n_total"))
    val byDur = life.groupBy("dur")
      .agg(count(lit(1)).as("n_at"), sum("event").as("d"))
    val wCum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    // at-risk at t = everyone whose duration >= t
    byDur
      .crossJoin(broadcast(totals))
      .withColumn("n_before", coalesce(sum("n_at").over(wCum), lit(0L)))
      .withColumn("n_risk", col("n_total") - col("n_before"))
      // ln(1 - d/n) is undefined at the terminal step where everyone
      // remaining churns (d = n_risk): S drops to exactly 0 there —
      // carried by the flag, not the log chain
      .withColumn("addend",
        when(col("d") < col("n_risk"),
          round(log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")), 9))
          .otherwise(lit(0.0)).cast("decimal(28,9)"))
      .withColumn("dead",
        max(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(wRun))
      .withColumn("s_km",
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(exp(sum("addend").over(wRun).cast("double")), 6)))
      .filter(col("d") > 0)
      .select(col("dur"), col("n_risk"), col("d"), col("s_km"))
      .orderBy("dur")
  }

  private val eventsSurvivalOracle =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |    CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr FROM events),
      |life AS (
      |  SELECT user_id,
      |    CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN hr END) IS NOT NULL
      |      THEN MIN(CASE WHEN event_type = 'purchase' THEN hr END) - MIN(hr)
      |      ELSE MAX(hr) - MIN(hr) END AS dur,
      |    CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN hr END) IS NOT NULL
      |      THEN 1 ELSE 0 END AS event
      |  FROM ev GROUP BY user_id),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM life),
      |by_dur AS (
      |  SELECT dur, CAST(count(*) AS BIGINT) AS n_at, CAST(SUM(event) AS BIGINT) AS d
      |  FROM life GROUP BY dur),
      |cum AS (
      |  SELECT *,
      |    (SELECT n_total FROM tot)
      |      - COALESCE(CAST(SUM(n_at) OVER (ORDER BY dur
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |      AS n_risk
      |  FROM by_dur),
      |curve AS (
      |  SELECT *,
      |    CAST(SUM(CAST(CASE WHEN d < n_risk
      |        THEN round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9) ELSE 0.0 END
      |      AS DECIMAL(28,9))) OVER w AS DOUBLE) AS lsum,
      |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w AS dead
      |  FROM cum WINDOW w AS (ORDER BY dur
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT dur, n_risk, d,
      |  CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(lsum), 6) END AS s_km
      |FROM curve WHERE d > 0 ORDER BY dur""".stripMargin

  // ---- timeseries_decompose: trend + weekly seasonal + residual ------

  /** Classical decomposition of the daily total per event type:
    * trend = centered 7-day mean (exact integer floor-division of a
    * 7-day window sum — only full windows), seasonal = the per
    * day-of-week mean of the detrended series (exact floor over
    * integer sums), residual = detrended - seasonal. Reported per
    * type: residual mean-absolute value and the seasonal amplitude —
    * the one-sheet "how much of the series is rhythm vs noise". All
    * arithmetic exact integers until the final rounded divisions;
    * windows run over the model-sized daily table. */
  private val timeseriesDecompose: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .select(col("event_type"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
      .groupBy("event_type", "day").agg(sum("v").as("tot"))
    val w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("n_win", count(lit(1)).over(w7))
      .withColumn("trend", expr("CAST(SUM(tot) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) DIV 7 AS BIGINT)"))
      .filter(col("n_win") === 7)
      .withColumn("detr", col("tot") - col("trend"))
      .withColumn("dow", pmod(col("day"), lit(7)))
    val seasonal = trended.groupBy("event_type", "dow")
      .agg(expr("CAST(SUM(detr) DIV COUNT(1) AS BIGINT)").as("seas"))
    trended.join(broadcast(seasonal), Seq("event_type", "dow"))
      .withColumn("resid", col("detr") - col("seas"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        round(avg(abs(col("resid")).cast("double")) / 1000000d, 6).as("resid_mad"),
        round((max("seas") - min("seas")).cast("double") / 1000000d, 6)
          .as("seasonal_amplitude"))
      .orderBy("event_type")
  }

  private val timeseriesDecomposeOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS tot
      |  FROM events GROUP BY 1, 2),
      |tr AS (
      |  SELECT *,
      |    CAST(count(*) OVER w AS BIGINT) AS n_win,
      |    CAST(SUM(tot) OVER w // 7 AS BIGINT) AS trend
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS (
      |  SELECT event_type, day, tot, trend, tot - trend AS detr, day % 7 AS dow
      |  FROM tr WHERE n_win = 7),
      |seas AS (
      |  SELECT event_type, dow, CAST(SUM(detr) // COUNT(*) AS BIGINT) AS seas
      |  FROM det GROUP BY 1, 2)
      |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  round(AVG(CAST(ABS(d.detr - s.seas) AS DOUBLE)) / 1000000.0, 6) AS resid_mad,
      |  round(CAST(MAX(s.seas) - MIN(s.seas) AS DOUBLE) / 1000000.0, 6)
      |    AS seasonal_amplitude
      |FROM det d JOIN seas s USING (event_type, dow)
      |GROUP BY d.event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_survival" -> eventsSurvival,
    "timeseries_decompose" -> timeseriesDecompose
  )

  val oracles: Map[String, String] = Map(
    "events_survival" -> eventsSurvivalOracle,
    "timeseries_decompose" -> timeseriesDecomposeOracle
  )
}
