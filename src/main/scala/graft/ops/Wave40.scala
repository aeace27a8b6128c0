package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 40: predictive-pipeline operators — a rolling-origin
  * forecast backtest (the honest way to score a forecaster: refit on
  * every prefix, predict one step ahead, compare to the naive carry-
  * forward) and leakage-free out-of-fold target encoding (the feature-
  * engineering staple that must NEVER see its own row's target).
  */
object Wave40 {

  // ---- events_backtest: rolling-origin OLS one-step backtest ---------

  /** Rolling-origin backtest of the linear-trend forecaster on daily
    * value totals per event type: for every day d in the SECOND half
    * of the series, fit OLS on days < d (prefix sums of x, y, xy, x²
    * — one pass of four window sums over the DAILY table, which is
    * calendar-sized, not data-sized), predict day d, and score
    * against the naive previous-day carry-forward. Absolute errors
    * round to micro-exact DECIMAL before the mean so the distributed
    * sum has no float order; `skill` = 1 − mae/naive_mae > 0 means
    * the trend fit earns its keep. The only data-sized work is the
    * daily aggregate — the backtest itself costs #days per type. */
  private val eventsBacktest: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"))
      .agg(sum((col("value").cast("decimal(18,6)") * 1000000).cast("long"))
        .as("y"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val withStats = daily
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("n_days", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("k", (col("t") - 1).cast("double"))           // prior count
      .withColumn("sx", sum(col("t")).over(wPrev).cast("double"))
      .withColumn("sy", sum(col("y")).over(wPrev).cast("double"))
      .withColumn("sxy", sum(col("t").cast(DecimalType(38, 0)) * col("y"))
        .over(wPrev).cast("double"))
      .withColumn("sxx", sum(col("t").cast(DecimalType(38, 0)) * col("t"))
        .over(wPrev).cast("double"))
      .withColumn("y_prev", lag(col("y"), 1).over(w))
    val test = withStats
      .filter(col("t") * 2 > col("n_days") && col("t") >= 3)
      .withColumn("b",
        (col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")))
      .withColumn("a", (col("sy") - col("b") * col("sx")) / col("k"))
      .withColumn("err",
        round(abs(col("y").cast("double") -
          (col("a") + col("b") * col("t").cast("double"))) / 1e6, 6)
          .cast(DecimalType(18, 6)))
      .withColumn("nerr",
        round(abs(col("y") - col("y_prev")).cast("double") / 1e6, 6)
          .cast(DecimalType(18, 6)))
    test.groupBy("event_type")
      .agg(max("n_days").as("n_days"), count(lit(1)).as("n_test"),
        sum("err").as("serr"), sum("nerr").as("snerr"))
      .select(col("event_type"), col("n_days"), col("n_test"),
        round(col("serr").cast("double") / col("n_test").cast("double"), 6)
          .as("mae"),
        round(col("snerr").cast("double") / col("n_test").cast("double"), 6)
          .as("naive_mae"),
        round(lit(1.0) - col("serr").cast("double") / col("snerr").cast("double"), 6)
          .as("skill"))
      .orderBy("event_type")
  }

  private val eventsBacktestOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
      |    CAST(SUM(t0.y) OVER wp AS DOUBLE) AS sy,
      |    LAG(t0.y, 1) OVER w AS y_prev
      |  FROM daily t0
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day),
      |         wp AS (PARTITION BY event_type ORDER BY day
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |st2 AS (
      |  SELECT *,
      |    CAST(t - 1 AS DOUBLE) AS k,
      |    CAST(SUM(t) OVER wp AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(t AS HUGEINT) * y) OVER wp AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(t AS HUGEINT) * t) OVER wp AS DOUBLE) AS sxx
      |  FROM st
      |  WINDOW wp AS (PARTITION BY event_type ORDER BY day
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |test AS (
      |  SELECT *,
      |    (k * sxy - sx * sy) / (k * sxx - sx * sx) AS b
      |  FROM st2 WHERE t * 2 > n_days AND t >= 3),
      |scored AS (
      |  SELECT event_type, n_days,
      |    CAST(round(ABS(CAST(y AS DOUBLE) - ((sy - b * sx) / k + b * t)) / 1e6, 6)
      |      AS DECIMAL(18,6)) AS err,
      |    CAST(round(CAST(ABS(y - y_prev) AS DOUBLE) / 1e6, 6)
      |      AS DECIMAL(18,6)) AS nerr
      |  FROM test)
      |SELECT event_type, MAX(n_days) AS n_days,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  round(CAST(SUM(err) AS DOUBLE) / count(*), 6) AS mae,
      |  round(CAST(SUM(nerr) AS DOUBLE) / count(*), 6) AS naive_mae,
      |  round(1.0 - CAST(SUM(err) AS DOUBLE) / CAST(SUM(nerr) AS DOUBLE), 6) AS skill
      |FROM scored GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- feat_target_encode: leakage-free out-of-fold means ------------

  /** Out-of-fold target encoding of event_type against value: users
    * hash into 5 folds (portable md5), and the encoding a row in fold
    * f reads is the target mean over the OTHER four folds —
    * (S_type − S_f)/(n_type − n_f) — so no row ever contributes to
    * its own feature, the leak that makes naive target encoding
    * overfit. One (type, fold) aggregate (25 cells); type totals are
    * a second model-sized pass over those cells; sums stay exact
    * decimal micro-units. */
  private val featTargetEncode: Q = (s, dir) => {
    val fold = pmod(Hashing.md5Long(
      concat(col("user_id").cast("string"), lit(":fe")).cast("binary")), lit(5))
    val cells = Tables.load(s, dir, "events")
      .select(col("event_type"), fold.as("fold"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
      .groupBy("event_type", "fold")
      .agg(count(lit(1)).as("n_fold"), sum("v").as("s_fold"))
    val totals = cells.groupBy("event_type")
      .agg(sum("n_fold").as("n_type"), sum("s_fold").as("s_type"))
    cells.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("fold"), col("n_fold"),
        round((col("s_type") - col("s_fold")).cast("double") /
          (col("n_type") - col("n_fold")).cast("double") / 1e6, 6)
          .as("oof_mean"))
      .orderBy("event_type", "fold")
  }

  private val featTargetEncodeOracle =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(concat('0x', substr(md5(user_id || ':fe'), 1, 15)) AS BIGINT) % 5 AS fold,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |cells AS (
      |  SELECT event_type, fold, CAST(count(*) AS BIGINT) AS n_fold,
      |    CAST(SUM(v) AS BIGINT) AS s_fold
      |  FROM ev GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(SUM(n_fold) AS BIGINT) AS n_type,
      |    CAST(SUM(s_fold) AS BIGINT) AS s_type
      |  FROM cells GROUP BY 1)
      |SELECT c.event_type, c.fold, c.n_fold,
      |  round(CAST(t.s_type - c.s_fold AS DOUBLE)
      |    / (t.n_type - c.n_fold) / 1e6, 6) AS oof_mean
      |FROM cells c JOIN tot t USING (event_type)
      |ORDER BY event_type, fold""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_backtest" -> eventsBacktest,
    "feat_target_encode" -> featTargetEncode
  )

  val oracles: Map[String, String] = Map(
    "events_backtest" -> eventsBacktestOracle,
    "feat_target_encode" -> featTargetEncodeOracle
  )
}
