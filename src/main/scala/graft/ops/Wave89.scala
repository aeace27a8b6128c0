package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-7 wave 89: experiment + time-series inference — the
  * autocorrelation function of the daily event series (the seasonality
  * read every forecasting pipeline starts from) with the whole
  * estimator in exact integer arithmetic, and a deterministic
  * hash-assigned A/B proportion test (the two-sample z the CUPED query
  * (events_cuped) adjusts).
  */
object Wave89 {

  // ---- timeseries_acf: exact-integer autocorrelation ---------------------

  /** ACF of the zero-filled daily count series per event type, lags
    * 1–7: r_k = Σ'(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)². Multiplying both
    * sides by n² clears the rational mean μ = S/n, so numerator and
    * denominator are exact integers (num·n² = n²P_k − nS(H_k+T_k) +
    * (n−k)S², den·n² = n²Q − nS²) and the ratio rounds half-up at 6 dp
    * as one integer rational — no float accumulation anywhere. The
    * data-sized work is ONE (type, day) aggregate; the series is
    * calendar-sized (days × types), so the zero-fill spine, the lag
    * self-join (≤7 partners per day) and the moment sums are
    * model-sized at any corpus scale. */
  private val timeseriesAcf: Q = (s, dir) => {
    val d38 = DecimalType(38, 0)
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        expr("cast(floor(unix_timestamp(ts) / 86400) as long)").as("day"))
      .agg(count(lit(1)).as("x"))
    val span = daily.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
    val spine = span.select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint()
    val tot = spine.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("s"),
      sum(col("x").cast(d38) * col("x")).as("q"))
    val lags = spine.select(col("event_type"), col("day"), col("x"),
      explode(sequence(lit(1L), lit(7L))).as("k"))
    val pairs = lags.as("a").join(spine.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.day") === col("a.day") + col("a.k"))
      .groupBy(col("a.event_type").as("event_type"), col("a.k").as("lag"))
      .agg(sum(col("a.x").cast(d38) * col("b.x")).as("p"),
        sum(col("a.x").cast(d38)).as("h"),
        sum(col("b.x").cast(d38)).as("tt"))
    pairs.join(tot, "event_type")
      .withColumn("num", col("n").cast(d38) * col("n") * col("p")
        - col("n").cast(d38) * col("s") * (col("h") + col("tt"))
        + (col("n") - col("lag")).cast(d38) * col("s") * col("s"))
      .withColumn("den", col("n").cast(d38) * col("n") * col("q")
        - col("n").cast(d38) * col("s") * col("s"))
      .withColumn("acf_micro", signum(col("num")).cast(d38) *
        expr("(2 * abs(num) * 1000000 + den) div (2 * den)"))
      .select(col("event_type"), col("lag"),
        (col("acf_micro").cast("double") / 1e6).as("acf"))
      .orderBy("event_type", "lag")
  }

  private val timeseriesAcfOracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |  FROM daily GROUP BY 1),
      |days AS (
      |  SELECT event_type, unnest(generate_series(d0, d1)) AS day
      |  FROM span),
      |spine AS MATERIALIZED (
      |  SELECT g.event_type, g.day, COALESCE(d.x, 0) AS x
      |  FROM days g
      |  LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = g.day),
      |tot AS (
      |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS s,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
      |  FROM spine GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type, k.lag,
      |    CAST(SUM(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS p,
      |    CAST(SUM(CAST(a.x AS HUGEINT)) AS HUGEINT) AS h,
      |    CAST(SUM(CAST(b.x AS HUGEINT)) AS HUGEINT) AS tt
      |  FROM spine a
      |  JOIN (SELECT unnest(generate_series(1, 7)) AS lag) k ON true
      |  JOIN spine b ON b.event_type = a.event_type
      |    AND b.day = a.day + k.lag
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT p.event_type, p.lag,
      |    n*n*p.p - n*s*(p.h + p.tt) + (n - p.lag)*s*s AS num,
      |    n*n*q - n*s*s AS den
      |  FROM pairs p JOIN tot USING (event_type))
      |SELECT event_type, CAST(lag AS BIGINT) AS lag,
      |  CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END
      |    * ((2 * abs(num) * 1000000 + den) // (2 * den)) AS DOUBLE) / 1e6
      |    AS acf
      |FROM r ORDER BY event_type, lag""".stripMargin

  // ---- events_abtest: deterministic two-proportion z-test -----------------

  /** A/B revenue read at the UNIT-OF-RANDOMIZATION granularity: arms
    * assign by user (salted md5 — the reproducible-bucketing contract
    * of every experiment system), the metric is each USER's total
    * purchase value in exact cents, and the test is Welch's t on the
    * two user-level samples. This is the clustered-correct variant of
    * events_ttest_welch (Wave35), which compares per-EVENT values and
    * therefore understates variance when one user fires many events —
    * the classic randomization-unit mistake this query exists to
    * avoid. Every sum (n,
    * Σcents, Σcents²) is an exact integer; means and variances are
    * rationals of those sums evaluated as ONE double expression in
    * identical order in both engines, so the t and the |t| ≥ 1.96 flag
    * are engine-exact. Aggregation is user-keyed then arm-keyed (2
    * groups) — trivially map-side combinable at any scale. */
  private val eventsAbtest: Q = (s, dir) => {
    val d38 = DecimalType(38, 0)
    val users = Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("cents"))
      .select(pmod(Hashing.md5Long(concat(lit("ab#"),
        col("user_id").cast("string")).cast("binary")), lit(2))
        .cast("long").as("arm"), col("cents"))
    val arms = users.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("cents").cast(d38)).as("s"),
        sum(col("cents").cast(d38) * col("cents")).as("q"))
    val wide = arms.filter(col("arm") === 0)
      .select(col("n").as("n0"), col("s").as("s0"), col("q").as("q0"))
      .crossJoin(arms.filter(col("arm") === 1)
        .select(col("n").as("n1"), col("s").as("s1"), col("q").as("q1")))
    def mean(i: Int) =
      col(s"s$i").cast("double") / col(s"n$i") / lit(100.0)
    // sample variance in cents²: (nQ − S²) / (n(n−1)), exact ints cast
    def varc(i: Int) =
      (col(s"n$i").cast(d38) * col(s"q$i") - col(s"s$i") * col(s"s$i"))
        .cast("double") /
        (col(s"n$i") * (col(s"n$i") - 1)).cast("double")
    val tStat = (mean(1) - mean(0)) /
      (sqrt(varc(1) / col("n1") + varc(0) / col("n0")) / lit(100.0))
    wide.select(col("n0"), col("n1"),
        round(mean(0), 6).as("mean0"),
        round(mean(1), 6).as("mean1"),
        round(mean(1) - mean(0), 6).as("diff"),
        round(tStat, 6).as("t"))
      .withColumn("significant", abs(col("t")) >= 1.96)
  }

  private val eventsAbtestOracle: String = {
    val mean0 = "CAST(s0 AS DOUBLE) / n0 / 100.0"
    val mean1 = "CAST(s1 AS DOUBLE) / n1 / 100.0"
    val var0 = "CAST(n0 * q0 - s0 * s0 AS DOUBLE) / CAST(n0 * (n0 - 1) AS DOUBLE)"
    val var1 = "CAST(n1 * q1 - s1 * s1 AS DOUBLE) / CAST(n1 * (n1 - 1) AS DOUBLE)"
    val tExpr = s"(($mean1) - ($mean0)) / (sqrt(($var1) / n1 + ($var0) / n0) / 100.0)"
    s"""WITH u AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS cents
       |  FROM events GROUP BY 1),
       |arms AS (
       |  SELECT CAST(concat('0x', substr(md5('ab#' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS arm,
       |    CAST(count(*) AS HUGEINT) AS n, CAST(SUM(cents) AS HUGEINT) AS s,
       |    CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
       |  FROM u GROUP BY 1),
       |w AS (
       |  SELECT a0.n AS n0, a0.s AS s0, a0.q AS q0,
       |    a1.n AS n1, a1.s AS s1, a1.q AS q1
       |  FROM (SELECT n, s, q FROM arms WHERE arm = 0) a0,
       |       (SELECT n, s, q FROM arms WHERE arm = 1) a1)
       |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       |  round($mean0, 6) AS mean0,
       |  round($mean1, 6) AS mean1,
       |  round(($mean1) - ($mean0), 6) AS diff,
       |  round($tExpr, 6) AS t,
       |  abs(round($tExpr, 6)) >= 1.96 AS significant
       |FROM w""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "timeseries_acf" -> timeseriesAcf,
    "events_abtest" -> eventsAbtest
  )

  val oracles: Map[String, String] = Map(
    "timeseries_acf" -> timeseriesAcfOracle,
    "events_abtest" -> eventsAbtestOracle
  )
}
