package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 61: nonparametric trend + graph mixing — the
  * Mann–Kendall trend test per event type (THE standard "is this
  * metric drifting" test when normality can't be assumed), and degree
  * assortativity of the shared-customer supplier graph (do highly
  * connected suppliers co-occur with each other — the resilience /
  * hub-structure read).
  */
object Wave61 {

  // ---- timeseries_trend_mk: Mann-Kendall per event type ---------------

  /** Mann–Kendall per event type over the daily total-value series:
    * S = Σ_{i<j} sign(x_j − x_i) on cent-quantized daily sums, the
    * tie-corrected variance 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5),
    * and z = (S ∓ 1)/√(Var) with the standard continuity correction.
    * Pairs live on the CALENDAR (days² per type — independent of row
    * count); S, ties and 18·Var are exact integers, and z is the same
    * IEEE double expression in both engines (int→double, /18, sqrt,
    * divide — all correctly-rounded operations on identical inputs),
    * rounded to 6dp. */
  private val timeseriesTrendMk: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        expr("floor(unix_timestamp(ts) / 86400)").cast("long").as("day"))
      .agg(sum(expr("cast(round(value * 100) as long)")).as("x"))
      .localCheckpoint()
    val sStat = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.x") - col("a.x")).cast("long")).as("s_stat"))
    val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
    val ties = daily.groupBy("event_type", "x").agg(count(lit(1)).as("tc"))
      .groupBy("event_type")
      .agg(sum(expr("tc * (tc - 1) * (2 * tc + 5)")).as("tie_term"))
    sStat.join(nDays, "event_type").join(ties, "event_type")
      .withColumn("var18",
        expr("n * (n - 1) * (2 * n + 5) - tie_term"))
      .withColumn("z", round(
        when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
          .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
          .otherwise(lit(0.0)) /
          sqrt(col("var18").cast("double") / 18.0), 6))
      .select(col("event_type"), col("n").as("n_days"), col("s_stat"),
        col("var18"), col("z"))
      .orderBy("event_type")
  }

  private val timeseriesTrendMkOracle =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT a.event_type, CAST(SUM(sign(b.x - a.x)) AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY 1),
      |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
      |tt AS (
      |  SELECT event_type,
      |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS tc
      |        FROM daily GROUP BY 1, 2)
      |  GROUP BY 1),
      |j AS (
      |  SELECT s.event_type, n.n, s.s_stat,
      |    n.n * (n.n - 1) * (2 * n.n + 5) - tt.tie_term AS var18
      |  FROM s JOIN n USING (event_type) JOIN tt USING (event_type))
      |SELECT event_type, n AS n_days, s_stat, var18,
      |  round((CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
      |              WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
      |              ELSE 0.0 END) / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) AS z
      |FROM j ORDER BY event_type""".stripMargin

  // ---- graph_assortativity: degree mixing of the supplier graph -------

  /** Degree assortativity of the shared-customer supplier graph:
    * Pearson correlation of endpoint degrees over the (symmetrized)
    * edge list. Edges come through the shared customer (Σ degree²,
    * never all-pairs), degrees are one aggregate, and the coefficient
    * is the exact rational (M·Sxy − Sx²)/(M·Sxx − Sx²) on DECIMAL
    * sums, sign-magnitude rounded to micro — engine-exact. Positive r
    * = hubs trade with hubs (resilient core); negative = hub-and-
    * spoke. */
  private val graphAssortativity: Q = (s, dir) => {
    val pairs = SupplierGraph.pairWeights(s, dir).select("p1", "p2")
    val deg = pairs.select(col("p1").as("p"))
      .union(pairs.select(col("p2").as("p")))
      .groupBy("p").agg(count(lit(1)).as("d"))
    val contrib = pairs
      // degree tables are supplier-sized (entity-scaled): no forced
      // broadcast - the optimizer picks one while they fit.
      // BOTH orientations of each edge come from ONE pass: the r9 form
      // unioned two copies of the pairs⋈deg⋈deg join (4 joins, 2 pair
      // scans); exploding the symmetric (x,y)/(y,x) structs after a
      // single join emits the identical multiset — the sums below are
      // exact (decimal/long), so aggregation order cannot matter.
      .join(deg.select(col("p").as("p1"), col("d").as("d1")), "p1")
      .join(deg.select(col("p").as("p2"), col("d").as("d2")), "p2")
      .select(explode(array(
        struct(col("d1").as("x"), col("d2").as("y")),
        struct(col("d2").as("x"), col("d1").as("y")))).as("xy"))
      .select(col("xy.x").as("x"), col("xy.y").as("y"))
    contrib.agg(count(lit(1)).as("mm"),
        sum(expr("cast(x as decimal(38,0))")).as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
      .withColumn("num", expr("mm * sxy - sx * sx"))
      .withColumn("den", expr("mm * sxx - sx * sx"))
      .withColumn("rmag", expr(
        "case when den = 0 then 0 else cast((2 * abs(num) * 1000000 + den) div (2 * den) as long) end"))
      .withColumn("r_micro",
        when(col("num") < 0, -col("rmag")).otherwise(col("rmag")))
      .select(expr("mm div 2").as("n_edges"),
        (col("r_micro").cast("double") / 1e6).as("assortativity"))
  }

  private val graphAssortativityOracle =
    """WITH edges AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.p AS p1, b.p AS p2
      |  FROM edges a JOIN edges b ON a.c = b.c AND a.p < b.p),
      |deg AS (
      |  SELECT p, CAST(count(*) AS BIGINT) AS d FROM (
      |    SELECT p1 AS p FROM pairs UNION ALL SELECT p2 AS p FROM pairs)
      |  GROUP BY 1),
      |contrib AS (
      |  SELECT d1.d AS x, d2.d AS y
      |  FROM pairs JOIN deg d1 ON d1.p = pairs.p1 JOIN deg d2 ON d2.p = pairs.p2
      |  UNION ALL
      |  SELECT d2.d AS x, d1.d AS y
      |  FROM pairs JOIN deg d1 ON d1.p = pairs.p1 JOIN deg d2 ON d2.p = pairs.p2),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS mm,
      |    SUM(x) AS sx, SUM(x * x) AS sxx, SUM(x * y) AS sxy
      |  FROM contrib),
      |r AS (
      |  SELECT mm, mm * sxy - sx * sx AS num, mm * sxx - sx * sx AS den
      |  FROM agg)
      |SELECT CAST(mm // 2 AS BIGINT) AS n_edges,
      |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
      |    (CASE WHEN den = 0 THEN 0
      |     ELSE (2 * abs(num) * 1000000 + den) // (2 * den) END) AS DOUBLE) / 1e6
      |    AS assortativity
      |FROM r""".stripMargin

  val queries: Map[String, Q] = Map(
    "timeseries_trend_mk" -> timeseriesTrendMk,
    "graph_assortativity" -> graphAssortativity
  )

  val oracles: Map[String, String] = Map(
    "timeseries_trend_mk" -> timeseriesTrendMkOracle,
    "graph_assortativity" -> graphAssortativityOracle
  )
}
