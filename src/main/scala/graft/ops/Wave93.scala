package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-7 wave 93: triple exponential smoothing — additive
  * Holt–Winters with weekly seasonality over the daily revenue
  * series, completing the forecasting ladder (timeseries_holt's
  * level+trend, Wave32's decompose, this adds the recursive seasonal
  * state and a 7-day seasonal forecast).
  */
object Wave93 {

  /** Additive HW, α=β=γ=1/2, period 7, on the ZERO-FILLED daily cents
    * series (milli-cent units so half-up halving keeps sub-cent
    * precision): init level = week-1 mean, trend = (week-2 mean −
    * week-1 mean)/7, seasonal_j = x_j − level; then the classic
    * recursion from day 7 with every halving an exact sign-split
    * half-up rational — the timeseries_holt integer contract extended
    * with the 7-slot seasonal vector. The state is (types × 9 longs),
    * MODEL-sized, so the walk runs on the driver (r07 pattern);
    * data-sized work is the one (type, day) aggregate. Output: the
    * 7-day seasonal forecast per type plus the final level/trend. */
  private val timeseriesHoltWinters: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        expr("cast(floor(unix_timestamp(ts) / 86400) as long)").as("day"))
      .agg(sum(expr("cast(round(value * 100) as long)")).as("yc"))
    val rows = daily.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2) * 1000L))
    def hdiv(c: Long, d: Long): Long = c.sign * ((2 * c.abs + d) / (2 * d))
    val out = rows.groupBy(_._1).toSeq.flatMap { case (tpe, rs) =>
      val byDay = rs.map(r => r._2 -> r._3).toMap
      val d0 = byDay.keys.min; val d1 = byDay.keys.max
      val xs = (d0 to d1).map(d => byDay.getOrElse(d, 0L)).toArray
      val n = xs.length
      // the oracle unrolls EXACTLY steps 7..29 (the fixture's 30-day
      // calendar), so a series of any other span would silently diverge
      // from it — pin the length here (Wave78's pattern) so a fixture
      // change fails loudly instead
      require(n == 30,
        s"timeseries_holt_winters: $tpe spans $n days; the unrolled " +
          "oracle is pinned to the 30-day fixture calendar")
      val s1 = xs.take(7).sum; val s2 = xs.slice(7, 14).sum
      var l = hdiv(s1, 7)
      var tr = hdiv(s2 - s1, 49)
      val sea = Array.tabulate(7)(j => xs(j) - l)
      for (tt <- 7 until n) {
        val j = tt % 7
        val x = xs(tt)
        val l2 = hdiv(x - sea(j) + l + tr, 2)
        val tr2 = hdiv(tr + (l2 - l), 2)
        sea(j) = hdiv(sea(j) + (x - l2), 2)
        l = l2; tr = tr2
      }
      (1 to 7).map { k =>
        val j = (n - 1 + k) % 7
        (tpe, k.toLong, (l + k * tr + sea(j)).toDouble / 1000,
          l.toDouble / 1000, tr.toDouble / 1000, sea(j).toDouble / 1000)
      }
    }.sortBy(r => (r._1, r._2))
    out.toDF("event_type", "horizon", "forecast_c", "level_c", "trend_c",
        "seasonal_c")
      .orderBy("event_type", "horizon")
  }

  private val timeseriesHoltWintersOracle: String = {
    def hdiv(c: String, d: Int): String =
      s"CAST(sign($c) AS HUGEINT) * ((2 * abs($c) + $d) // (2 * $d))"
    // fixture calendar is 30 days (the timeseries_holt pin); the Spark
    // side derives n from the data and Wave93Spec cross-checks both
    def step(prev: String, cur: String, tt: Int): String = {
      val j = tt % 7
      s"""$cur AS (
         |  SELECT event_type,
         |    CASE WHEN ynull THEN l ELSE l2 END AS l,
         |    CASE WHEN ynull THEN tr ELSE ${hdiv("(tr + (l2 - l))", 2)} END
         |      AS tr,
         |    CASE WHEN ynull THEN sea ELSE
         |      list_transform(range(7), q -> CASE WHEN q = $j
         |        THEN ${hdiv("(sea[" + (j + 1) + "] + (y - l2))", 2)}
         |        ELSE sea[CAST(q + 1 AS INT)] END) END AS sea
         |  FROM (
         |    SELECT p.event_type, p.l, p.tr, p.sea, d.y, d.y IS NULL AS ynull,
         |      CASE WHEN d.y IS NULL THEN p.l
         |        ELSE ${hdiv("(d.y - sea[" + (j + 1) + "] + l + tr)", 2)} END
         |        AS l2
         |    FROM $prev p LEFT JOIN (SELECT event_type, y FROM spine
         |      WHERE t = $tt) d USING (event_type)))""".stripMargin
    }
    val steps = (7 to 29)
      .map(i => step(if (i == 7) "s6" else s"s${i - 1}", s"s$i", i))
      .mkString(",\n")
    s"""WITH daily AS (
       |  SELECT event_type,
       |    CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
       |    SUM(CAST(round(value * 100) AS BIGINT)) * 1000 AS y
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT event_type, min(day) AS dd0, max(day) AS dd1
       |  FROM daily GROUP BY 1),
       |days AS (SELECT event_type, dd0,
       |  unnest(generate_series(dd0, dd1)) AS day FROM span),
       |spine AS MATERIALIZED (
       |  SELECT g.event_type, g.day - g.dd0 AS t,
       |    CAST(COALESCE(d.y, 0) AS HUGEINT) AS y
       |  FROM days g LEFT JOIN daily d
       |    ON d.event_type = g.event_type AND d.day = g.day),
       |nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
       |  FROM spine GROUP BY 1),
       |w1 AS (SELECT event_type, SUM(y) AS s1 FROM spine
       |  WHERE t < 7 GROUP BY 1),
       |w2 AS (SELECT event_type, SUM(y) AS s2 FROM spine
       |  WHERE t >= 7 AND t < 14 GROUP BY 1),
       |f7 AS (SELECT event_type, list(y ORDER BY t) AS first7
       |  FROM spine WHERE t < 7 GROUP BY 1),
       |s6 AS (
       |  SELECT w1.event_type,
       |    ${hdiv("s1", 7)} AS l,
       |    ${hdiv("(s2 - s1)", 49)} AS tr,
       |    list_transform(first7, v -> v - ${hdiv("s1", 7)}) AS sea
       |  FROM w1 JOIN w2 USING (event_type) JOIN f7 USING (event_type)),
       |$steps,
       |fin AS (SELECT * FROM s29)
       |SELECT f.event_type, CAST(k AS BIGINT) AS horizon,
       |  CAST(f.l + k * f.tr
       |    + f.sea[CAST((n.n - 1 + k) % 7 + 1 AS INT)] AS DOUBLE) / 1000
       |    AS forecast_c,
       |  CAST(f.l AS DOUBLE) / 1000 AS level_c,
       |  CAST(f.tr AS DOUBLE) / 1000 AS trend_c,
       |  CAST(f.sea[CAST((n.n - 1 + k) % 7 + 1 AS INT)] AS DOUBLE) / 1000
       |    AS seasonal_c
       |FROM fin f JOIN nn n USING (event_type),
       |  (SELECT unnest(generate_series(1, 7)) AS k) h
       |ORDER BY event_type, horizon""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "timeseries_holt_winters" -> timeseriesHoltWinters
  )

  val oracles: Map[String, String] = Map(
    "timeseries_holt_winters" -> timeseriesHoltWintersOracle
  )
}
