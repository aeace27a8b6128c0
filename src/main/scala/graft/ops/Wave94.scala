package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-7 wave 94: spectral period detection — the periodogram read
  * ("IS there a weekly rhythm, and is it the strongest one?") that
  * complements timeseries_acf (per-lag correlation) and profile_
  * seasonality: DFT power at every candidate period 2–14 over the
  * mean-centered daily series, all in exact integers.
  */
object Wave94 {

  /** Quantized trig constants, cos/sin(2π·phase/p)·1e6 half-up — built
    * ONCE in Scala and inlined as identical literals into the Spark
    * plan and the DuckDB SQL (the Wave9 lshW literal-inlining
    * precedent), so no libm difference can ever split the engines. */
  private val Periods = 2 to 14
  private lazy val trig: Seq[(Int, Int, Long, Long)] =
    for (p <- Periods; k <- 0 until p) yield {
      val a = 2.0 * math.Pi * k / p
      (p, k, math.round(math.cos(a) * 1e6), math.round(math.sin(a) * 1e6))
    }

  /** Periodogram per event type: mean-center exactly by working on
    * X_t = n·x_t − S (every value an integer — no rational mean), then
    * power(p) = (Σ X_t·cosq)² + (Σ X_t·sinq)², normalized by n⁴ (the
    * centering scale) for the reported double. The series is
    * calendar-sized, so the spectrum runs on the DRIVER (r07
    * model-state pattern); data-sized work is the one (type, day)
    * aggregate. Output: one row per (type, period) with the power and
    * the dominant-period flag (ties to the smaller period). */
  private val timeseriesPeriodogram: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        expr("cast(floor(unix_timestamp(ts) / 86400) as long)").as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = daily.groupBy(_._1).toSeq.flatMap { case (tpe, rs) =>
      val byDay = rs.map(r => r._2 -> r._3).toMap
      val d0 = byDay.keys.min; val d1 = byDay.keys.max
      val xs = (d0 to d1).map(d => byDay.getOrElse(d, 0L))
      // driver-held series must stay calendar-sized (the r7 model-state
      // bound), and the oracle's HUGEINT power accumulators scale with
      // span⁴ — cap the window loudly (Wave78's pattern) rather than
      // silently ballooning on a non-conforming fixture
      require(xs.length <= 366,
        s"timeseries_periodogram: $tpe spans ${xs.length} daily steps - cap the window")
      val n = BigInt(xs.length)
      val sSum = xs.map(BigInt(_)).sum
      val xc = xs.map(x => n * x - sSum) // exact centering × n
      val powers = Periods.map { p =>
        val cs = trig.filter(_._1 == p)
        val c = xc.zipWithIndex.map { case (v, t) =>
          v * cs(t % p)._3 }.sum
        val sn = xc.zipWithIndex.map { case (v, t) =>
          v * cs(t % p)._4 }.sum
        p -> (c * c + sn * sn)
      }
      val dom = powers.minBy { case (p, pw) => (-pw, p) }._1
      val denom = (n * n * n * n).toDouble * 1e12
      powers.map { case (p, pw) =>
        (tpe, p.toLong, pw.toDouble / denom, p == dom)
      }
    }.sortBy(r => (r._1, r._2))
    out.toDF("event_type", "period", "power", "dominant")
      .orderBy("event_type", "period")
  }

  private val timeseriesPeriodogramOracle: String = {
    // power_i exceeds 2^64 at the bench SF, and DuckDB's direct
    // HUGEINT->DOUBLE cast is not correctly rounded there (1-ulp off vs
    // BigInt.toDouble — found by the r10 full-surface sf0.1 oracle run);
    // the VARCHAR->DOUBLE route is strtod and correctly rounded, so the
    // oracle below converts through it. Engine side unchanged.
    val rows = trig.map { case (p, k, c, sn) => s"($p, $k, $c, $sn)" }
      .mkString(", ")
    s"""WITH daily AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
       |  FROM daily GROUP BY 1),
       |days AS (SELECT event_type, d0,
       |  unnest(generate_series(d0, d1)) AS day FROM span),
       |spine AS MATERIALIZED (
       |  SELECT g.event_type, g.day - g.d0 AS t,
       |    CAST(COALESCE(d.x, 0) AS HUGEINT) AS x
       |  FROM days g LEFT JOIN daily d
       |    ON d.event_type = g.event_type AND d.day = g.day),
       |tot AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
       |  SUM(x) AS s FROM spine GROUP BY 1),
       |xc AS (
       |  SELECT sp.event_type, sp.t, tot.n, tot.n * sp.x - tot.s AS v
       |  FROM spine sp JOIN tot USING (event_type)),
       |trig(p, k, cq, sq) AS (VALUES $rows),
       |cs AS (
       |  SELECT xc.event_type, trig.p, ANY_VALUE(xc.n) AS n,
       |    SUM(xc.v * trig.cq) AS c, SUM(xc.v * trig.sq) AS sn
       |  FROM xc JOIN trig ON trig.k = xc.t % trig.p
       |  GROUP BY 1, 2),
       |pw AS (
       |  SELECT event_type, p, n, c * c + sn * sn AS power_i
       |  FROM cs),
       |dom AS (
       |  SELECT event_type, p AS dp FROM (
       |    SELECT event_type, p,
       |      row_number() OVER (PARTITION BY event_type
       |        ORDER BY power_i DESC, p) AS rk
       |    FROM pw) WHERE rk = 1)
       |SELECT pw.event_type, CAST(pw.p AS BIGINT) AS period,
       |  CAST(CAST(power_i AS VARCHAR) AS DOUBLE)
       |    / (CAST(n * n * n * n AS DOUBLE) * 1e12) AS power,
       |  pw.p = dom.dp AS dominant
       |FROM pw JOIN dom USING (event_type)
       |ORDER BY event_type, period""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "timeseries_periodogram" -> timeseriesPeriodogram
  )

  val oracles: Map[String, String] = Map(
    "timeseries_periodogram" -> timeseriesPeriodogramOracle
  )
}
