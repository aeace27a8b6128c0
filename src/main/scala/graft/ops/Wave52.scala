package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 52: distribution shape + temporal texture — skewness
  * and excess kurtosis per event type from exact integer power sums
  * (the tail-risk read that mean/sd profiling misses), and the
  * hour-of-week activity heatmap (the capacity-planning read).
  */
object Wave52 {

  // ---- profile_moments: skewness + kurtosis --------------------------

  /** Third and fourth standardized moments per event type: one pass of
    * exact micro-unit power sums Σv..Σv⁴ in DECIMAL(38,0) (v⁴ at
    * micro scale tops out ~10³⁶ at these fixtures — documented bound),
    * then the closed-form central-moment identities in doubles with
    * identical IEEE ops on both sides. Skew = m₃/m₂^1.5, excess
    * kurtosis = m₄/m₂² − 3. */
  private val profileMoments: Q = (s, dir) => {
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    val m = Tables.load(s, dir, "events")
      .select(col("event_type"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("s1"),
        sum(d38(col("v")) * col("v")).as("s2"),
        sum(d38(col("v")) * col("v") * col("v")).as("s3"),
        sum(d38(col("v")) * col("v") * col("v") * col("v")).as("s4"))
    def dbl(c: String) = col(c).cast("double")
    def r6(c: Column) = floor(c * 1e6 + 0.5).cast("double") / 1e6
    m.withColumn("e1", dbl("s1") / dbl("n") / 1e6)
      .withColumn("e2", dbl("s2") / dbl("n") / 1e12)
      .withColumn("e3", dbl("s3") / dbl("n") / 1e18)
      .withColumn("e4", dbl("s4") / dbl("n") / 1e24)
      .withColumn("m2", col("e2") - col("e1") * col("e1"))
      .withColumn("m3", col("e3") - col("e1") * col("e2") * 3.0 +
        col("e1") * col("e1") * col("e1") * 2.0)
      .withColumn("m4", col("e4") - col("e1") * col("e3") * 4.0 +
        col("e1") * col("e1") * col("e2") * 6.0 -
        col("e1") * col("e1") * col("e1") * col("e1") * 3.0)
      .select(col("event_type"), col("n"),
        r6(col("e1")).as("mean"),
        r6(sqrt(col("m2"))).as("sd"),
        r6(col("m3") / (col("m2") * sqrt(col("m2")))).as("skewness"),
        r6(col("m4") / (col("m2") * col("m2")) - 3.0).as("kurtosis_excess"))
      .orderBy("event_type")
  }

  private val profileMomentsOracle =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(v) AS BIGINT) AS s1,
      |    SUM(CAST(v AS HUGEINT) * v) AS s2,
      |    SUM(CAST(v AS HUGEINT) * v * v) AS s3,
      |    SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
      |  FROM ev GROUP BY 1),
      |e AS (
      |  SELECT event_type, n,
      |    CAST(s1 AS DOUBLE) / n / 1e6 AS e1,
      |    CAST(s2 AS DOUBLE) / n / 1e12 AS e2,
      |    CAST(s3 AS DOUBLE) / n / 1e18 AS e3,
      |    CAST(s4 AS DOUBLE) / n / 1e24 AS e4
      |  FROM m),
      |c AS (
      |  SELECT event_type, n, e1,
      |    e2 - e1 * e1 AS m2,
      |    e3 - e1 * e2 * 3.0 + e1 * e1 * e1 * 2.0 AS m3,
      |    e4 - e1 * e3 * 4.0 + e1 * e1 * e2 * 6.0 - e1 * e1 * e1 * e1 * 3.0 AS m4
      |  FROM e)
      |SELECT event_type, n,
      |  CAST(FLOOR(e1 * 1e6 + 0.5) AS DOUBLE) / 1e6 AS mean,
      |  CAST(FLOOR(sqrt(m2) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS sd,
      |  CAST(FLOOR(m3 / (m2 * sqrt(m2)) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS skewness,
      |  CAST(FLOOR((m4 / (m2 * m2) - 3.0) * 1e6 + 0.5) AS DOUBLE) / 1e6
      |    AS kurtosis_excess
      |FROM c ORDER BY event_type""".stripMargin

  // ---- events_hour_heatmap: hour-of-week activity --------------------

  /** Hour-of-week heatmap: day-of-week from the epoch-day residue
    * (1970-01-01 was a Thursday — no timezone/date-function ambiguity
    * between engines) × UTC hour, with each cell's share of total
    * traffic. One hash aggregate. */
  private val eventsHourHeatmap: Q = (s, dir) => {
    val sec = unix_timestamp(col("ts"))
    val binned = Tables.load(s, dir, "events")
      .select(pmod(floor(sec / 86400L) + 4L, lit(7L)).cast("long").as("dow"),
        pmod(floor(sec / 3600L), lit(24L)).cast("long").as("hour"))
    val tot = binned.agg(count(lit(1)).as("tot"))
    binned.groupBy("dow", "hour")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n"),
        (floor(col("n").cast("double") / col("tot").cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6).as("share"))
      .orderBy("dow", "hour")
  }

  private val eventsHourHeatmapOracle =
    """WITH b AS (
      |  SELECT CAST((FLOOR(FLOOR(epoch(ts)) / 86400) + 4) % 7 AS BIGINT) AS dow,
      |    CAST(FLOOR(FLOOR(epoch(ts)) / 3600) % 24 AS BIGINT) AS hour
      |  FROM events),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM b)
      |SELECT dow, hour, CAST(count(*) AS BIGINT) AS n,
      |  CAST(FLOOR(CAST(count(*) AS DOUBLE) / MAX(tot.tot) * 1e6 + 0.5) AS DOUBLE) / 1e6
      |    AS share
      |FROM b, tot GROUP BY dow, hour, tot.tot ORDER BY dow, hour""".stripMargin

  val queries: Map[String, Q] = Map(
    "profile_moments" -> profileMoments,
    "events_hour_heatmap" -> eventsHourHeatmap
  )

  val oracles: Map[String, String] = Map(
    "profile_moments" -> profileMomentsOracle,
    "events_hour_heatmap" -> eventsHourHeatmapOracle
  )
}
