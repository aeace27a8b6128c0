package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 31: the SCD2 point-in-time join (facts resolved against
  * the dimension version valid AT the fact's timestamp — the lakehouse
  * query the scd2_history build exists to serve) and the moving-median
  * smoother over the daily series.
  */
object Wave31 {

  // ---- join_scd2_pit: point-in-time dimension resolution -------------

  /** Point-in-time lookup against the SCD2 run table: each event joins
    * the (user, event-type run) version whose [valid_from, valid_to)
    * interval contains the event — the query every feature-store /
    * as-was reporting stack runs against an SCD2 dimension. Intervals
    * are microsecond-exact (rebuilt inline rather than through the
    * second-floored scd2_history output, so runs are never empty).
    * Self-consistency makes the result verifiable: the resolved run's
    * type must equal the event's own type for EVERY event. The join is
    * an equi-join on user_id (high-cardinality, one shuffle) with the
    * interval containment as a residual — per-user run lists are small,
    * so fan-out is bounded. */
  private val joinScd2Pit: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("us"))
    val flagged = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("chg",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum("chg").over(
        Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val runs = flagged.groupBy("user_id", "run_id")
      .agg(min("us").as("vfrom"), first(col("event_type")).as("run_type"),
        count(lit(1)).as("run_len"))
    val byUserRuns = Window.partitionBy("user_id").orderBy("run_id")
    val versioned = runs.withColumn("vto", lead("vfrom", 1).over(byUserRuns))
    val pit = ev.alias("e")
      .join(versioned.alias("r"),
        col("e.user_id") === col("r.user_id") &&
          col("e.us") >= col("r.vfrom") &&
          (col("r.vto").isNull || col("e.us") < col("r.vto")),
        "left")
    pit.groupBy(col("e.event_type").as("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("r.run_type").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("r.run_type") === col("e.event_type"), 1L).otherwise(0L))
          .as("n_type_equal"))
      .orderBy("event_type")
  }

  private val joinScd2PitOracle =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT *,
      |    CASE WHEN LAG(event_type) OVER w IS NULL
      |           OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |runsrc AS (
      |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM flagged),
      |runs AS (
      |  SELECT user_id, run_id, MIN(us) AS vfrom,
      |    MIN(event_type) AS run_type, CAST(count(*) AS BIGINT) AS run_len
      |  FROM runsrc GROUP BY 1, 2),
      |versioned AS (
      |  SELECT *, LEAD(vfrom) OVER (PARTITION BY user_id ORDER BY run_id) AS vto
      |  FROM runs)
      |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN r.run_type IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_matched,
      |  CAST(SUM(CASE WHEN r.run_type = e.event_type THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_type_equal
      |FROM ev e LEFT JOIN versioned r
      |  ON e.user_id = r.user_id AND e.us >= r.vfrom
      |    AND (r.vto IS NULL OR e.us < r.vto)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // ---- timeseries_moving_median: robust series smoothing -------------

  /** 7-day moving (lower) median of the daily total per event type —
    * the robust smoother that a single spiky day cannot drag (unlike
    * the moving average). The base series is one aggregation
    * (date-bounded, model-sized); the median-of-7 evaluates on the
    * sorted window array with an exact integer index, so no float
    * enters. Window partitions are per type over the daily table —
    * series-sized, not data-sized. */
  private val movingMedian: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .select(col("event_type"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("dayidx"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
      .groupBy("event_type", "dayidx").agg(sum("v").as("tot"))
    val w = Window.partitionBy("event_type").orderBy("dayidx").rowsBetween(-6, 0)
    daily
      .withColumn("win", array_sort(collect_list("tot").over(w)))
      .select(col("event_type"), col("dayidx"), col("tot"),
        element_at(col("win"), ((size(col("win")) + 1) / 2).cast("int"))
          .as("med7"))
      .orderBy("event_type", "dayidx")
  }

  private val movingMedianOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS dayidx,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS tot
      |  FROM events GROUP BY 1, 2),
      |wins AS (
      |  SELECT event_type, dayidx, tot,
      |    list_sort(list(tot) OVER (PARTITION BY event_type ORDER BY dayidx
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      |  FROM daily)
      |SELECT event_type, dayidx, tot,
      |  win[CAST((len(win) + 1) // 2 AS INTEGER)] AS med7
      |FROM wins ORDER BY event_type, dayidx""".stripMargin

  val queries: Map[String, Q] = Map(
    "join_scd2_pit" -> joinScd2Pit,
    "timeseries_moving_median" -> movingMedian
  )

  val oracles: Map[String, String] = Map(
    "join_scd2_pit" -> joinScd2PitOracle,
    "timeseries_moving_median" -> movingMedianOracle
  )
}
