package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Temporal/dimension operators: SCD Type-2 history construction (the
  * lakehouse CDC pattern), calendar arithmetic, and positional window
  * analytics (first/last/nth value).
  *
  * Scale notes: SCD2 is two window passes over the same (user_id) hash
  * partitioning — one shuffle, two in-partition sorts fused by Catalyst;
  * date arithmetic is narrow; positional windows shuffle once on the
  * partition key.
  */
object Temporal {

  /** SCD Type-2 dimension build from an event log: one row per
    * (user, event_type run), valid from its first event until the next
    * type change — `lag` flags change points, `lead` over the changes
    * closes each validity interval; NULL valid_to marks the current row.
    * This is the MERGE-free history form of CDC at 100 TB: append-only
    * input, deterministic versioning, one shuffle on the business key. */
  private val scd2History: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val changes = Tables.load(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val byUserChanges = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    changes
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(byUserChanges))
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("valid_from"),
        unix_timestamp(col("valid_to_ts")).as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  /** Calendar arithmetic family: day/month offsets, month-end, quarter
    * and day-of-year parts — all clamping end-of-month semantics, which
    * Spark's add_months and DuckDB's INTERVAL MONTH share. */
  private val fnDateArith: Q = (s, dir) =>
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"),
      date_add(to_date(col("o_orderdate")), 7).as("plus7d"),
      add_months(to_date(col("o_orderdate")), 3).as("plus3m"),
      last_day(to_date(col("o_orderdate"))).as("month_end"),
      quarter(col("o_orderdate")).cast("bigint").as("q"),
      dayofyear(col("o_orderdate")).cast("bigint").as("doy"),
      to_date(date_trunc("quarter", col("o_orderdate"))).as("q_start"))
    .orderBy("o_orderkey")

  /** Positional window analytics: first, last, and 2nd value of the
    * full partition frame (explicit UNBOUNDED FOLLOWING — last_value over
    * the default frame is the current row, the classic window trap). */
  private val winFirstLast: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        first(col("value")).over(w).as("first_v"),
        last(col("value")).over(w).as("last_v"),
        nth_value(col("value"), 2).over(w).as("second_v"))
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map(
    "scd2_history" -> scd2History,
    "fn_date_arith" -> fnDateArith,
    "win_first_last" -> winFirstLast
  )

  val oracles: Map[String, String] = Map(
    "scd2_history" ->
      """WITH changes AS (
        |  SELECT user_id, event_type, ts, event_id
        |  FROM (SELECT *, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type FROM events)
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type,
        |  CAST(FLOOR(epoch(ts)) AS BIGINT) AS valid_from,
        |  CAST(FLOOR(epoch(LEAD(ts) OVER w)) AS BIGINT) AS valid_to,
        |  (LEAD(ts) OVER w IS NULL) AS is_current
        |FROM changes WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY user_id, valid_from""".stripMargin,
    "fn_date_arith" ->
      """SELECT o_orderkey,
        |CAST(o_orderdate AS DATE) + 7 AS plus7d,
        |CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "win_first_last" ->
      """SELECT event_id, user_id,
        |FIRST_VALUE(value) OVER w AS first_v,
        |LAST_VALUE(value) OVER w AS last_v,
        |NTH_VALUE(value, 2) OVER w AS second_v
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin
  )
}
