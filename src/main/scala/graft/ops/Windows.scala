package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Window-function surface (SURVEY.md §2.5): ranking, analytic (lag/lead),
  * frame aggregates, top-k per group. All windows are partitioned, so at
  * 100 TB every window is a single hash-partitioned shuffle on the
  * partition key followed by an in-partition sort — no global sort, no
  * driver involvement. Unpartitioned (global) windows are deliberately
  * absent from the engine surface: they serialize onto one task.
  */
object Windows {

  /** Top-K most frequent values per column of one table — the profiler's
    * "top 10 values" UX over the histogram (SURVEY §2.5
    * win_topk_per_group). Ranks the profile_histogram output itself. */
  private val winTopkPerGroup: Q = (s, dir) =>
    // native bounded top-k aggregate (see Wave3.profile_topk_all): one
    // aggregation pass, k entries per group-partition through the
    // shuffle, no window sort — row_number tie semantics preserved
    // (count desc, value asc NULLS FIRST, binary collation; histogram
    // rows are unique per group so the order is total). The two-phase
    // window form of the same idea lives in Wave3.sim_knn_join.
    Profiler.histogramAgg(s, dir, Seq(Tables.meta("orders")))
      .groupBy("tableName", "columnName")
      .agg(graft.functions.Native.topKCountAgg(col("value"), col("cnt"), 3).as("topk"))
      .select(col("tableName"), col("columnName"), posexplode(col("topk")))
      .select(col("tableName"), col("columnName"),
        col("col.value").as("value"),
        col("col.cnt").cast("float").as("num_records"),
        (col("pos") + 1).cast("bigint").as("rn"))
      .orderBy("tableName", "columnName", "rn")

  /** The DECLARATIVE top-k-per-group pattern (row_number <= k), left to
    * the optimizer: Spark's InferWindowGroupLimit plans a PARTIAL
    * WindowGroupLimit below the exchange, so the shuffle carries at most
    * k rows per (group × map partition) instead of every row — the
    * declarative twin of the native bounded top-k aggregate
    * (win_topk_per_group). Registered to pin that a user writing the
    * plain window idiom still gets the bounded-shuffle plan
    * (plan-asserted in PhysicalPlanSpec); the ordering is total
    * (acctbal, custkey) so row_number is deterministic cross-engine. */
  private val winTopkDeclarative: Q = (s, dir) => {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        row_number().over(w).cast("bigint").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("c_nationkey", "rn")
  }

  /** Ranking family: rank / dense_rank / ntile (SURVEY §2.5 win_rank_dense). */
  private val winRankDense: Q = (s, dir) => {
    val w = Window.partitionBy("c_nationkey").orderBy(asc("c_acctbal"), asc("c_custkey"))
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        rank().over(w).cast("bigint").as("rnk"),
        dense_rank().over(w).cast("bigint").as("drnk"),
        ntile(4).over(w).cast("bigint").as("quartile"))
      .orderBy("c_custkey")
  }

  /** Analytic lag/lead over event time per user — the as-of substrate
    * (SURVEY §2.5 win_analytic). */
  private val winAnalytic: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        first(col("event_type")).over(w).as("first_type"))
      .orderBy("event_id")
  }

  /** Rolling frame aggregate: 7-row moving sum/count of events.value per
    * user (SURVEY §2.5 win_frame_agg). Decimal sum keeps the frame
    * aggregate exact and engine-portable. */
  private val winFrameAgg: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(-6, 0)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("mov_sum"),
        count(lit(1)).over(w).as("mov_n"))
      .orderBy("event_id")
  }

  /** Distribution family: percent_rank / cume_dist — exact rationals,
    * identical formulas in both engines (SURVEY §2.5 ranking family). */
  private val winDistribution: Q = (s, dir) => {
    val w = Window.partitionBy("c_nationkey").orderBy(asc("c_acctbal"), asc("c_custkey"))
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("c_custkey")
  }

  val queries: Map[String, Q] = Map(
    "win_distribution" -> winDistribution,
    "win_topk_per_group" -> winTopkPerGroup,
    "win_topk_declarative" -> winTopkDeclarative,
    "win_rank_dense" -> winRankDense,
    "win_analytic" -> winAnalytic,
    "win_frame_agg" -> winFrameAgg
  )

  val oracles: Map[String, String] = Map(
    "win_topk_declarative" ->
      """SELECT c_custkey, c_nationkey, c_acctbal, rn FROM (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rn
        |  FROM customer)
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,
    "win_distribution" ->
      """SELECT c_custkey, c_nationkey,
        |PERCENT_RANK() OVER w AS prank,
        |CUME_DIST() OVER w AS cdist
        |FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC) ORDER BY c_custkey""".stripMargin,
    "win_topk_per_group" -> {
      val inner = Tables.meta("orders").atomicCols.map { c =>
        s"""SELECT 'orders' AS tableName, '${c.name}' AS columnName, value, CAST(COUNT(*) AS REAL) AS num_records FROM (SELECT ${Profiler.duckFmtValue(c)} AS value FROM orders) GROUP BY value"""
      }.mkString(" UNION ALL ")
      s"""SELECT tableName, columnName, value, num_records, rn FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY tableName, columnName ORDER BY num_records DESC, value ASC NULLS FIRST) AS BIGINT) AS rn FROM ($inner)) WHERE rn <= 3 ORDER BY tableName, columnName, rn"""
    },
    "win_rank_dense" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |CAST(RANK() OVER w AS BIGINT) AS rnk,
        |CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        |CAST(NTILE(4) OVER w AS BIGINT) AS quartile
        |FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC) ORDER BY c_custkey""".stripMargin,
    "win_analytic" ->
      """SELECT event_id, user_id,
        |LAG(value, 1) OVER w AS prev_value,
        |LEAD(event_type, 1) OVER w AS next_type,
        |FIRST_VALUE(event_type) OVER w AS first_type
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) ORDER BY event_id""".stripMargin,
    "win_frame_agg" ->
      """SELECT event_id, user_id,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_sum,
        |CAST(COUNT(*) OVER w AS BIGINT) AS mov_n
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) ORDER BY event_id""".stripMargin
  )
}
