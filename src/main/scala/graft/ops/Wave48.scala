package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 48: graph peeling + running distinct — the k-core of
  * the customer↔supplier purchase graph (iterative degree peeling, the
  * standard dense-subgraph read), and cumulative distinct users per
  * event type over time computed WITHOUT a distinct-per-window
  * (first-occurrence flags + prefix sum — the only way running
  * distinct scales).
  */
object Wave48 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val K = 10
  private val PeelRounds = 12

  // ---- graph_kcore: iterative degree peeling -------------------------

  /** K-core (k = 10) of the bipartite customer–supplier graph: peel
    * nodes of degree < k, recompute degrees on the remaining graph,
    * repeat 12 rounds (the fixture converges well before that — the
    * spec asserts the fixpoint). Each round is degree-aggregate + two
    * semi-joins over the current edge list, checkpointed — the
    * standard Pregel-style cost, no node ever sees more than its
    * neighborhood. Output: surviving nodes with their in-core degree. */
  private val graphKcore: Q = (s, dir) =>
    // the data-sized, skew-prone pass — the orders ⋈ lineitem distinct
    // edge aggregate — is the loop input: pinned and counted under the
    // session conf, then peeled in the superstep scope
    graft.engine.ConfScope.superstepOver(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
          .distinct()) { (edges0, ne, _) =>
      graphKcoreBody(edges0, ne)
    }

  private def graphKcoreBody(edges0: DataFrame, ne: Long): DataFrame = {
    var edges = edges0
    // peeling is monotone: an unchanged edge count proves the surviving
    // set is unchanged (subset + equal size), i.e. the fixpoint — so the
    // driver stops early instead of running no-op rounds (the count
    // rides each round's checkpoint job as an observed metric — r9 ran
    // a separate count() job per round). The 12-round cap stays as the
    // bound the oracle unrolls to.
    var prevCount = ne
    var converged = false
    for (_ <- 1 to PeelRounds if !converged) {
      val cDeg = edges.groupBy("c").agg(count(lit(1)).as("dc"))
        .filter(col("dc") >= K)
      val pDeg = edges.groupBy("p").agg(count(lit(1)).as("dp"))
        .filter(col("dp") >= K)
      val obs = org.apache.spark.sql.Observation()
      edges = edges
        .join(cDeg.select("c"), Seq("c"), "left_semi")
        .join(pDeg.select("p"), Seq("p"), "left_semi")
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      val n = obs.get("n").asInstanceOf[Long]
      converged = n == prevCount
      prevCount = n
    }
    val cOut = edges.groupBy("c").agg(count(lit(1)).as("degree"))
      .select(lit("customer").as("side"), col("c").as("id"), col("degree"))
    val pOut = edges.groupBy("p").agg(count(lit(1)).as("degree"))
      .select(lit("supplier").as("side"), col("p").as("id"), col("degree"))
    cOut.unionByName(pOut).orderBy("side", "id")
  }

  private val graphKcoreOracle: String = {
    val rounds = (1 to PeelRounds).map { r =>
      val pe = if (r == 1) "e0" else s"e${r - 1}"
      s"""cd$r AS MATERIALIZED (
         |  SELECT c FROM $pe GROUP BY c HAVING count(*) >= $K),
         |pd$r AS MATERIALIZED (
         |  SELECT p FROM $pe GROUP BY p HAVING count(*) >= $K),
         |e$r AS MATERIALIZED (
         |  SELECT e.c, e.p FROM $pe e
         |  JOIN cd$r USING (c) JOIN pd$r USING (p))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |$rounds
       |SELECT 'customer' AS side, c AS id, CAST(count(*) AS BIGINT) AS degree
       |FROM e$PeelRounds GROUP BY c
       |UNION ALL
       |SELECT 'supplier', p, CAST(count(*) AS BIGINT) FROM e$PeelRounds GROUP BY p
       |ORDER BY side, id""".stripMargin
  }

  // ---- win_running_distinct: cumulative distinct without distinct ----

  /** Running distinct users per event type by day: a user counts on
    * their FIRST day only (min-day per (type, user) — one aggregate),
    * daily new-user counts then prefix-sum over the calendar-sized
    * day axis. Never materializes a distinct set per window — the
    * only shape that survives at 100 TB. */
  private val winRunningDistinct: Q = (s, dir) => {
    val firstDay = t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"))
      .groupBy("event_type", "user_id")
      .agg(min("day").as("first_day"))
    val daily = firstDay.groupBy(col("event_type"), col("first_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
    daily
      .withColumn("cum_distinct_users",
        sum("new_users").over(Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("event_type", "day")
  }

  private val winRunningDistinctOracle =
    """WITH fd AS (
      |  SELECT event_type, user_id,
      |    MIN(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) AS first_day
      |  FROM events GROUP BY 1, 2),
      |daily AS (
      |  SELECT event_type, first_day AS day, CAST(count(*) AS BIGINT) AS new_users
      |  FROM fd GROUP BY 1, 2)
      |SELECT event_type, day, new_users,
      |  CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_distinct_users
      |FROM daily ORDER BY event_type, day""".stripMargin

  val queries: Map[String, Q] = Map(
    "graph_kcore" -> graphKcore,
    "win_running_distinct" -> winRunningDistinct
  )

  val oracles: Map[String, String] = Map(
    "graph_kcore" -> graphKcoreOracle,
    "win_running_distinct" -> winRunningDistinctOracle
  )
}
