package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 26: the distributed interval sweep (peak concurrency),
  * the Lorenz curve (Gini's decile-resolved companion), hierarchical
  * share-of-parent rollups, and key-multiplicity profiling (the
  * histogram of per-key cardinalities that predicts join skew).
  */
object Wave26 {

  // ---- events_concurrency: peak concurrent sessions by sweep ---------

  /** Peak number of concurrent user sessions (30-minute gap
    * sessionization, the stream_session definition): the classic
    * interval sweep — every session contributes (+1 at start, -1 after
    * end), the global running sum of deltas IS the concurrency curve,
    * and its max is the peak. The sweep's global cumulative runs on
    * the two-phase prefix-sum kernel with an EMPTY group (balanced
    * range partitions over the timeline — no single-task sort at any
    * scale; the text_rarity precedent). Ends sort before starts at
    * equal timestamps (delta ascending), making the count
    * end-exclusive. Reports the peak, when it first occurs, and the
    * session count. */
  private val eventsConcurrency: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val sessions = Tables.load(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(unix_timestamp(min("ts")).as("t_start"),
        unix_timestamp(max("ts")).as("t_end"))
      // pinned ONCE: the r9 form recomputed the whole sessionize chain
      // (per-user windows + aggregate) three times — both bound selects
      // and the n_sessions count each replayed it
      .localCheckpoint()
    val bounds = sessions
      .select(col("user_id"), col("session_id"), col("t_start").as("t"), lit(1L).as("delta"))
      .unionByName(sessions.select(col("user_id"), col("session_id"),
        col("t_end").as("t"), lit(-1L).as("delta")))
    val swept = Ranks.perGroupPrefixSum(bounds, Seq.empty,
      Seq(col("t").asc, col("delta").asc, col("user_id").asc, col("session_id").asc),
      col("delta"), "conc", ConfScope.shufflePartitions(s))
    // peak, its first timestamp, and the session count in ONE aggregate
    // pass: max(struct(conc, -t)) picks the max concurrency then the
    // smallest t among its rows — exactly the peak + min-t-filter pair
    // the r9 form computed with a second full pass over the sweep plus
    // two broadcast crossJoins; n_sessions = half the bound rows (every
    // session contributes exactly one start and one end).
    swept.agg(
        max(struct(col("conc"), (-col("t")).as("negt"))).as("m"),
        expr("count(1) div 2").as("n_sessions"))
      .select(col("m.conc").as("peak"), (-col("m.negt")).as("first_peak_t"),
        col("n_sessions"))
  }

  private val eventsConcurrencyOracle =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sess AS (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
      |    ts FROM flagged),
      |iv AS (
      |  SELECT user_id, session_id,
      |    CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS t_start,
      |    CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS t_end
      |  FROM sess GROUP BY 1, 2),
      |bounds AS (
      |  SELECT user_id, session_id, t_start AS t, CAST(1 AS BIGINT) AS delta FROM iv
      |  UNION ALL
      |  SELECT user_id, session_id, t_end AS t, CAST(-1 AS BIGINT) AS delta FROM iv),
      |swept AS (
      |  SELECT t, CAST(SUM(delta) OVER (ORDER BY t ASC, delta ASC, user_id ASC, session_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
      |  FROM bounds),
      |pk AS (SELECT MAX(conc) AS peak FROM swept)
      |SELECT pk.peak,
      |  (SELECT MIN(t) FROM swept, pk WHERE conc = pk.peak) AS first_peak_t,
      |  (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_sessions
      |FROM pk""".stripMargin

  // ---- profile_lorenz: decile-resolved concentration -----------------

  /** Lorenz curve per event type: for each value decile (closed-form
    * ntile over the two-phase rank — the first n mod 10 deciles take
    * the extra row, both engines computing the SAME arithmetic rather
    * than trusting NTILE tie conventions), the cumulative share of
    * total value held by that decile and below. Decile sums are exact
    * micro longs; the cumulative runs over the model-sized (type x 10)
    * aggregate; shares are single rounded divisions. Reads with
    * profile_gini: the Gini is 1 - 2*AUC of this curve. */
  private val profileLorenz: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"), col("event_id"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
    val ranked = Ranks.perGroupRank(ev, Seq("event_type"),
      Seq(col("v").asc, col("event_id").asc), "i", "n", ConfScope.shufflePartitions(s))
    val byDecile = ranked
      .withColumn("decile", Ranks.ntileExpr(col("i"), col("n"), 10).cast("bigint"))
      .groupBy("event_type", "decile")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("dv"))
    val wCum = Window.partitionBy("event_type").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    byDecile
      .withColumn("cum_v", sum("dv").over(wCum))
      .withColumn("tot_v", sum("dv").over(Window.partitionBy("event_type")))
      .select(col("event_type"), col("decile"), col("n_rows"),
        round(col("cum_v").cast("double") / col("tot_v").cast("double"), 6)
          .as("cum_share"))
      .orderBy("event_type", "decile")
  }

  private val profileLorenzOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v ASC, event_id ASC) AS BIGINT) AS i,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM ev),
      |d AS (
      |  SELECT event_type, v,
      |    CASE WHEN i <= (n % 10) * (n // 10 + 1)
      |      THEN (i - 1) // (n // 10 + 1) + 1
      |      ELSE (n % 10) + (i - (n % 10) * (n // 10 + 1) - 1)
      |             // GREATEST(n // 10, 1) + 1 END AS decile
      |  FROM r),
      |agg AS (
      |  SELECT event_type, CAST(decile AS BIGINT) AS decile,
      |    CAST(count(*) AS BIGINT) AS n_rows, CAST(SUM(v) AS BIGINT) AS dv
      |  FROM d GROUP BY 1, 2)
      |SELECT event_type, decile, n_rows,
      |  round(CAST(SUM(dv) OVER (PARTITION BY event_type ORDER BY decile
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(SUM(dv) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS cum_share
      |FROM agg ORDER BY event_type, decile""".stripMargin

  // ---- agg_share_of_parent: hierarchical rollup shares ---------------

  /** Revenue rollup with share-of-parent at every level of the
    * region > nation hierarchy: nation revenue, its share of the
    * region, and the region's share of the global total — the standard
    * drill-down report. Revenue is exact DECIMAL arithmetic
    * (extendedprice x (1 - discount), both cast before multiplying);
    * the two parent totals are model-sized broadcasts; shares are
    * single rounded divisions of exact decimals. The join path is the
    * snowflake chain — fixed catalog dims (nation/region) broadcast,
    * the entity-scaled customer dim joins size-chosen. */
  private val aggShareOfParent: Q = (s, dir) => {
    val rev = Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      // customer is entity-scaled: size-chosen join, no forced broadcast
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"),
        (col("l_extendedprice").cast("decimal(18,6)") *
          (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
          .as("rev"))
    val byNation = rev.groupBy("r_name", "n_name")
      .agg(sum("rev").cast("decimal(38,6)").as("nation_rev"))
    val byRegion = byNation.groupBy("r_name")
      .agg(sum("nation_rev").cast("decimal(38,6)").as("region_rev"))
    val total = byRegion.agg(sum("region_rev").cast("decimal(38,6)").as("total_rev"))
    byNation.join(broadcast(byRegion), "r_name")
      .crossJoin(broadcast(total))
      .select(col("r_name"), col("n_name"),
        round(col("nation_rev"), 2).cast("double").as("nation_rev"),
        round((col("nation_rev") / col("region_rev")).cast("double"), 6)
          .as("share_of_region"),
        round((col("region_rev") / col("total_rev")).cast("double"), 6)
          .as("region_share"))
      .orderBy("r_name", "n_name")
  }

  private val aggShareOfParentOracle =
    """WITH rev AS (
      |  SELECT r_name, n_name,
      |    CAST(l_extendedprice AS DECIMAL(18,6)) *
      |      (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) AS rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |bn AS (SELECT r_name, n_name, CAST(SUM(rev) AS DECIMAL(38,6)) AS nation_rev
      |       FROM rev GROUP BY 1, 2),
      |br AS (SELECT r_name, CAST(SUM(nation_rev) AS DECIMAL(38,6)) AS region_rev
      |       FROM bn GROUP BY 1),
      |tot AS (SELECT CAST(SUM(region_rev) AS DECIMAL(38,6)) AS total_rev FROM br)
      |SELECT bn.r_name, bn.n_name,
      |  CAST(round(bn.nation_rev, 2) AS DOUBLE) AS nation_rev,
      |  round(CAST(bn.nation_rev / br.region_rev AS DOUBLE), 6) AS share_of_region,
      |  round(CAST(br.region_rev / tot.total_rev AS DOUBLE), 6) AS region_share
      |FROM bn JOIN br USING (r_name) CROSS JOIN tot
      |ORDER BY r_name, n_name""".stripMargin

  // ---- profile_multiplicity: key-cardinality histogram ---------------

  /** Histogram of key multiplicities for the fact join key: how many
    * l_orderkey values appear exactly k times — the one-page skew
    * diagnostic that predicts shuffle-join behavior (a long tail of
    * high-k keys means salting; a point mass at k=1 means the key is
    * near-unique). Two chained aggregations, both map-side partial. */
  private val profileMultiplicity: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_keys"))
      .select(col("k"), col("n_keys"),
        (col("k") * col("n_keys")).as("n_rows"))
      .orderBy("k")

  private val profileMultiplicityOracle =
    """SELECT k, CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(k * count(*) AS BIGINT) AS n_rows
      |FROM (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
      |      FROM lineitem GROUP BY l_orderkey)
      |GROUP BY k ORDER BY k""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_concurrency" -> eventsConcurrency,
    "profile_lorenz" -> profileLorenz,
    "agg_share_of_parent" -> aggShareOfParent,
    "profile_multiplicity" -> profileMultiplicity
  )

  val oracles: Map[String, String] = Map(
    "events_concurrency" -> eventsConcurrencyOracle,
    "profile_lorenz" -> profileLorenzOracle,
    "agg_share_of_parent" -> aggShareOfParentOracle,
    "profile_multiplicity" -> profileMultiplicityOracle
  )
}
