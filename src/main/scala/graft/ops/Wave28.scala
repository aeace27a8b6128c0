package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 28: RFM customer scoring (three global quintile ranks
  * on the empty-group kernel), conversion-latency median by mass
  * crossing, and bitmap-chunked EXACT distinct counting (the mergeable
  * alternative to HLL when the id domain is dense).
  */
object Wave28 {

  // ---- events_rfm: recency/frequency/monetary quintile cells ---------

  /** RFM segmentation: per user, recency (days since last event),
    * frequency (event count) and monetary (total value), each ranked
    * GLOBALLY into quintiles — three empty-group two-phase ranks over
    * the user-sized frame (exactly the kernel's job: a total order
    * over a data-sized frame with NO single-partition window), quintile
    * = the closed-form ntile both engines compute arithmetically. The
    * output is the 5x5x5 cell histogram — model-sized, the marketing
    * segmentation table. */
  private val eventsRfm: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
    // the global max day = max over users of their last day, so it
    // rides the per-user aggregate's checkpoint as an observed metric —
    // the r9 form paid a SECOND full events scan to build a one-row
    // broadcast of the same value (guide §2.4: don't recompute what a
    // pass already knows)
    val obs = org.apache.spark.sql.Observation()
    val perUser0 = ev
      .groupBy("user_id")
      .agg(max(floor(unix_timestamp(col("ts")) / 86400).cast("long")).as("last_day"),
        count(lit(1)).as("freq"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("long")).as("mon"))
      .observe(obs, max("last_day").as("max_day"))
      .localCheckpoint()
    // null only when the frame is empty (no rows downstream anyway)
    val maxDay = obs.get("max_day") match {
      case l: java.lang.Long => l.longValue
      case _ => 0L
    }
    val perUser = perUser0
      .select(col("user_id"), (lit(maxDay) - col("last_day")).as("recency"),
        col("freq"), col("mon"))
    def quintile(df: DataFrame, order: Seq[org.apache.spark.sql.Column],
        out: String): DataFrame = {
      val ranked = Ranks.perGroupRank(df, Seq.empty, order, "__r", "__n",
        ConfScope.shufflePartitions(s))
      ranked.withColumn(out, Ranks.ntileExpr(col("__r"), col("__n"), 5).cast("bigint"))
        .drop("__r", "__n")
    }
    // recency: smaller = better = bin 1; frequency/monetary: larger = bin 5
    val binned = quintile(
      quintile(
        quintile(perUser, Seq(col("recency").asc, col("user_id").asc), "r_bin"),
        Seq(col("freq").asc, col("user_id").asc), "f_bin"),
      Seq(col("mon").asc, col("user_id").asc), "m_bin")
    binned.groupBy("r_bin", "f_bin", "m_bin")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("r_bin", "f_bin", "m_bin")
  }

  private val eventsRfmOracle = {
    val ntile5 =
      (i: String, n: String) =>
        s"""CASE WHEN $i <= ($n % 5) * ($n // 5 + 1)
           |  THEN ($i - 1) // ($n // 5 + 1) + 1
           |  ELSE ($n % 5) + ($i - ($n % 5) * ($n // 5 + 1) - 1)
           |         // GREATEST($n // 5, 1) + 1 END""".stripMargin
    s"""WITH per_user AS (
       |  SELECT user_id,
       |    (SELECT MAX(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) FROM events)
       |      - MAX(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) AS recency,
       |    CAST(count(*) AS BIGINT) AS freq,
       |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS mon
       |  FROM events GROUP BY user_id),
       |ranked AS (
       |  SELECT user_id, recency, freq, mon,
       |    CAST(ROW_NUMBER() OVER (ORDER BY recency ASC, user_id ASC) AS BIGINT) AS ri,
       |    CAST(ROW_NUMBER() OVER (ORDER BY freq ASC, user_id ASC) AS BIGINT) AS fi,
       |    CAST(ROW_NUMBER() OVER (ORDER BY mon ASC, user_id ASC) AS BIGINT) AS mi,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n
       |  FROM per_user),
       |binned AS (
       |  SELECT CAST(${ntile5("ri", "n")} AS BIGINT) AS r_bin,
       |    CAST(${ntile5("fi", "n")} AS BIGINT) AS f_bin,
       |    CAST(${ntile5("mi", "n")} AS BIGINT) AS m_bin
       |  FROM ranked)
       |SELECT r_bin, f_bin, m_bin, CAST(count(*) AS BIGINT) AS n_users
       |FROM binned GROUP BY 1, 2, 3 ORDER BY r_bin, f_bin, m_bin""".stripMargin
  }

  // ---- events_time_to_convert: conversion-latency median -------------

  /** Median view→purchase latency: conversion pairs are the
    * stream_join interval pairs (per-user equi-join, 30-minute
    * horizon, first purchase per view in (latency, purchase_id) order);
    * the median latency is the mass-crossing rule on the prefix-sum
    * kernel (weight 1 per conversion) — the distributed exact median,
    * no global sort. Latencies are whole seconds. */
  private val eventsTimeToConvert: Q = (s, dir) => {
    val e = Tables.load(s, dir, "events")
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    val pairs = v.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("interval 30 minutes"))
      .select(col("view_id"), col("purchase_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("view_ts")))
          .as("latency_s"))
    val first = Ranks.perGroupTopK(pairs, Seq("view_id"),
      Seq(col("latency_s").asc, col("purchase_id").asc), 1)
      .select(col("view_id"), col("latency_s"))
    // unit weights make the prefix sum a RANK, and the rank kernel
    // carries the total as a free column — the r9 form re-derived it
    // with a max aggregate + broadcast crossJoin
    val cum = Ranks.perGroupRank(first, Seq.empty,
      Seq(col("latency_s").asc, col("view_id").asc), "cum", "tot", ConfScope.shufflePartitions(s))
    cum
      .filter(col("cum") * 2 >= col("tot") && (col("cum") - 1) * 2 < col("tot"))
      .agg(min("latency_s").as("median_latency_s"), max("tot").as("n_conversions"))
  }

  private val eventsTimeToConvertOracle =
    """WITH v AS (SELECT user_id, ts AS view_ts, event_id AS view_id
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id AS p_user, ts AS purchase_ts, event_id AS purchase_id
      |      FROM events WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT view_id, purchase_id,
      |    CAST(FLOOR(epoch(purchase_ts)) - FLOOR(epoch(view_ts)) AS BIGINT) AS latency_s
      |  FROM v JOIN p ON user_id = p_user
      |    AND purchase_ts >= view_ts AND purchase_ts <= view_ts + INTERVAL 30 MINUTE),
      |first AS (
      |  SELECT view_id, latency_s FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY view_id
      |      ORDER BY latency_s ASC, purchase_id ASC) AS rn FROM pairs)
      |  WHERE rn = 1),
      |c AS (
      |  SELECT latency_s,
      |    CAST(ROW_NUMBER() OVER (ORDER BY latency_s ASC, view_id ASC) AS BIGINT) AS cum,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS tot
      |  FROM first)
      |SELECT MIN(latency_s) AS median_latency_s, MAX(tot) AS n_conversions
      |FROM c WHERE cum * 2 >= tot AND (cum - 1) * 2 < tot""".stripMargin

  // ---- agg_bitmap_distinct: exact mergeable distinct via bitmaps -----

  /** EXACT distinct users per event type via 32-bit bitmap chunks:
    * each user sets bit (user_id % 32) in chunk (user_id / 32), chunks
    * combine with BIT_OR (associative and mergeable — map-side partial
    * aggregation works, unlike COUNT DISTINCT's row shuffle), and the
    * count is the popcount sum over the chunk table. For dense id
    * domains this is the exact, mergeable alternative to HLL: state is
    * domain/8 bytes sharded across (type, chunk) rows, never a row
    * per distinct value in the shuffle. The exact twin (countDistinct)
    * is joined in-query so the contract is self-checking. */
  private val aggBitmapDistinct: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(col("event_type"), col("user_id"))
    val bm = ev
      .select(col("event_type"), (col("user_id") / 32).cast("long").as("chunk"),
        expr("CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)").as("bit"))
      .groupBy("event_type", "chunk")
      .agg(bit_or(col("bit")).as("bits"))
      .groupBy("event_type")
      .agg(sum(bit_count(col("bits")).cast("long")).as("n_bitmap"),
        count(lit(1)).as("n_chunks"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    bm.join(exact, "event_type")
      .select(col("event_type"), col("n_bitmap"), col("n_exact"), col("n_chunks"))
      .orderBy("event_type")
  }

  private val aggBitmapDistinctOracle =
    """WITH bm AS (
      |  SELECT event_type, user_id // 32 AS chunk,
      |    BIT_OR(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS bits
      |  FROM events GROUP BY 1, 2),
      |agg AS (
      |  SELECT event_type, CAST(SUM(bit_count(bits)) AS BIGINT) AS n_bitmap,
      |    CAST(count(*) AS BIGINT) AS n_chunks
      |  FROM bm GROUP BY 1),
      |exact AS (
      |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      |  FROM events GROUP BY 1)
      |SELECT a.event_type, a.n_bitmap, e.n_exact, a.n_chunks
      |FROM agg a JOIN exact e USING (event_type)
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_rfm" -> eventsRfm,
    "events_time_to_convert" -> eventsTimeToConvert,
    "agg_bitmap_distinct" -> aggBitmapDistinct
  )

  val oracles: Map[String, String] = Map(
    "events_rfm" -> eventsRfmOracle,
    "events_time_to_convert" -> eventsTimeToConvertOracle,
    "agg_bitmap_distinct" -> aggBitmapDistinctOracle
  )
}
