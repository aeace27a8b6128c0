package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 50: game-theoretic attribution + 2-D profiling —
  * exact Shapley-value channel attribution (the only attribution
  * scheme that is efficient, symmetric and additive; tractable here
  * because the channel set is small, so the 2ⁿ subset lattice is
  * model-sized), and a two-dimensional histogram over price × quantity
  * (the joint-distribution read 1-D profiles miss).
  */
object Wave50 {

  // ---- events_shapley: exact Shapley channel attribution -------------

  /** Exact Shapley attribution over the 4 non-purchase channels:
    * per converted user, the bitmask of channel types touched BEFORE
    * first purchase (one user-level aggregate — the only data-sized
    * pass); v(S) = conversions whose touch-set ⊆ S via the 16×16
    * subset-sum; φᵢ from the closed-form coalition weights, kept
    * integer by scaling to 24·φ (n = 4 ⇒ weights {6,2,2,6}/24) and
    * rationally rounded at 6 dp. Efficiency (Σφ = v(full) − v(∅))
    * holds by construction and is spec-asserted. */
  private val eventsShapley: Q = (s, dir) => {
    val chans = Seq("click", "view", "signup", "error")
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("event_id"))
    // first-purchase time via a per-user aggregate window instead of the
    // r10 groupBy + join-back: one exchange of the events frame instead
    // of two (guide §2.4 — window keyed like the following aggregate
    // shares its partitioning). INNER-join semantics preserved: users
    // with no purchase have NULL psec and the sec < psec filter drops
    // them exactly as the join did. Per-user partitions are balanced
    // (high-cardinality key) — no global-window cliff.
    val wu = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val touch = ev
      .withColumn("psec",
        min(when(col("event_type") === "purchase", col("sec"))).over(wu))
      .filter(col("sec") < col("psec") && col("event_type") =!= "purchase")
      .select(col("user_id"),
        chans.zipWithIndex.map { case (c, i) =>
          when(col("event_type") === c, 1 << i).otherwise(0)
        }.reduce(_.bitwiseOR(_)).as("bit"))
      .groupBy("user_id")
      .agg(expr("cast(bit_or(bit) as int)").as("mask"))
    val conv = touch.groupBy("mask").agg(count(lit(1)).as("cnt"))
    val masks = s.range(16).select(col("id").cast("int").as("smask"))
    // v(S) = Σ conv[m ⊆ S]
    val v = masks.join(conv, expr("(mask & smask) = mask"), "left")
      .groupBy("smask").agg(coalesce(sum("cnt"), lit(0L)).as("v"))
      .localCheckpoint()
    // φ_i·24 = Σ_{S∌i} w24(|S|)·(v(S∪i) − v(S)); w24 = {6,2,2,6}
    val chanDf = s.createDataFrame(
      chans.zipWithIndex.map { case (c, i) => (c, 1 << i) }
    ).toDF("channel", "cbit")
    val pairs = chanDf.join(v.select(col("smask"), col("v").as("v_s")),
        expr("(smask & cbit) = 0"))
      .join(v.select(col("smask").as("smask2"), col("v").as("v_si")),
        expr("smask2 = (smask | cbit)"))
      .withColumn("w24",
        when(expr("bit_count(smask)") === 0, 6L)
          .when(expr("bit_count(smask)") === 3, 6L).otherwise(2L))
      .groupBy("channel")
      .agg(sum(col("w24") * (col("v_si") - col("v_s"))).as("phi24"))
    val tot = pairs.agg(sum("phi24").as("tot24"))
    pairs.crossJoin(broadcast(tot))
      .select(col("channel"),
        (col("phi24").cast("double") / 24.0).as("phi"),
        (floor(col("phi24").cast("double") / col("tot24").cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6).as("share"))
      .orderBy("channel")
  }

  private val eventsShapleyOracle =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |fp AS (
      |  SELECT user_id, MIN(sec) AS psec FROM ev
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |touch AS (
      |  SELECT e.user_id,
      |    CAST(bit_or(CASE e.event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
      |      WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END) AS INT) AS mask
      |  FROM ev e JOIN fp USING (user_id)
      |  WHERE e.sec < fp.psec AND e.event_type <> 'purchase'
      |  GROUP BY 1),
      |conv AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM touch GROUP BY 1),
      |masks AS (SELECT CAST(i AS INT) AS smask FROM range(16) t(i)),
      |v AS (
      |  SELECT smask, COALESCE(CAST(SUM(cnt) AS BIGINT), 0) AS v
      |  FROM masks LEFT JOIN conv ON (mask & smask) = mask GROUP BY 1),
      |ch AS (
      |  SELECT * FROM (VALUES ('click', 1), ('view', 2), ('signup', 4),
      |    ('error', 8)) AS t(channel, cbit)),
      |pairs AS (
      |  SELECT ch.channel,
      |    CASE WHEN bit_count(vs.smask) IN (0, 3) THEN 6 ELSE 2 END
      |      * (vi.v - vs.v) AS term
      |  FROM ch
      |  JOIN v vs ON (vs.smask & ch.cbit) = 0
      |  JOIN v vi ON vi.smask = (vs.smask | ch.cbit)),
      |phi AS (
      |  SELECT channel, CAST(SUM(term) AS BIGINT) AS phi24
      |  FROM pairs GROUP BY 1),
      |tot AS (SELECT CAST(SUM(phi24) AS BIGINT) AS tot24 FROM phi)
      |SELECT channel, CAST(phi24 AS DOUBLE) / 24.0 AS phi,
      |  CAST(FLOOR(CAST(phi24 AS DOUBLE) / tot24 * 1e6 + 0.5) AS DOUBLE) / 1e6
      |    AS share
      |FROM phi, tot ORDER BY channel""".stripMargin

  // ---- profile_histogram2d: joint price × quantity histogram ---------

  /** 2-D histogram of lineitem (price, quantity): fixed-width bins in
    * both dimensions, one hash aggregate; reports each cell with its
    * share of total mass. The joint read that exposes correlation
    * structure 1-D histograms hide. */
  private val profileHistogram2d: Q = (s, dir) => {
    val binned = Tables.load(s, dir, "lineitem")
      .select(
        floor(col("l_extendedprice").cast("double") / 10000.0).cast("long").as("price_bin"),
        floor(col("l_quantity").cast("double") / 10.0).cast("long").as("qty_bin"))
    val tot = binned.agg(count(lit(1)).as("tot"))
    binned.groupBy("price_bin", "qty_bin")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("price_bin"), col("qty_bin"), col("n"),
        (floor(col("n").cast("double") / col("tot").cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6).as("share"))
      .orderBy("price_bin", "qty_bin")
  }

  private val profileHistogram2dOracle =
    """WITH b AS (
      |  SELECT CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / 10000.0) AS BIGINT)
      |      AS price_bin,
      |    CAST(FLOOR(CAST(l_quantity AS DOUBLE) / 10.0) AS BIGINT) AS qty_bin
      |  FROM lineitem),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM b)
      |SELECT price_bin, qty_bin, CAST(count(*) AS BIGINT) AS n,
      |  CAST(FLOOR(CAST(count(*) AS DOUBLE) / MAX(tot) * 1e6 + 0.5) AS DOUBLE) / 1e6
      |    AS share
      |FROM b, tot GROUP BY price_bin, qty_bin, tot.tot
      |ORDER BY price_bin, qty_bin""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_shapley" -> eventsShapley,
    "profile_histogram2d" -> profileHistogram2d
  )

  val oracles: Map[String, String] = Map(
    "events_shapley" -> eventsShapleyOracle,
    "profile_histogram2d" -> profileHistogram2dOracle
  )
}
