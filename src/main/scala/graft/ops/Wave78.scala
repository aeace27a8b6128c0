package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 78: sequential smoothing + community structure —
  * Holt double-exponential smoothing of the daily activity series
  * (level + trend + h-step forecast: the classical operational
  * forecast the one-shot regression queries can't express), and one
  * local-move sweep of Louvain community detection on the brand
  * co-purchase graph (singleton init, exact ΔQ sign test — the first
  * and most informative pass of the modularity-greedy family).
  */
object Wave78 {

  // ---- timeseries_holt: double exponential smoothing -------------------

  /** Holt linear smoothing (α = β = 1/2) of daily event value per
    * type, run as one integer superstep per calendar day: state =
    * (level, trend, Σ|one-step error|) in milli-cents, every halving
    * sign-magnitude half-up rounded so each of the ~29 steps is
    * engine-bit-identical. The state table is model-sized (one row per
    * type); each step joins exactly one calendar slice of the cached
    * daily table (a day the type missed carries state forward
    * unchanged). Output: final level/trend, the 7-day-ahead forecast
    * and the one-step MAE — the honesty column for whether the
    * smoother actually tracked the series. */
  private val timeseriesHolt: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("cast(floor(unix_timestamp(ts) / 86400) as long)").as("day"),
        expr("cast(round(value * 100) as long)").as("c"))
      .groupBy("event_type", "day").agg(sum("c").as("yc"))
      .withColumn("idx", row_number().over(
        Window.partitionBy("event_type").orderBy("day")))
      .withColumn("y", col("yc") * 1000)
    // The smoothing state is (types × 4 longs) and the series is
    // calendar-sized — MODEL-sized at any corpus scale — so the
    // sequential Holt recursion runs on the DRIVER in exact integers
    // (the r07 model-state pattern). The r06 form localCheckpoint'd a
    // state frame per DAY — up to 366 scheduler jobs for arithmetic on
    // a handful of longs. Data-sized work is the one (type, day)
    // aggregate; same half-up smoothing rationals, same output.
    import s.implicits._
    val series: Map[String, Seq[Long]] = daily
      .select("event_type", "idx", "y").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (tpe, rs) =>
        tpe -> rs.sortBy(_._2).map(_._3).toSeq }
    val tMax = series.values.map(_.size).max
    require(tMax <= 366, s"timeseries_holt: $tMax daily steps - cap the window")
    def smHalf(c: Long): Long = c.sign * ((2 * c.abs + 2) / 4)
    val rows = series.toSeq.map { case (tpe, ys) =>
      var l = ys.head
      var tr = if (ys.size >= 2) ys(1) - l else 0L
      var errsum = 0L; var nerr = 0L
      for (tt <- 2 to ys.size) {
        val y = ys(tt - 1)
        val e = math.abs(y - (l + tr))
        val lnew = smHalf(y + l + tr)
        val trnew = smHalf(tr + (lnew - l))
        l = lnew; tr = trnew; errsum += e; nerr += 1
      }
      // a one-day series never enters the error loop (nerr == 0); the
      // pre-r07 Spark `div` emitted a NULL mae there, so mirror that
      // instead of letting BigInt division throw ArithmeticException
      val mae: Option[Double] =
        if (nerr == 0) None
        else Some(((2 * BigInt(errsum) * 1000 + nerr) / (2 * BigInt(nerr)))
          .toDouble / 1e6)
      (tpe, nerr, l.toDouble / 1000, tr.toDouble / 1000,
        (l + tr * 7).toDouble / 1000, mae)
    }.sortBy(_._1)
    rows.toDF("event_type", "n_steps", "level_c", "trend_c",
        "forecast7_c", "mae_c")
      .orderBy("event_type")
  }

  private val timeseriesHoltOracle: String = {
    def smHalf(c: String): String =
      s"CAST(sign($c) AS HUGEINT) * ((2 * abs($c) + 2) // 4)"
    def step(prev: String, cur: String, tt: Int): String =
      s"""$cur AS (
         |  SELECT event_type, l2 AS l,
         |    CASE WHEN ynull THEN tr ELSE ${smHalf("(tr + (l2 - l))")} END AS tr,
         |    errsum, nerr
         |  FROM (
         |    SELECT p.event_type, p.l, p.tr, d.y IS NULL AS ynull,
         |      CASE WHEN d.y IS NULL THEN p.l
         |        ELSE ${smHalf("(d.y + p.l + p.tr)")} END AS l2,
         |      p.errsum + COALESCE(abs(d.y - (p.l + p.tr)), 0) AS errsum,
         |      p.nerr + CASE WHEN d.y IS NULL THEN 0 ELSE 1 END AS nerr
         |    FROM $prev p LEFT JOIN (SELECT event_type, y FROM daily
         |      WHERE idx = $tt) d USING (event_type)))""".stripMargin
    // tMax is pinned to the fixture's 30-day calendar; the Spark side
    // derives it from the data and the spec cross-checks both agree
    val steps = (2 to 30).map(i => step(if (i == 2) "s1" else s"s${i - 1}", s"s$i", i))
      .mkString(",\n")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT event_type, day,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx,
       |    yc * 1000 AS y
       |  FROM (
       |    SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
       |      SUM(CAST(round(value * 100) AS BIGINT)) AS yc
       |    FROM events GROUP BY 1, 2)),
       |s1 AS (
       |  SELECT a.event_type, a.y AS l,
       |    COALESCE(b.y - a.y, 0) AS tr,
       |    CAST(0 AS HUGEINT) AS errsum, CAST(0 AS BIGINT) AS nerr
       |  FROM (SELECT event_type, y FROM daily WHERE idx = 1) a
       |  LEFT JOIN (SELECT event_type, y FROM daily WHERE idx = 2) b
       |    USING (event_type)),
       |$steps
       |SELECT event_type, nerr AS n_steps,
       |  CAST(l AS DOUBLE) / 1000 AS level_c,
       |  CAST(tr AS DOUBLE) / 1000 AS trend_c,
       |  CAST(l + 7 * tr AS DOUBLE) / 1000 AS forecast7_c,
       |  CAST((2 * errsum * 1000 + nerr) // (2 * nerr) AS DOUBLE) / 1e6 AS mae_c
       |FROM s30 ORDER BY event_type""".stripMargin
  }

  // ---- graph_community_move: one Louvain local-move sweep --------------

  /** One synchronous local-move sweep of Louvain over the brand
    * co-purchase graph from singleton communities: node i joins its
    * best neighbor j iff the exact ΔQ sign test 2m − d_i·d_j > 0 holds
    * (argmax of ΔQ over neighbors = min d_j, ties by name — all
    * integer), the chosen edges' undirected components become the
    * communities (min-label propagation, 12 fixed double-hops — a
    * provable bound, since the brand graph is catalog-sized and the
    * guard enforces it), and each community reports its exact
    * modularity contribution (the Wave60 micro rationals). */
  private val graphCommunityMove: Q = (s, dir) => {
    // Catalog-sized graph (≤64 brands enforced below) → the sweep,
    // the 12×2-hop min-label propagation and the modularity report all
    // run on the DRIVER in exact integers (the r07 model-state
    // pattern): the r06 distributed form paid 13 localCheckpoint jobs
    // on ≤64-row frames. Data-sized work stays in the shared
    // materialized BrandGraph pass. Semantics bit-identical: same ΔQ
    // sign test, same (d_j, j) argmax, 24 hops ≥ any diameter the
    // require admits, same micro rationals.
    import s.implicits._
    val e = BrandGraph.edges(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val m = e.length.toLong
    val bidir = e ++ e.map { case (u, v) => (v, u) }
    val deg: Map[String, Long] =
      bidir.groupBy(_._1).map { case (x, xs) => x -> xs.length.toLong }
    val nodes = deg.keys.toSeq.sorted
    require(nodes.size <= 64,
      s"graph_community_move: ${nodes.size} nodes - the label loop bound assumes a catalog-sized graph")
    val choice = bidir
      .filter { case (i, j) => 2L * m > deg(i) * deg(j) }
      .groupBy(_._1)
      .map { case (i, js) =>
        (i, js.map(_._2).minBy(j => (deg(j), j))) }
      .toSeq
    val chosen: Set[(String, String)] =
      (choice ++ choice.map { case (i, j) => (j, i) }).toSet
    var lbl: Map[String, String] = nodes.map(x => x -> x).toMap
    def hop(l: Map[String, String]): Map[String, String] =
      nodes.map { v =>
        val inbound = chosen.collect { case (i, j) if j == v => l(i) }
        v -> (inbound + l(v)).min
      }.toMap
    for (_ <- 1 to 12) lbl = hop(hop(lbl))
    val comms = nodes.groupBy(lbl)
    val rows = comms.toSeq.map { case (c, vs) =>
      val vset = vs.toSet
      val eIn = e.count { case (u, v) => vset(u) && vset(v) }.toLong
      val dSum = vs.map(deg).sum
      val qnum = BigInt(4) * eIn * m - BigInt(dSum) * dSum
      val qmag = (2 * qnum.abs * 1000000 + 4 * m * m) / (2 * 4 * m * m)
      val q = (if (qnum < 0) -qmag else qmag).toDouble / 1e6
      (c, vs.size.toLong, eIn, dSum, q)
    }.sortBy(_._1)
    rows.toDF("community", "n_nodes", "e_in", "d_sum", "q_contrib")
      .orderBy("community")
  }

  private val graphCommunityMoveOracle =
    """WITH RECURSIVE basket AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM basket),
      |edges AS MATERIALIZED (
      |  SELECT a.brand AS u, b.brand AS v
      |  FROM basket a JOIN basket b ON a.ok = b.ok AND a.brand < b.brand
      |  GROUP BY 1, 2
      |  HAVING count(*) * 50 >= (SELECT n_orders FROM tot)),
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
      |bidir AS (SELECT u AS i, v AS j FROM edges UNION ALL SELECT v, u FROM edges),
      |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM (
      |  SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges) GROUP BY 1),
      |choice AS (
      |  SELECT i, j FROM (
      |    SELECT b.i, b.j,
      |      row_number() OVER (PARTITION BY b.i ORDER BY dj.d, b.j) AS rk
      |    FROM bidir b
      |    JOIN deg di ON di.x = b.i JOIN deg dj ON dj.x = b.j, mm
      |    WHERE 2 * mm.m > di.d * dj.d)
      |  WHERE rk = 1),
      |chosen AS (SELECT DISTINCT i, j FROM (
      |  SELECT i, j FROM choice UNION ALL SELECT j, i FROM choice)),
      |reach(v, r) AS (
      |  SELECT x, x FROM deg
      |  UNION
      |  SELECT c.j, r.r FROM reach r JOIN chosen c ON c.i = r.v),
      |lbl AS (SELECT v, MIN(r) AS community FROM reach GROUP BY v),
      |degc AS (
      |  SELECT community, CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(SUM(d) AS BIGINT) AS d_sum
      |  FROM deg JOIN lbl ON lbl.v = deg.x GROUP BY 1),
      |ec AS (
      |  SELECT lu.community, CAST(count(*) AS BIGINT) AS e_in
      |  FROM edges e JOIN lbl lu ON lu.v = e.u JOIN lbl lv ON lv.v = e.v
      |  WHERE lu.community = lv.community GROUP BY 1)
      |SELECT community, n_nodes, e_in, d_sum,
      |  CAST((CASE WHEN qnum < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(qnum) * 1000000 + den) // (2 * den))
      |    AS DOUBLE) / 1e6 AS q_contrib
      |FROM (
      |  SELECT d.community, d.n_nodes, COALESCE(ec.e_in, 0) AS e_in, d.d_sum,
      |    4 * COALESCE(ec.e_in, 0)::HUGEINT * m - d.d_sum::HUGEINT * d.d_sum
      |      AS qnum,
      |    4 * m::HUGEINT * m AS den
      |  FROM degc d LEFT JOIN ec ON ec.community = d.community, mm)
      |ORDER BY community""".stripMargin

  val queries: Map[String, Q] = Map(
    "timeseries_holt" -> timeseriesHolt,
    "graph_community_move" -> graphCommunityMove
  )

  val oracles: Map[String, String] = Map(
    "timeseries_holt" -> timeseriesHoltOracle,
    "graph_community_move" -> graphCommunityMoveOracle
  )
}
