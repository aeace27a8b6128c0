package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 21: classic OLAP / data-mining operators the earlier
  * waves had not covered — the Pareto frontier (skyline), weighted
  * sampling without replacement, time-weighted averages, association
  * rules (market-basket lift), CUSUM sequential drift detection (on the
  * new prefix-min kernel), and Poisson-bootstrap confidence intervals.
  *
  * Every query follows the repo's exactness discipline: money/values as
  * integer micro-units, ratios as one rounded division of exact
  * integers, randomness as the portable md5 view ([[Hashing]]) so the
  * DuckDB oracle replays bit-identical draws.
  */
object Wave21 {

  // ---- skyline_pareto: the Pareto frontier (maximize size, minimize
  // price) without an all-pairs dominance join ------------------------

  /** Parts on the (p_size max, p_retailprice min) Pareto frontier: a
    * part is dominated iff some part has size >= and price <= with at
    * least one strict. The classic skyline operator — computed WITHOUT
    * the quadratic NOT EXISTS self-join: per-size min prices are a
    * model-sized aggregate (|distinct sizes| rows), the exclusive
    * "best price among strictly larger sizes" is a tiny broadcast
    * theta-join over that aggregate, and the frontier test is a narrow
    * broadcast-join filter over the base table. At 100 TB the plan is
    * one shuffle (groupBy size) + one broadcast join; the oracle is the
    * independent quadratic formulation, so the compare proves the
    * sort-free rewrite. For higher-dimensional skylines the same
    * per-block pre-aggregation is the standard grid-pruning step. */
  private val skylinePareto: Q = (s, dir) => {
    val p = Tables.load(s, dir, "part")
    val perSize = p.groupBy("p_size").agg(min("p_retailprice").as("minp"))
    val runmin = perSize.as("a")
      .join(perSize.as("b"), col("b.p_size") > col("a.p_size"), "left")
      .groupBy(col("a.p_size").as("p_size"), col("a.minp").as("minp"))
      .agg(min(col("b.minp")).as("better"))
    p.join(broadcast(runmin), "p_size")
      .filter(col("p_retailprice") === col("minp") &&
        (col("better").isNull || col("p_retailprice") < col("better")))
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .orderBy("p_size", "p_partkey")
  }

  private val skylineParetoOracle =
    """SELECT p_partkey, p_size, p_retailprice FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_size >= a.p_size AND b.p_retailprice <= a.p_retailprice
      |    AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice))
      |ORDER BY p_size, p_partkey""".stripMargin

  // ---- sample_weighted: A-Res weighted sampling without replacement -

  /** Weighted sample of 100 documents without replacement, probability
    * proportional to length: Efraimidis-Spirakis A-Res — each row draws
    * key = ln(u)/w (u uniform from the portable md5 view, w = n_chars)
    * and the global top-k keys ARE the weighted sample. One narrow map
    * + TakeOrderedAndProject (per-partition heaps, never a global
    * sort) — the 100 TB "sample 10k docs weighted by length" plan.
    * Deterministic: u is the shared md5-uniform, so DuckDB draws the
    * identical keys; the reported key rounds once. */
  private val sampleWeighted: Q = (s, dir) => {
    val u = (pmod(Hashing.md5Long(
      concat(col("doc_id").cast("string"), lit(":wsample")).cast("binary")),
      lit(1073741824L)).cast("double") + 0.5) / 1073741824.0
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        (log(u) / col("n_chars").cast("double")).as("k0"))
      .orderBy(col("k0").desc, col("doc_id").asc)
      .limit(100)
      .select(col("doc_id"), col("n_chars"), round(col("k0"), 9).as("wkey"))
  }

  private val sampleWeightedOracle =
    """WITH keyed AS (
      |  SELECT doc_id, n_chars,
      |    ln((CAST(concat('0x', substr(md5(doc_id || ':wsample'), 1, 15)) AS BIGINT)
      |        % 1073741824 + 0.5) / 1073741824.0) / n_chars AS k0
      |  FROM documents)
      |SELECT doc_id, n_chars, round(k0, 9) AS wkey
      |FROM keyed ORDER BY k0 DESC, doc_id ASC LIMIT 100""".stripMargin

  // ---- events_twap: time-weighted average -----------------------------

  /** Time-weighted average value per event type: each observation holds
    * until the next event of the same type, so its weight is that
    * interval in microseconds — the TWAP/occupancy semantics a plain
    * AVG gets wrong whenever sampling is irregular. Neighbor access
    * runs on the two-phase rank kernel (balanced range shuffle, never a
    * per-type window task): rank r joins rank r+1 on (type, r) — a
    * co-partitioned equi-join. Sums are exact integers
    * (micro-value x micro-seconds in DECIMAL(38,0)); the TWAP is one
    * floor-division then one rounded double division. */
  private val eventsTwap: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"), col("event_id"), col("ts"),
      unix_micros(col("ts")).as("us"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v_micro"))
    // neighbor access via the LEAD kernel: one range shuffle + local
    // lead with broadcast boundary heads — the r9 form paid a full
    // rank-kernel pass PLUS a data-sized shuffle self-join on
    // (event_type, r) for the same pairing (guide §2.4)
    val led = Ranks.perGroupLead(ev, Seq("event_type"),
      Seq(col("ts"), col("event_id")), col("us"), "next_us", ConfScope.shufflePartitions(s))
    led.filter(col("next_us").isNotNull)
      .withColumn("dur", col("next_us") - col("us"))
      .groupBy("event_type")
      .agg(
        sum((col("v_micro").cast("decimal(38,0)") * col("dur")))
          .cast("decimal(38,0)").as("wsum"),
        sum(col("dur")).as("dsum"),
        count(lit(1)).as("n_intervals"))
      .select(col("event_type"), col("n_intervals"),
        round((expr("CAST(wsum DIV dsum AS BIGINT)").cast("double") / 1000000d), 6)
          .as("twap"))
      .orderBy("event_type")
  }

  private val eventsTwapOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id, ts, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
      |  FROM events),
      |iv AS (
      |  SELECT event_type, v_micro,
      |    LEAD(us) OVER (PARTITION BY event_type ORDER BY ts, event_id) - us AS dur
      |  FROM ev)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
      |  round(CAST(CAST(SUM(CAST(v_micro AS HUGEINT) * dur) AS HUGEINT)
      |      // CAST(SUM(dur) AS HUGEINT) AS DOUBLE) / 1000000.0, 6) AS twap
      |FROM iv WHERE dur IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- mining_assoc: association rules over co-ordered brands --------

  /** Market-basket association rules over (order, part-brand) baskets:
    * for every ordered brand pair with support >= 2% of orders, both
    * rule directions with confidence = supp(ab)/supp(a) and lift =
    * n*supp(ab)/(supp(a)*supp(b)). The pair join is keyed by order —
    * fan-out bounded by items-per-order, never all-pairs across the
    * catalog; the brand marginals are a broadcast dimension
    * (|brands| rows) and the order total rides the same broadcast.
    * Ratios are single rounded divisions of exact counts. */
  private val miningAssoc: Q = (s, dir) => {
    val basket = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand").as("brand")),
        col("l_partkey") === col("p_partkey"))
      .select("ok", "brand").distinct()
    val singles = basket.groupBy("brand").agg(count(lit(1)).as("cnt"))
    val totals = basket.agg(countDistinct("ok").as("n_orders"))
    val pairs = basket.as("a")
      .join(basket.as("b"),
        col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("ante"), col("b.brand").as("cons"))
      .agg(count(lit(1)).as("cnt_ab"))
    val both = pairs.unionByName(pairs.select(
      col("cons").as("ante"), col("ante").as("cons"), col("cnt_ab")))
    both
      .join(broadcast(singles.select(col("brand").as("ante"), col("cnt").as("cnt_a"))), "ante")
      .join(broadcast(singles.select(col("brand").as("cons"), col("cnt").as("cnt_c"))), "cons")
      .crossJoin(broadcast(totals))
      .filter(col("cnt_ab") * 50 >= col("n_orders"))
      .select(col("ante"), col("cons"), col("cnt_ab"),
        round(col("cnt_ab").cast("double") / col("cnt_a").cast("double"), 6)
          .as("confidence"),
        round((col("n_orders") * col("cnt_ab")).cast("double") /
          (col("cnt_a") * col("cnt_c")).cast("double"), 6).as("lift"))
      .orderBy("ante", "cons")
  }

  private val miningAssocOracle =
    """WITH basket AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |singles AS (SELECT brand, CAST(count(*) AS BIGINT) AS cnt FROM basket GROUP BY 1),
      |totals AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM basket),
      |pairs AS (
      |  SELECT a.brand AS ante, b.brand AS cons, CAST(count(*) AS BIGINT) AS cnt_ab
      |  FROM basket a JOIN basket b ON a.ok = b.ok AND a.brand < b.brand
      |  GROUP BY 1, 2),
      |bidir AS (
      |  SELECT ante, cons, cnt_ab FROM pairs
      |  UNION ALL SELECT cons, ante, cnt_ab FROM pairs)
      |SELECT r.ante, r.cons, r.cnt_ab,
      |  round(CAST(r.cnt_ab AS DOUBLE) / CAST(sa.cnt AS DOUBLE), 6) AS confidence,
      |  round(CAST(t.n_orders * r.cnt_ab AS DOUBLE) /
      |        CAST(sa.cnt * sc.cnt AS DOUBLE), 6) AS lift
      |FROM bidir r
      |JOIN singles sa ON sa.brand = r.ante
      |JOIN singles sc ON sc.brand = r.cons
      |CROSS JOIN totals t
      |WHERE r.cnt_ab * 50 >= t.n_orders
      |ORDER BY ante, cons""".stripMargin

  // ---- events_cusum: sequential drift detection ----------------------

  /** One-sided CUSUM drift per event type: with deviations d_i =
    * v_i - mean(type), the classic recurrence S_i = max(0, S_{i-1} +
    * d_i) equals cum_i - min(0, prefix-min(cum_i)) — a prefix SUM then
    * a prefix MIN, both on the two-phase kernels ([[Ranks]]), so a hot
    * type never serializes onto one task. Reports per type the maximum
    * drift, the count of points above the alarm threshold (1000 units
    * of accumulated excess), and where the max first occurs. Everything
    * is exact integer micro-units; the per-type mean is one floor
    * division. */
  private val eventsCusum: Q = (s, dir) => {
    val H = 1000000000L // 1000 value-units of accumulated drift, in micro
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"), col("event_id"), col("ts"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v_micro"))
    val mu = ev.groupBy("event_type")
      .agg(expr("CAST(SUM(v_micro) DIV COUNT(1) AS BIGINT)").as("mu_micro"))
    val dev = ev.join(broadcast(mu), "event_type")
      .withColumn("dev", col("v_micro") - col("mu_micro"))
    val ord = Seq(col("ts").asc, col("event_id").asc)
    // prefix sum and prefix-min-of-that-sum in ONE fused kernel pass
    // (guide §2.4 — the r9 form paid two full range shuffles +
    // checkpoints + offset collects for the same pair)
    val pmn = Ranks.perGroupPrefixSumMin(dev, Seq("event_type"), ord,
      col("dev"), "cum", "pmin", ConfScope.shufflePartitions(s))
    val scol = col("cum") - least(col("pmin"), lit(0L))
    pmn.withColumn("s", scol)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("s")).as("max_drift_micro"),
        sum(when(col("s") > H, 1L).otherwise(0L)).as("n_alarm"),
        min(when(col("s") > H, col("event_id"))).as("first_alarm_event"))
      .orderBy("event_type")
  }

  private val eventsCusumOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id, ts,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
      |  FROM events),
      |mu AS (SELECT event_type, CAST(SUM(v_micro) // COUNT(*) AS BIGINT) AS mu_micro
      |       FROM ev GROUP BY 1),
      |d AS (SELECT e.event_type, e.event_id, e.ts, e.v_micro - m.mu_micro AS dev
      |      FROM ev e JOIN mu m USING (event_type)),
      |c0 AS (SELECT *, CAST(SUM(dev) OVER w AS BIGINT) AS cum FROM d
      |       WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |c AS (SELECT *, CAST(MIN(cum) OVER w AS BIGINT) AS pmin FROM c0
      |      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (SELECT event_type, event_id, cum - LEAST(pmin, 0) AS s FROM c)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  MAX(s) AS max_drift_micro,
      |  CAST(SUM(CASE WHEN s > 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm,
      |  MIN(CASE WHEN s > 1000000000 THEN event_id END) AS first_alarm_event
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- profile_bootstrap: Poisson-bootstrap CI for the mean ----------

  /** Bootstrap confidence interval for mean(value) per event type via
    * the POISSON bootstrap — the resampling scheme that works on
    * distributed data: a true multinomial resample needs the global row
    * count per draw, but Poisson(1) weights are independent per row, so
    * all 32 replicates materialize in ONE narrow pass (explode x32) and
    * aggregate map-side. Weights are the inverse-CDF of Poisson(1)
    * applied to the portable md5-uniform — DuckDB replays the identical
    * draws. Replicate means are floor-divided to exact integer
    * milli-units; the across-replicate variance is the exact integer
    * identity (B*Σm² − (Σm)²)/(B(B−1)); only the final sqrt and the CI
    * half-width are (singly-rounded) doubles. */
  private val profileBootstrap: Q = (s, dir) => {
    val B = 32
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"), col("event_id"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v_micro"))
    val reps = ev.withColumn("r", explode(sequence(lit(0), lit(B - 1))))
    val u = (pmod(Hashing.md5Long(
      concat(col("event_id").cast("string"), lit(":boot:"), col("r").cast("string"))
        .cast("binary")),
      lit(1073741824L)).cast("double") + 0.5) / 1073741824.0
    // Poisson(1) inverse CDF: cumulative e^-1 * (1/0! + 1/1! + ... )
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.919698602928606, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .otherwise(6L)
    val perRep = reps.withColumn("w", w)
      .groupBy("event_type", "r")
      .agg(sum(col("w") * col("v_micro")).as("swv"), sum(col("w")).as("sw"))
      .withColumn("m_milli", expr("CAST(swv DIV (sw * 1000) AS BIGINT)"))
    val base = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_micro").as("sv"))
    perRep.groupBy("event_type")
      .agg(sum("m_milli").as("sm"), sum(col("m_milli") * col("m_milli")).as("smm"),
        count(lit(1)).as("b"))
      .join(broadcast(base), "event_type")
      .select(col("event_type"), col("n"),
        round(col("sv").cast("double") / col("n").cast("double") / 1000000d, 6)
          .as("mean"),
        round(sqrt((col("b") * col("smm") - col("sm") * col("sm")).cast("double") /
          (col("b") * (col("b") - 1)).cast("double")) / 1000d, 6).as("sd_boot"),
        round(lit(1.96) * sqrt((col("b") * col("smm") - col("sm") * col("sm")).cast("double") /
          (col("b") * (col("b") - 1)).cast("double")) / 1000d, 6).as("ci_half"))
      .orderBy("event_type")
  }

  private val profileBootstrapOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
      |  FROM events),
      |reps AS (
      |  SELECT e.*, r FROM ev e, range(32) t(r)),
      |drawn AS (
      |  SELECT event_type, r,
      |    CASE
      |      WHEN u < 0.36787944117144233 THEN 0
      |      WHEN u < 0.7357588823428847 THEN 1
      |      WHEN u < 0.919698602928606 THEN 2
      |      WHEN u < 0.9810118431238462 THEN 3
      |      WHEN u < 0.9963401531726563 THEN 4
      |      WHEN u < 0.9994058151824183 THEN 5
      |      ELSE 6 END AS w,
      |    v_micro
      |  FROM (SELECT *, (CAST(concat('0x', substr(md5(event_id || ':boot:' || r), 1, 15)) AS BIGINT)
      |                   % 1073741824 + 0.5) / 1073741824.0 AS u FROM reps)),
      |per_rep AS (
      |  SELECT event_type, r,
      |    CAST(SUM(w * v_micro) // (SUM(w) * 1000) AS BIGINT) AS m_milli
      |  FROM drawn GROUP BY 1, 2),
      |boot AS (
      |  SELECT event_type, CAST(SUM(m_milli) AS BIGINT) AS sm,
      |    CAST(SUM(CAST(m_milli AS HUGEINT) * m_milli) AS BIGINT) AS smm,
      |    CAST(count(*) AS BIGINT) AS b
      |  FROM per_rep GROUP BY 1),
      |base AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(v_micro) AS BIGINT) AS sv
      |  FROM ev GROUP BY 1)
      |SELECT t.event_type, s.n,
      |  round(CAST(s.sv AS DOUBLE) / s.n / 1000000.0, 6) AS mean,
      |  round(sqrt(CAST(t.b * t.smm - t.sm * t.sm AS DOUBLE) /
      |        (t.b * (t.b - 1))) / 1000.0, 6) AS sd_boot,
      |  round(1.96 * sqrt(CAST(t.b * t.smm - t.sm * t.sm AS DOUBLE) /
      |        (t.b * (t.b - 1))) / 1000.0, 6) AS ci_half
      |FROM boot t JOIN base s USING (event_type)
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "skyline_pareto" -> skylinePareto,
    "sample_weighted" -> sampleWeighted,
    "events_twap" -> eventsTwap,
    "mining_assoc" -> miningAssoc,
    "events_cusum" -> eventsCusum,
    "profile_bootstrap" -> profileBootstrap
  )

  val oracles: Map[String, String] = Map(
    "skyline_pareto" -> skylineParetoOracle,
    "sample_weighted" -> sampleWeightedOracle,
    "events_twap" -> eventsTwapOracle,
    "mining_assoc" -> miningAssocOracle,
    "events_cusum" -> eventsCusumOracle,
    "profile_bootstrap" -> profileBootstrapOracle
  )
}
