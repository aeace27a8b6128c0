package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 closing wave: nucleus (top-p) selection as a distributed
  * operator — keep the smallest heaviest prefix of each group that
  * reaches a target mass share, the weight-aware cousin of top-k
  * (top-k fixes COUNT, top-p fixes MASS) used for sampling cutoffs,
  * budget-capped retrieval, and "which heavy hitters cover 90% of
  * traffic" questions.
  */
object Wave20 {

  /** Per event type, the smallest set of highest-value events covering
    * 90% of the type's total value mass: rows are taken in (value desc,
    * event_id) order until the cumulative value first reaches the
    * threshold (the crossing row is kept). Reported per type: row
    * count, kept count, and the kept share — the concentration sheet
    * ("how few events carry the mass").
    *
    * Determinism: values sum as DECIMAL(18,6) (exact and associative —
    * a double cumsum would depend on partitioning), the threshold is an
    * exact decimal product, and the crossing comparison is
    * decimal-exact in both engines.
    *
    * Scale shape: the running mass is [[Ranks.perGroupPrefixSum]] over
    * a scaled-to-long decimal (balanced range shuffle + pid-local
    * windows — a hot type never serializes onto one task); totals are
    * a model-sized broadcast; the selection is a narrow filter. The
    * same plan is the 100 TB "cap retrieval at probability mass p"
    * operator. */
  private val winTopP: Q = (s, dir) => {
    val P = 0.9
    // exact integer micro-units: value has 6 significant decimals in
    // the fixture; (decimal(18,6) * 1e6) is an exact long per row
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        (col("value").cast("decimal(18,6)") * lit(1000000))
          .cast("long").as("v_micro"))
    // the fused kernel carries the group count and total mass as free
    // columns (they live in the offset table anyway) — the r9 form
    // re-derived both with a separate aggregate + broadcast join
    val cum = Ranks.perGroupRankAndPrefixSum(ev, Seq("event_type"),
      Seq(col("v_micro").desc, col("event_id").asc), col("v_micro"),
      "__rk", "n_total", "cum_micro", "tot_micro",
      partitions = ConfScope.shufflePartitions(s))
    // crossing rule kept in exact integers: keep while the mass BEFORE
    // this row is under P * total  <=>  10*(cum - v) < 9*total
    cum
      .filter((col("cum_micro") - col("v_micro")) * 10 < col("tot_micro") * 9)
      .groupBy("event_type")
      .agg(max("n_total").as("n_total"), count(lit(1)).as("n_kept"),
        round(max("cum_micro").cast("double") /
          max("tot_micro").cast("double"), 6).as("kept_share"))
      .orderBy("event_type")
  }

  private val winTopPOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
      |  FROM events),
      |cum AS (
      |  SELECT event_type, event_id, v_micro,
      |    CAST(SUM(v_micro) OVER (PARTITION BY event_type
      |      ORDER BY v_micro DESC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_micro
      |  FROM ev),
      |tot AS (
      |  SELECT event_type, MAX(cum_micro) AS tot_micro,
      |    CAST(count(*) AS BIGINT) AS n_total
      |  FROM cum GROUP BY 1)
      |SELECT c.event_type, MAX(t.n_total) AS n_total,
      |  CAST(count(*) AS BIGINT) AS n_kept,
      |  round(CAST(MAX(c.cum_micro) AS DOUBLE) / CAST(MAX(t.tot_micro) AS DOUBLE), 6)
      |    AS kept_share
      |FROM cum c JOIN tot t USING (event_type)
      |WHERE (c.cum_micro - c.v_micro) * 10 < t.tot_micro * 9
      |GROUP BY c.event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map("win_top_p" -> winTopP)
  val oracles: Map[String, String] = Map("win_top_p" -> winTopPOracle)
}
