package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 29: robust anomaly detection by median absolute
  * deviation (the estimator a heavy-tailed value column needs — both
  * z-scores (events_anomaly) and IQR fences (profile_outliers) break
  * down under extreme outliers; MAD has a 50% breakdown point), and the
  * exponential interarrival fit with a one-sample KS distance (the
  * "is this a Poisson process" diagnostic).
  */
object Wave29 {

  /** Lower-median of `value` per group by the mass-crossing rule on the
    * prefix-sum kernel (weight 1 per row): the first value whose
    * cumulative count reaches half the total — exact, engine-portable,
    * no global sort. Shared by the MAD pipeline's two passes. */
  private def medianOf(df: DataFrame, group: String, value: String,
      tiebreak: Seq[org.apache.spark.sql.Column], out: String,
      partitions: Int): DataFrame = {
    // the rank kernel carries the group total as a free column (it is
    // in the offset table anyway) — the r9 form re-derived it with a
    // max-of-prefix-sum aggregate plus a broadcast join per median pass
    val cum = Ranks.perGroupRank(df, Seq(group),
      col(value).asc +: tiebreak, "__cum", "__tot", partitions)
    cum
      .filter(col("__cum") * 2 >= col("__tot") &&
        (col("__cum") - 1) * 2 < col("__tot"))
      .groupBy(group).agg(min(value).as(out))
  }

  // ---- events_anomaly_mad: robust outliers via MAD -------------------

  /** Robust outlier counts per event type via the modified z-score
    * (Iglewicz-Hoaglin): a point is anomalous when
    * 0.6745 * |x - median| / MAD > 3.5 — evaluated as the EXACT integer
    * comparison 6745 * |dev| > 35000 * MAD (both sides scaled by 1e4),
    * so no float enters the decision. Median and MAD are two
    * mass-crossing kernel passes; everything is micro-unit longs. */
  private val eventsAnomalyMad: Q = (s, dir) => {
    // ev feeds the median kernel AND the deviation join; dev feeds the
    // MAD kernel AND the final aggregate — pin each once (narrow
    // projections, linear) so the events scan + join run once, not ~5×
    // through the two mass-crossing passes
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"), col("event_id"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
      .localCheckpoint()
    val med = medianOf(ev, "event_type", "v", Seq(col("event_id").asc),
      "med", ConfScope.shufflePartitions(s))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("v") - col("med")))
      .localCheckpoint()
    val mad = medianOf(dev, "event_type", "adev", Seq(col("event_id").asc),
      "mad", ConfScope.shufflePartitions(s))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("med").as("median_micro"),
        max("mad").as("mad_micro"),
        sum(when(col("adev") * 6745 > col("mad") * 35000, 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  private val eventsAnomalyMadOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |c1 AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |         ORDER BY v ASC, event_id ASC) AS BIGINT) AS cum,
      |       CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      |       FROM ev),
      |med AS (SELECT event_type, MIN(v) AS med FROM c1
      |        WHERE cum * 2 >= tot AND (cum - 1) * 2 < tot GROUP BY 1),
      |dev AS (SELECT e.event_type, e.event_id, e.v, ABS(e.v - m.med) AS adev, m.med
      |        FROM ev e JOIN med m USING (event_type)),
      |c2 AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |         ORDER BY adev ASC, event_id ASC) AS BIGINT) AS cum,
      |       CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      |       FROM dev),
      |mad AS (SELECT event_type, MIN(adev) AS mad FROM c2
      |        WHERE cum * 2 >= tot AND (cum - 1) * 2 < tot GROUP BY 1)
      |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
      |  MAX(d.med) AS median_micro, MAX(a.mad) AS mad_micro,
      |  CAST(SUM(CASE WHEN d.adev * 6745 > a.mad * 35000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev d JOIN mad a USING (event_type)
      |GROUP BY d.event_type ORDER BY event_type""".stripMargin

  // ---- events_interarrival: exponential fit + one-sample KS ----------

  /** Interarrival diagnostic per event type: the exponential-rate MLE
    * (lambda = n_gaps / sum_gaps, exact integer inputs) and the
    * one-sample KS distance against the fitted Exp(lambda) — the
    * standard "is the arrival process Poisson" test. Gaps come from the
    * rank-kernel neighbor join (the events_twap pattern); the KS
    * distance ranks gaps with a second kernel pass and takes the MAX of
    * per-row float deviations — max is order-independent, so the single
    * rounded expression per row is engine-stable (the bm25 recipe,
    * max instead of sum). */
  private val eventsInterarrival: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"), col("event_id"), col("ts"),
      unix_micros(col("ts")).as("us"))
    // gaps via the LEAD kernel: ONE range shuffle + a partition-local
    // lead with the boundary head values broadcast back — the r9 form
    // paid a full rank-kernel pass PLUS a data-sized shuffle self-join
    // on (event_type, r) for the same neighbor pairing (guide §2.4)
    val led = Ranks.perGroupLead(ev, Seq("event_type"),
      Seq(col("ts"), col("event_id")), col("us"), "next_us", ConfScope.shufflePartitions(s))
    val gaps = led.filter(col("next_us").isNotNull)
      .select(col("event_type"), col("event_id"),
        (col("next_us") - col("us")).as("gap_us"))
    val fit = gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum("gap_us").as("sum_us"))
    val gr = Ranks.perGroupRank(gaps, Seq("event_type"),
      Seq(col("gap_us").asc, col("event_id").asc), "i", "n", ConfScope.shufflePartitions(s))
    val d = gr.join(broadcast(fit), "event_type")
      .withColumn("fexp",
        lit(1.0) - exp(lit(-1.0) * col("gap_us") * col("n_gaps") / col("sum_us")))
      .withColumn("dplus",
        round(col("i").cast("double") / col("n") - col("fexp"), 9))
      .withColumn("dminus",
        round(col("fexp") - (col("i") - 1).cast("double") / col("n"), 9))
    d.groupBy("event_type")
      .agg(max("n_gaps").as("n_gaps"),
        expr("CAST(MAX(sum_us) DIV MAX(n_gaps) AS BIGINT)").as("mean_gap_us"),
        round(greatest(max("dplus"), max("dminus")), 6).as("ks_d"))
      .orderBy("event_type")
  }

  private val eventsInterarrivalOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id, ts, epoch_us(ts) AS us FROM events),
      |g AS (
      |  SELECT event_type, event_id,
      |    LEAD(us) OVER (PARTITION BY event_type ORDER BY ts, event_id) - us AS gap_us
      |  FROM ev),
      |gaps AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
      |fit AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |        CAST(SUM(gap_us) AS BIGINT) AS sum_us FROM gaps GROUP BY 1),
      |r AS (
      |  SELECT event_type, gap_us,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY gap_us ASC, event_id ASC) AS BIGINT) AS i,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM gaps),
      |d AS (
      |  SELECT r.event_type, f.n_gaps, f.sum_us,
      |    round(CAST(r.i AS DOUBLE) / r.n
      |      - (1.0 - exp(-1.0 * r.gap_us * f.n_gaps / f.sum_us)), 9) AS dplus,
      |    round((1.0 - exp(-1.0 * r.gap_us * f.n_gaps / f.sum_us))
      |      - CAST(r.i - 1 AS DOUBLE) / r.n, 9) AS dminus
      |  FROM r JOIN fit f USING (event_type))
      |SELECT event_type, MAX(n_gaps) AS n_gaps,
      |  CAST(MAX(sum_us) // MAX(n_gaps) AS BIGINT) AS mean_gap_us,
      |  round(GREATEST(MAX(dplus), MAX(dminus)), 6) AS ks_d
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_anomaly_mad" -> eventsAnomalyMad,
    "events_interarrival" -> eventsInterarrival
  )

  val oracles: Map[String, String] = Map(
    "events_anomaly_mad" -> eventsAnomalyMadOracle,
    "events_interarrival" -> eventsInterarrivalOracle
  )
}
