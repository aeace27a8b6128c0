package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 ninth wave: feature-store time semantics + robust-statistics
  * profiling.
  *
  * - `join_asof_tolerance`: as-of join with a max-lookback tolerance
  *   (pandas merge_asof's `tolerance`, the feature-freshness rule every
  *   feature store enforces) — and the SCALE fix hiding inside it: the
  *   tolerance band turns the unbounded as-of scan into a banded join.
  * - `stream_asof`: the same enrichment as a streaming scoring pipeline
  *   — micro-batched events as-of-join a static feature table and
  *   MERGE exactly-once into a versioned result (the online-feature
  *   -lookup shape).
  * - `profile_outliers`: IQR-fence outlier counts per event type (the
  *   robust-statistics complement of events_anomaly's z-scores, which
  *   a heavy tail corrupts).
  */
object Wave16 {

  /** Lookback window in days: a feature older than this never serves. */
  private val ToleranceDays = 30

  /** Shared enrichment frame: each event's freshest order date at or
    * before its timestamp, but no older than [[ToleranceDays]] —
    * `merge_asof(..., tolerance=30d)`. The band predicate is not just
    * semantics, it is the scale fix: an unbounded as-of join pairs each
    * event with the user's ENTIRE order history before aggregating,
    * while the tolerance bounds fan-out at 30 days of history per event
    * (join_range_banded's law applied to time-travel lookups). */
  private[graft] def asofTolerance(events: DataFrame, orders: DataFrame): DataFrame =
    events
      .join(orders,
        col("user_id") === col("o_custkey") &&
          col("o_orderdate") <= col("ts") &&
          col("o_orderdate") >= date_sub(to_date(col("ts")), ToleranceDays),
        "left")
      .groupBy("event_id", "user_id")
      .agg(max(col("o_orderdate")).cast("date").as("asof_date"))

  // ---- join_asof_tolerance --------------------------------------------

  private val joinAsofTolerance: Q = (s, dir) => {
    val e = Tables.load(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.load(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"))
    asofTolerance(e, o).orderBy("event_id")
  }

  private val joinAsofToleranceOracle =
    s"""SELECT e.event_id, e.user_id, CAST(MAX(o.o_orderdate) AS DATE) AS asof_date
       |FROM events e LEFT JOIN orders o
       |  ON e.user_id = o.o_custkey
       | AND o.o_orderdate <= e.ts
       | AND o.o_orderdate >= CAST(e.ts AS DATE) - $ToleranceDays
       |GROUP BY e.event_id, e.user_id
       |ORDER BY e.event_id""".stripMargin

  // ---- stream_asof: streaming feature enrichment ----------------------

  /** Streaming scoring: events land as 3 micro-batches (file source,
    * maxFilesPerTrigger=1), each batch as-of-joins the STATIC feature
    * table inside foreachBatch (batch semantics per trigger — the
    * aggregation needs no streaming state) and MERGEs into a versioned
    * result keyed by event_id with the (writerId, batchId) txn
    * watermark — a crash replay re-commits nothing. The read-back
    * summarizes per user, and n_versions = 3 pins one exactly-once
    * commit per batch. At 100 TB the static side is the broadcast /
    * stats-pruned feature snapshot and each trigger pays only its
    * batch. */
  private val streamAsof: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "streamasof")
    val store = new graft.engine.VersionedStore(root)
    // a deterministic quarter of the stream: the semantics need three
    // micro-batches MERGEd exactly-once, not the full fixture volume —
    // each batch rewrites the whole (growing) result table, so the
    // fixture cost is ~quadratic in rows while the contract is not
    val ev = Tables.load(s, dir, "events")
      .filter(pmod(col("event_id"), lit(4)) === 0)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.load(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"))
    val incoming = s"$root/incoming"
    ev.repartition(3).write.mode("overwrite").parquet(incoming)
    val src = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(incoming)
    val q = src.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          store.upsertBatch(batch.sparkSession, "enriched",
            asofTolerance(batch.toDF(), orders), Seq("event_id"),
            "stream-asof", batchId); ()
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val nVersions = store.currentVersion("enriched").getOrElse(0L)
    store.read(s, "enriched")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("asof_date")).as("n_matched"),
        max(col("asof_date")).as("max_asof"))
      .select(col("user_id"), col("n_events"), col("n_matched"),
        col("max_asof"), lit(nVersions).as("n_versions"))
      .orderBy("user_id")
  }

  private val streamAsofOracle =
    s"""WITH enriched AS (
       |  SELECT e.event_id, e.user_id, CAST(MAX(o.o_orderdate) AS DATE) AS asof_date
       |  FROM (SELECT * FROM events WHERE event_id % 4 = 0) e
       |  LEFT JOIN orders o
       |    ON e.user_id = o.o_custkey
       |   AND o.o_orderdate <= e.ts
       |   AND o.o_orderdate >= CAST(e.ts AS DATE) - $ToleranceDays
       |  GROUP BY e.event_id, e.user_id)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(COUNT(asof_date) AS BIGINT) AS n_matched,
       |  MAX(asof_date) AS max_asof,
       |  CAST(3 AS BIGINT) AS n_versions
       |FROM enriched GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- profile_outliers: IQR-fence counts per type ---------------------

  /** Tukey-fence outlier profile per event type: exact interpolated
    * quartiles (one model-sized aggregate, broadcast back), fences at
    * 1.5·IQR rounded to 6 places IN BOTH ENGINES before any comparison
    * (so a value sitting exactly on a fence classifies identically),
    * then one conditional-count pass. Robust where events_anomaly's
    * z-scores are not: quartiles ignore the tail they are fencing. */
  private val profileOutliers: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(col("event_type"), col("value"))
    val quarts = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.25)").as("q1raw"),
        expr("percentile(value, 0.75)").as("q3raw"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        round(col("q1raw"), 6).as("q1"), round(col("q3raw"), 6).as("q3"),
        round(col("q1raw") - (col("q3raw") - col("q1raw")) * 1.5, 6).as("lo"),
        round(col("q3raw") + (col("q3raw") - col("q1raw")) * 1.5, 6).as("hi"))
    ev.join(broadcast(quarts), "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n"), max("q1").as("q1"), max("q3").as("q3"),
        max("lo").as("lo"), max("hi").as("hi"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_high"))
      .orderBy("event_type")
  }

  private val profileOutliersOracle =
    """WITH quarts AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    round(quantile_cont(value, 0.25), 6) AS q1,
      |    round(quantile_cont(value, 0.75), 6) AS q3,
      |    round(quantile_cont(value, 0.25)
      |      - (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5, 6) AS lo,
      |    round(quantile_cont(value, 0.75)
      |      + (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5, 6) AS hi
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type, MAX(q.n) AS n, MAX(q.q1) AS q1, MAX(q.q3) AS q3,
      |  MAX(q.lo) AS lo, MAX(q.hi) AS hi,
      |  CAST(SUM(CASE WHEN e.value < q.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(SUM(CASE WHEN e.value > q.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM events e JOIN quarts q USING (event_type)
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "join_asof_tolerance" -> joinAsofTolerance,
    "stream_asof" -> streamAsof,
    "profile_outliers" -> profileOutliers)

  val oracles: Map[String, String] = Map(
    "join_asof_tolerance" -> joinAsofToleranceOracle,
    "stream_asof" -> streamAsofOracle,
    "profile_outliers" -> profileOutliersOracle)
}
