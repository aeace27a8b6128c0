package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-7 wave 91: enforcement + sequences — the quarantine write
  * path that turns wave-90's dq report into routing (invalid rows land
  * in a quarantine table, clean rows publish — the
  * write-audit-publish / dead-letter pattern every ingestion pipeline
  * ships), and MATCH_RECOGNIZE-style ordered sequence detection over
  * the event stream (the funnel family's strict-pattern sibling).
  */
object Wave91 {

  // ---- sink_quarantine: route invalid rows, publish the rest -------------

  /** Quarantine ingestion: a batch with deterministically-injected
    * corruptions (salted md5 row buckets — reproducible in both
    * engines) is routed by the FIRST violated constraint (priority
    * order: quantity range, then discount range) into a quarantine
    * table; clean rows publish to the main table. Both writes are real
    * VersionedStore commits; the report reads BACK from the store —
    * counts per route prove what landed where. The tagged batch is
    * pinned ONCE (`localCheckpoint`), so both route writes read the
    * pinned partitions — one scan of lineitem total, never two — and
    * file sizing is a narrow write-side `coalesce`, not a full-batch
    * round-robin exchange. */
  private val sinkQuarantine: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "quarantine")
    val store = new graft.engine.VersionedStore(root)
    val key = concat(col("l_orderkey").cast("string"), lit("#"),
      col("l_linenumber").cast("string"), lit("#"),
      col("l_partkey").cast("string"), lit("#"),
      col("l_suppkey").cast("string"))
    val batch = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        when(Hashing.md5Bucket(concat(key, lit("#q")).cast("binary"), 20) === 0,
          lit(-1.0)).otherwise(col("l_quantity")).as("qty"),
        when(Hashing.md5Bucket(concat(key, lit("#d")).cast("binary"), 25) === 0,
          lit(0.5)).otherwise(col("l_discount")).as("disc"))
      .withColumn("route",
        when(col("qty") < 1 || col("qty") > 50, "quarantine:qty_range")
          .when(col("disc") < 0 || col("disc") > 0.1,
            "quarantine:disc_range")
          .otherwise("published"))
    val tagged = batch.localCheckpoint()
    store.write(tagged.filter(col("route") === "published").drop("route")
      .coalesce(4), "lineitem_clean")
    store.write(tagged.filter(col("route") =!= "published")
      .coalesce(2), "quarantine")
    // published counts come from a groupBy on a literal route tag (not a
    // global aggregate) so an all-quarantined batch emits NO published
    // row — exactly what the oracle's GROUP BY route produces
    val clean = store.read(s, "lineitem_clean")
      .withColumn("route", lit("published"))
      .groupBy("route")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(qty * 100) as long)")).as("qty_cents"))
    val quar = store.read(s, "quarantine")
      .groupBy("route")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(qty * 100) as long)")).as("qty_cents"))
    clean.unionByName(quar).orderBy("route")
  }

  private val sinkQuarantineOracle: String = {
    val key = "concat(CAST(l_orderkey AS VARCHAR), '#', " +
      "CAST(l_linenumber AS VARCHAR), '#', CAST(l_partkey AS VARCHAR), " +
      "'#', CAST(l_suppkey AS VARCHAR))"
    def bkt(suffix: String, mod: Int) =
      s"CAST(concat('0x', substr(md5(concat($key, '$suffix')), 1, 15)) AS BIGINT) % $mod"
    s"""WITH batch AS (
       |  SELECT
       |    CASE WHEN ${bkt("#q", 20)} = 0 THEN -1.0 ELSE l_quantity END
       |      AS qty,
       |    CASE WHEN ${bkt("#d", 25)} = 0 THEN 0.5 ELSE l_discount END
       |      AS disc
       |  FROM lineitem),
       |routed AS (
       |  SELECT qty,
       |    CASE WHEN qty < 1 OR qty > 50 THEN 'quarantine:qty_range'
       |      WHEN disc < 0 OR disc > 0.1 THEN 'quarantine:disc_range'
       |      ELSE 'published' END AS route
       |  FROM batch)
       |SELECT route, CAST(count(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(round(qty * 100) AS BIGINT)) AS BIGINT) AS qty_cents
       |FROM routed GROUP BY route ORDER BY route""".stripMargin
  }

  // ---- events_seq_pattern: strict ordered sequence detection --------------

  /** MATCH_RECOGNIZE-style pattern count: per user, occurrences of the
    * STRICT sequence view → click → purchase (consecutive in the
    * user's {view, click, purchase}-filtered event order, completing
    * within one hour). lead()×2 inside the user window turns the
    * pattern into a per-row predicate — user-keyed windows, bounded
    * groups, no self-join; funnels that tolerate gaps live in
    * events_funnel. */
  private val eventsSeqPattern: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val ev = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
    val m = ev
      .withColumn("t1", lead("event_type", 1).over(w))
      .withColumn("t2", lead("event_type", 2).over(w))
      .withColumn("s2", lead("sec", 2).over(w))
      .withColumn("hit",
        (col("event_type") === "view" && col("t1") === "click" &&
          col("t2") === "purchase" && col("s2") - col("sec") <= 3600L)
          .cast("long"))
    m.groupBy("user_id")
      .agg(sum("hit").as("n_matches"),
        min(when(col("hit") === 1, col("sec"))).as("first_match_sec"))
      .filter(col("n_matches") > 0)
      .orderBy("user_id")
  }

  private val eventsSeqPatternOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |m AS (
      |  SELECT user_id, sec, event_type,
      |    lead(event_type, 1) OVER w AS t1,
      |    lead(event_type, 2) OVER w AS t2,
      |    lead(sec, 2) OVER w AS s2
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |h AS (
      |  SELECT user_id, sec,
      |    CASE WHEN event_type = 'view' AND t1 = 'click'
      |      AND t2 = 'purchase' AND s2 - sec <= 3600 THEN 1 ELSE 0 END
      |      AS hit
      |  FROM m)
      |SELECT user_id, CAST(SUM(hit) AS BIGINT) AS n_matches,
      |  MIN(CASE WHEN hit = 1 THEN sec END) AS first_match_sec
      |FROM h GROUP BY user_id HAVING SUM(hit) > 0
      |ORDER BY user_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "sink_quarantine" -> sinkQuarantine,
    "events_seq_pattern" -> eventsSeqPattern
  )

  val oracles: Map[String, String] = Map(
    "sink_quarantine" -> sinkQuarantineOracle,
    "events_seq_pattern" -> eventsSeqPatternOracle
  )
}
