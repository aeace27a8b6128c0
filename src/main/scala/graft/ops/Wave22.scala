package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.GraftNative

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 22: the explicit bloom-prefiltered join (the manual
  * form of Spark's runtime-filter rule, for when the optimizer's size
  * thresholds can't see the selectivity), format-mask profiling,
  * referential-integrity auditing, streaming windowed top-k, and
  * weighted single-source shortest paths by bounded relaxation
  * supersteps.
  */
object Wave22 {

  // ---- join_bloom: explicit bloom-prefiltered fact-dim join ----------

  /** Fact-side bloom pruning ahead of a shuffle join: the filtered dim
    * keys aggregate into Spark's built-in bloom filter (one pass,
    * mergeable map-side), the serialized filter (~200 KB — model-sized
    * driver state, like IVF centroids) becomes a literal probe on the
    * fact scan, and only surviving rows shuffle into the exact join.
    * False positives cost nothing (the equi-join confirms), so the
    * result is bloom-independent and the DuckDB oracle is the plain
    * join. This is the manual form of the runtime-filter rule
    * (`spark.sql.optimizer.runtime.bloomFilter`, enabled in the session
    * factory): the rule's injection depends on size-estimate
    * thresholds a 100 TB fact table with post-scan filters can defeat,
    * while this operator guarantees the prune — at 25% dim
    * selectivity it cuts the fact shuffle ~4x. */
  private val joinBloom: Q = (s, dir) => {
    val urgent = Tables.load(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val bf = urgent
      .agg(GraftNative.bloomAgg(xxhash64(col("o_orderkey")), 200000L, 1600000L)
        .as("bf"))
      .head.getAs[Array[Byte]]("bf")
    Tables.load(s, dir, "lineitem")
      .filter(GraftNative.mightContain(lit(bf), xxhash64(col("l_orderkey"))))
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_quantity").cast("decimal(18,6)") * 1000000).cast("long"))
          .as("qty_micro"))
      .orderBy("o_orderpriority")
  }

  private val joinBloomOracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |    AS qty_micro
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- profile_masks: format-mask profiling --------------------------

  /** Format-mask distribution per column: letters collapse to 'A',
    * digits to '9', everything else kept — the profiler view that
    * surfaces mixed formats (two phone styles, a stray free-text row in
    * a code column) that value-level histograms hide behind high
    * cardinality. One narrow map + one aggregation per column, unioned;
    * mask space is format-bounded (tiny) regardless of data size. */
  private val profileMasks: Q = (s, dir) => {
    def mask(c: Column): Column =
      regexp_replace(regexp_replace(c, "[A-Za-z]", "A"), "[0-9]", "9")
    def of(df: DataFrame, colName: String): DataFrame =
      df.select(mask(col(colName)).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("cnt"))
        .select(lit(colName).as("col_name"), col("mask"), col("cnt"))
    of(Tables.load(s, dir, "part"), "p_brand")
      .unionByName(of(Tables.load(s, dir, "orders"), "o_orderpriority"))
      .unionByName(of(Tables.load(s, dir, "events"), "props"))
      .orderBy("col_name", "mask")
  }

  private val profileMasksOracle =
    """WITH m AS (
      |  SELECT 'p_brand' AS col_name,
      |    regexp_replace(regexp_replace(p_brand, '[A-Za-z]', 'A', 'g'),
      |                   '[0-9]', '9', 'g') AS mask FROM part
      |  UNION ALL
      |  SELECT 'o_orderpriority',
      |    regexp_replace(regexp_replace(o_orderpriority, '[A-Za-z]', 'A', 'g'),
      |                   '[0-9]', '9', 'g') FROM orders
      |  UNION ALL
      |  SELECT 'props',
      |    regexp_replace(regexp_replace(props, '[A-Za-z]', 'A', 'g'),
      |                   '[0-9]', '9', 'g') FROM events)
      |SELECT col_name, mask, CAST(count(*) AS BIGINT) AS cnt
      |FROM m GROUP BY col_name, mask ORDER BY col_name, mask""".stripMargin

  // ---- profile_ri: referential-integrity orphan audit ----------------

  /** Orphan-count audit of every foreign key in the schema: for each
    * child→parent edge, the child rows whose key has no parent. Each
    * relationship is one LEFT join against the DISTINCT parent keys
    * with a null-probe count — dims broadcast, the fact-side joins
    * shuffle on the key; all six audits union into one report. The
    * output shape (relationship, n_child, n_orphan) is the contract a
    * data-quality gate consumes. */
  private val profileRi: Q = (s, dir) => {
    def audit(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame =
      child.select(col(fk))
        .join(parent.select(col(pk)).distinct().withColumn("__hit", lit(1)),
          col(fk) === col(pk), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_orphan"))
        .select(lit(name).as("relationship"), col("n_child"), col("n_orphan"))
    val li = Tables.load(s, dir, "lineitem")
    audit("customer.c_nationkey->nation", Tables.load(s, dir, "customer"), "c_nationkey",
        Tables.load(s, dir, "nation"), "n_nationkey")
      .unionByName(audit("lineitem.l_orderkey->orders", li, "l_orderkey",
        Tables.load(s, dir, "orders"), "o_orderkey"))
      .unionByName(audit("lineitem.l_partkey->part", li, "l_partkey",
        Tables.load(s, dir, "part"), "p_partkey"))
      .unionByName(audit("nation.n_regionkey->region", Tables.load(s, dir, "nation"),
        "n_regionkey", Tables.load(s, dir, "region"), "r_regionkey"))
      .unionByName(audit("orders.o_custkey->customer", Tables.load(s, dir, "orders"),
        "o_custkey", Tables.load(s, dir, "customer"), "c_custkey"))
      .unionByName(audit("supplier.s_nationkey->nation", Tables.load(s, dir, "supplier"),
        "s_nationkey", Tables.load(s, dir, "nation"), "n_nationkey"))
      .orderBy("relationship")
  }

  private val profileRiOracle =
    """SELECT 'customer.c_nationkey->nation' AS relationship,
      |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_child,
      |  (SELECT CAST(count(*) AS BIGINT) FROM customer
      |   WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphan
      |UNION ALL SELECT 'lineitem.l_orderkey->orders',
      |  (SELECT count(*) FROM lineitem),
      |  (SELECT count(*) FROM lineitem
      |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      |UNION ALL SELECT 'lineitem.l_partkey->part',
      |  (SELECT count(*) FROM lineitem),
      |  (SELECT count(*) FROM lineitem
      |   WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
      |UNION ALL SELECT 'nation.n_regionkey->region',
      |  (SELECT count(*) FROM nation),
      |  (SELECT count(*) FROM nation
      |   WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
      |UNION ALL SELECT 'orders.o_custkey->customer',
      |  (SELECT count(*) FROM orders),
      |  (SELECT count(*) FROM orders
      |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |UNION ALL SELECT 'supplier.s_nationkey->nation',
      |  (SELECT count(*) FROM supplier),
      |  (SELECT count(*) FROM supplier
      |   WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
      |ORDER BY relationship""".stripMargin

  // ---- stream_topk: windowed top-k (batch-equivalent form) -----------

  /** Top-3 event types by total value per 1-hour tumbling window — the
    * "trending now" leaderboard. Batch-equivalent of the streaming twin
    * [[Streaming.windowedValueSums]] + final-state ranking (proven in
    * Wave22Spec): windowed sums aggregate incrementally under a
    * watermark; the rank is per-window, so the window partition count
    * scales with time range, never serializing. Values sum as exact
    * micro-unit longs. */
  private val streamTopk: Q = (s, dir) => {
    val sums = Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(sum((col("value").cast("decimal(18,6)") * 1000000).cast("long"))
        .as("sv_micro"))
      .select(unix_timestamp(col("w.start")).as("wstart"),
        col("event_type"), col("sv_micro"))
    val byWindow = Window.partitionBy("wstart")
      .orderBy(col("sv_micro").desc, col("event_type").asc)
    sums.withColumn("rn", row_number().over(byWindow).cast("bigint"))
      .filter(col("rn") <= 3)
      .orderBy("wstart", "rn")
  }

  private val streamTopkOracle =
    """WITH sums AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS wstart,
      |    event_type,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |      AS sv_micro
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY wstart
      |    ORDER BY sv_micro DESC, event_type ASC) AS BIGINT) AS rn
      |  FROM sums)
      |SELECT wstart, event_type, sv_micro, rn
      |FROM ranked WHERE rn <= 3 ORDER BY wstart, rn""".stripMargin

  // ---- graph_sssp: weighted shortest paths by relaxation supersteps --

  /** Weighted single-source shortest paths over the event-transition
    * graph: edge (a,b) costs 1e9/count(a->b) (popular transitions are
    * cheap), distances from 'signup' relax over 6 supersteps — each one
    * a join of the frontier against the edge list + a min-aggregation,
    * the Bellman-Ford shape that runs at any scale (the frontier and
    * edge list are data-sized DataFrames; here the node domain is the
    * driver-bounded event-type set). Transition counts come from one
    * per-user lead() pass (user_id is a high-cardinality partition key
    * — balanced). Everything is exact integer arithmetic; the oracle
    * enumerates <=6-hop paths with a recursive CTE and takes MIN. */
  private val graphSssp: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val edges = Tables.load(s, dir, "events")
      .withColumn("nxt", lead(col("event_type"), 1).over(byUser))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("src"), col("dst"),
        expr("CAST(1000000000 DIV cnt AS BIGINT)").as("cost"))
      .localCheckpoint()
    import s.implicits._
    var dist = Seq(("signup", 0L)).toDF("node", "d")
    for (_ <- 1 to 6) {
      val relaxed = dist.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("d") + col("cost")).as("d"))
      dist = dist.unionByName(relaxed).groupBy("node").agg(min("d").as("d"))
    }
    dist.orderBy("node")
  }

  private val graphSsspOracle =
    """WITH RECURSIVE trans AS (
      |  SELECT event_type AS src,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM events),
      |edges AS (
      |  SELECT src, dst, CAST(1000000000 // count(*) AS BIGINT) AS cost
      |  FROM trans WHERE dst IS NOT NULL GROUP BY src, dst),
      |paths AS (
      |  SELECT 'signup' AS node, CAST(0 AS BIGINT) AS d, 0 AS hops
      |  UNION ALL
      |  SELECT e.dst, p.d + e.cost, p.hops + 1
      |  FROM paths p JOIN edges e ON e.src = p.node WHERE p.hops < 6)
      |SELECT node, MIN(d) AS d FROM paths GROUP BY node ORDER BY node""".stripMargin

  val queries: Map[String, Q] = Map(
    "join_bloom" -> joinBloom,
    "profile_masks" -> profileMasks,
    "profile_ri" -> profileRi,
    "stream_topk" -> streamTopk,
    "graph_sssp" -> graphSssp
  )

  val oracles: Map[String, String] = Map(
    "join_bloom" -> joinBloomOracle,
    "profile_masks" -> profileMasksOracle,
    "profile_ri" -> profileRiOracle,
    "stream_topk" -> streamTopkOracle,
    "graph_sssp" -> graphSsspOracle
  )
}
