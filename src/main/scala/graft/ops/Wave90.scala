package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-7 wave 90: data-quality gates — the expectations engine every
  * production lakehouse runs before publishing a table (the
  * Great-Expectations / dbt-test capability class): declarative
  * constraint evaluation (not-null, unique, range, accepted values),
  * referential-integrity orphan audit over the full FK graph, and a
  * freshness SLA read. All counts exact; every check is one
  * aggregate or one anti-join in the canonical scale shape.
  */
object Wave90 {

  // ---- dq_expectations: declarative constraint suite ---------------------

  /** Constraint catalog evaluated in ONE aggregate per table (every
    * check folds to a conditional count inside the same pass — no
    * per-check scans, the melt-profiler discipline): not_null /
    * accepted_values / range via violation counts, unique via
    * n − n_distinct. Output one row per (table, column, check) with
    * exact violation counts and the pass flag — the gate a publish
    * job asserts on. */
  private val dqExpectations: Q = (s, dir) => {
    def viol(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val ord = Tables.load(s, dir, "orders").agg(
      count(lit(1)).as("n"),
      viol(col("o_orderkey").isNull).as("v_nn"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uq"),
      viol(!col("o_orderstatus").isin("O", "F", "P")).as("v_acc"),
      viol(col("o_totalprice") <= 0).as("v_rng"))
    val li = Tables.load(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      viol(col("l_orderkey").isNull).as("v_nn"),
      viol(col("l_quantity") < 1 || col("l_quantity") > 50).as("v_qty"),
      viol(col("l_discount") < 0 || col("l_discount") > 0.1).as("v_dis"))
    val cust = Tables.load(s, dir, "customer").agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("c_custkey"))).as("v_uq"),
      viol(!col("c_mktsegment").isin(
        "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("v_acc"))
    def rows(agg: DataFrame, table: String,
        checks: Seq[(String, String, String)]): DataFrame =
      agg.select(explode(array(checks.map { case (colName, check, vCol) =>
          struct(lit(table).as("tbl"), lit(colName).as("col"),
            lit(check).as("check"), col("n"),
            col(vCol).as("violations"))
        }: _*)).as("x"))
        .select(col("x.tbl").as("table_name"), col("x.col").as("column_name"),
          col("x.check").as("check"), col("x.n").as("n_rows"),
          col("x.violations").as("n_violations"),
          (col("x.violations") === 0L).as("pass"))
    rows(ord, "orders", Seq(
        ("o_orderkey", "not_null", "v_nn"),
        ("o_orderkey", "unique", "v_uq"),
        ("o_orderstatus", "accepted_values", "v_acc"),
        ("o_totalprice", "range_positive", "v_rng")))
      .unionByName(rows(li, "lineitem", Seq(
        ("l_orderkey", "not_null", "v_nn"),
        ("l_quantity", "range_1_50", "v_qty"),
        ("l_discount", "range_0_01", "v_dis"))))
      .unionByName(rows(cust, "customer", Seq(
        ("c_custkey", "unique", "v_uq"),
        ("c_mktsegment", "accepted_values", "v_acc"))))
      .orderBy("table_name", "column_name", "check")
  }

  private val dqExpectationsOracle: String =
    """WITH ord AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uq,
      |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v_acc,
      |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_rng
      |  FROM orders),
      |li AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
      |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v_dis
      |  FROM lineitem),
      |cust AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS v_uq,
      |    CAST(SUM(CASE WHEN c_mktsegment NOT IN
      |      ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v_acc
      |  FROM customer),
      |rows_ AS (
      |  SELECT 'orders' AS table_name, 'o_orderkey' AS column_name,
      |    'not_null' AS "check", n AS n_rows, v_nn AS n_violations FROM ord
      |  UNION ALL SELECT 'orders','o_orderkey','unique',n,v_uq FROM ord
      |  UNION ALL SELECT 'orders','o_orderstatus','accepted_values',n,v_acc FROM ord
      |  UNION ALL SELECT 'orders','o_totalprice','range_positive',n,v_rng FROM ord
      |  UNION ALL SELECT 'lineitem','l_orderkey','not_null',n,v_nn FROM li
      |  UNION ALL SELECT 'lineitem','l_quantity','range_1_50',n,v_qty FROM li
      |  UNION ALL SELECT 'lineitem','l_discount','range_0_01',n,v_dis FROM li
      |  UNION ALL SELECT 'customer','c_custkey','unique',n,v_uq FROM cust
      |  UNION ALL SELECT 'customer','c_mktsegment','accepted_values',n,v_acc FROM cust)
      |SELECT table_name, column_name, "check", n_rows, n_violations,
      |  n_violations = 0 AS pass
      |FROM rows_ ORDER BY table_name, column_name, "check" """.stripMargin

  // ---- dq_referential: FK orphan audit ------------------------------------

  /** Orphan counts over the whole FK graph: for each child→parent edge,
    * child rows whose key has no parent (LEFT ANTI — fixed catalog
    * dims (nation/region) force-broadcast; entity-scaled parents
    * (part/supplier/customer) and the orders↔lineitem fact edge are
    * size-chosen joins). One row per edge with exact counts —
    * the referential gate of a publish job. */
  private val dqReferential: Q = (s, dir) => {
    def edge(fk: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
      val p0 = parent.select(col(pk).as("__pk")).distinct()
      val p = if (bcast) broadcast(p0) else p0
      val orphans = child.select(col(ck).as("__ck"))
        .join(p, col("__ck") === col("__pk"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      child.agg(count(lit(1)).as("child_rows")).crossJoin(orphans)
        .select(lit(fk).as("fk"), col("child_rows"), col("orphans"),
          (col("orphans") === 0L).as("pass"))
    }
    val li = Tables.load(s, dir, "lineitem"); val ord = Tables.load(s, dir, "orders")
    Seq(
      edge("lineitem.l_orderkey->orders", li, "l_orderkey",
        ord, "o_orderkey", bcast = false),
      // part/supplier/customer parents are entity-scaled: size-chosen
      // joins (bcast=false) - only the fixed catalog dims force-broadcast
      edge("lineitem.l_partkey->part", li, "l_partkey",
        Tables.load(s, dir, "part"), "p_partkey", bcast = false),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
        Tables.load(s, dir, "supplier"), "s_suppkey", bcast = false),
      edge("orders.o_custkey->customer", ord, "o_custkey",
        Tables.load(s, dir, "customer"), "c_custkey", bcast = false),
      edge("customer.c_nationkey->nation", Tables.load(s, dir, "customer"),
        "c_nationkey", Tables.load(s, dir, "nation"), "n_nationkey", bcast = true),
      edge("nation.n_regionkey->region", Tables.load(s, dir, "nation"),
        "n_regionkey", Tables.load(s, dir, "region"), "r_regionkey", bcast = true))
      .reduce(_.unionByName(_))
      .orderBy("fk")
  }

  private val dqReferentialOracle: String = {
    def e(fk: String, child: String, ck: String, parent: String,
        pk: String): String =
      s"""SELECT '$fk' AS fk,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS child_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $child c
         |    WHERE NOT EXISTS (SELECT 1 FROM $parent p
         |      WHERE p.$pk = c.$ck)) AS orphans""".stripMargin
    Seq(
      e("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      e("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      e("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      e("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      e("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      e("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"))
      .map(q => s"SELECT fk, child_rows, orphans, orphans = 0 AS pass FROM ($q)")
      .mkString("", "\nUNION ALL ", "\nORDER BY fk")
  }

  // ---- dq_freshness: staleness SLA per stream -----------------------------

  /** Freshness read per event stream: staleness of each event_type's
    * latest record against the table's global high-water mark (the
    * deterministic stand-in for wall-clock "now"), with a 7-day SLA
    * flag. One (type)-keyed max aggregate + one global max — both
    * map-side combinable. */
  private val dqFreshness: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("cast(floor(unix_timestamp(ts) / 86400) as long)").as("day"))
    val hwm = ev.agg(max("day").as("now_day"))
    ev.groupBy("event_type").agg(max("day").as("last_day"),
        count(lit(1)).as("n_events"))
      .crossJoin(broadcast(hwm))
      .select(col("event_type"), col("n_events"), col("last_day"),
        (col("now_day") - col("last_day")).as("staleness_days"),
        (col("now_day") - col("last_day") <= 7).as("fresh"))
      .orderBy("event_type")
  }

  private val dqFreshnessOracle: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      |  FROM events),
      |hwm AS (SELECT max(day) AS now_day FROM ev)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  max(day) AS last_day,
      |  (SELECT now_day FROM hwm) - max(day) AS staleness_days,
      |  (SELECT now_day FROM hwm) - max(day) <= 7 AS fresh
      |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "dq_expectations" -> dqExpectations,
    "dq_referential" -> dqReferential,
    "dq_freshness" -> dqFreshness
  )

  val oracles: Map[String, String] = Map(
    "dq_expectations" -> dqExpectationsOracle,
    "dq_referential" -> dqReferentialOracle,
    "dq_freshness" -> dqFreshnessOracle
  )
}
