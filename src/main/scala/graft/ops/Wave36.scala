package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 36: schema-discovery profilers — the categorical
  * association matrix (Cramér's V over declared column pairs) and
  * cross-table joinability discovery (distinct-set containment between
  * key columns), the two reads a catalog tool derives before proposing
  * denormalizations or foreign keys. Both extend the reference's
  * profiler family: its profileData answers "what is IN each column";
  * these answer "how do columns RELATE".
  */
object Wave36 {

  // ---- profile_cramers_v: categorical association strength -----------

  /** Cramér's V for three declared categorical pairs — (lang, source)
    * on documents, (event_type, weekday) on events, (status, priority)
    * on orders. Per pair: one contingency aggregate (the only
    * data-sized exchange), model-sized row/column totals broadcast
    * back, χ² addends rounded to DECIMAL(18,9) so the cross-engine sum
    * is EXACT regardless of partition order (the profile_chisq
    * convention), and V = sqrt(χ² / (n·(min(r,c)−1))) as the final
    * double. V is what a profiler reports when χ² alone is
    * scale-meaningless: it is n-normalized to [0,1]. */
  private def cramersPair(d: DataFrame, a: String, b: String,
      label: String): DataFrame = {
    // the contingency table feeds FOUR consumers (row/col totals, the
    // n/r/c scalars and the χ² join). r10 pinned it (localCheckpoint)
    // on an in-plan scan-count argument (24 scans per query, 0
    // ReusedExchange); the r11 clean-window A/B showed the pin LOSES
    // wall-clock (pinned warm 1.24-1.60 s vs unpinned 1.06-1.61 s, cold
    // 8.8-10.7 vs 7.6-10.3) — the same lesson as the reverted
    // agg_share_of_parent/mining_assoc pins: AQE stage reuse already
    // covers the replays at runtime, and the checkpoint's 3 extra
    // materialization jobs are pure overhead. In-plan scan counts are
    // not runtime evidence; A/B wall-clock decides.
    val cells = d.select(col(a).cast("string").as("va"),
        col(b).cast("string").as("vb"))
      .groupBy("va", "vb").agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy("va").agg(sum("o").as("rt"))
    val colTot = cells.groupBy("vb").agg(sum("o").as("ct"))
    val tot = cells.agg(sum("o").as("n"),
      countDistinct("va").as("r"), countDistinct("vb").as("c"))
    val e = (col("rt") * col("ct")).cast("double") / col("n").cast("double")
    cells
      .join(broadcast(rowTot), "va")
      .join(broadcast(colTot), "vb")
      .crossJoin(broadcast(tot))
      .select(col("n"), col("r"), col("c"),
        round(pow(col("o").cast("double") - e, 2) / e, 9)
          .cast(DecimalType(18, 9)).as("addend"))
      .groupBy("n", "r", "c")
      .agg(sum("addend").as("chi2d"))
      .select(lit(label).as("pair"), col("n"), col("r"), col("c"),
        round(col("chi2d").cast("double"), 6).as("chi2"),
        round(sqrt(col("chi2d").cast("double") /
          (col("n").cast("double") *
            (least(col("r"), col("c")).cast("double") - 1.0))), 6).as("v"))
  }

  private val profileCramersV: Q = (s, dir) => {
    val docs = cramersPair(Tables.load(s, dir, "documents"), "lang", "source",
      "documents:lang~source")
    val ev = cramersPair(
      Tables.load(s, dir, "events").select(col("event_type"),
        dayofweek(to_date(col("ts"))).as("dow")),
      "event_type", "dow", "events:type~weekday")
    val ord = cramersPair(Tables.load(s, dir, "orders"), "o_orderstatus",
      "o_orderpriority", "orders:status~priority")
    docs.unionAll(ev).unionAll(ord).orderBy("pair")
  }

  private def duckCramers(src: String, a: String, b: String,
      label: String): String =
    s"""SELECT '$label' AS pair, n, r, c,
       |  round(CAST(chi2d AS DOUBLE), 6) AS chi2,
       |  round(sqrt(CAST(chi2d AS DOUBLE) / (n * (LEAST(r, c) - 1.0))), 6) AS v
       |FROM (
       |  SELECT ANY_VALUE(n) AS n, ANY_VALUE(r) AS r, ANY_VALUE(c) AS c,
       |    SUM(CAST(round(POW(CAST(o AS DOUBLE) - e, 2) / e, 9)
       |      AS DECIMAL(18,9))) AS chi2d
       |  FROM (
       |    SELECT cl.o,
       |      CAST(rt.rt * ct.ct AS DOUBLE) / CAST(tt.n AS DOUBLE) AS e,
       |      tt.n, tt.r, tt.c
       |    FROM (SELECT va, vb, CAST(count(*) AS BIGINT) AS o
       |          FROM (SELECT CAST($a AS VARCHAR) AS va, CAST($b AS VARCHAR) AS vb
       |                FROM $src) GROUP BY 1, 2) cl
       |    JOIN (SELECT va, CAST(SUM(o) AS BIGINT) AS rt
       |          FROM (SELECT va, vb, CAST(count(*) AS BIGINT) AS o
       |                FROM (SELECT CAST($a AS VARCHAR) AS va, CAST($b AS VARCHAR) AS vb
       |                      FROM $src) GROUP BY 1, 2) GROUP BY 1) rt USING (va)
       |    JOIN (SELECT vb, CAST(SUM(o) AS BIGINT) AS ct
       |          FROM (SELECT va, vb, CAST(count(*) AS BIGINT) AS o
       |                FROM (SELECT CAST($a AS VARCHAR) AS va, CAST($b AS VARCHAR) AS vb
       |                      FROM $src) GROUP BY 1, 2) GROUP BY 1) ct USING (vb)
       |    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n,
       |            CAST(count(DISTINCT $a) AS BIGINT) AS r,
       |            CAST(count(DISTINCT $b) AS BIGINT) AS c
       |          FROM $src) tt))""".stripMargin

  private val profileCramersVOracle =
    s"""SELECT * FROM (
       |${duckCramers("documents", "lang", "source", "documents:lang~source")}
       |UNION ALL
       |${duckCramers(
            "(SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dow FROM events)",
            "event_type", "dow", "events:type~weekday")}
       |UNION ALL
       |${duckCramers("orders", "o_orderstatus", "o_orderpriority",
            "orders:status~priority")}
       |) ORDER BY pair""".stripMargin

  // ---- profile_joinability: key-column containment discovery ---------

  /** Joinability discovery over five declared key-column pairs: for
    * each (A, B), the distinct-value counts, the intersection size
    * (one equi-join of the two DISTINCT sets — hash-partitioned on the
    * value, scale-safe at any NDV), and both containments
    * |A∩B|/|A|, |A∩B|/|B| — the signal a lake catalog ranks candidate
    * foreign keys by (containment ≈ 1.0 ⇒ FK direction). The TPC-H
    * fixture's true FKs must surface with containment 1.0 — that
    * property is the spec. */
  private val joinPairs: Seq[(String, String, String, String)] = Seq(
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ("nation", "n_nationkey", "customer", "c_nationkey"))

  private val profileJoinability: Q = (s, dir) => {
    val frames = joinPairs.map { case (ta, ca, tb, cb) =>
      // ONE pass per pair: tag each side, aggregate per key, then the
      // three counts fall out of one global aggregate. The r6 form built
      // per-side distinct() sets and fed each into TWO consumers (its
      // NDV count and the intersection join), replaying every scan and
      // distinct-shuffle — 40 parquet scans / 100 exchanges across the
      // 5 pairs, 0 reused (plans/r10/profile_joinability_before.txt).
      // Now: 2 scans, one key shuffle, one scalar aggregate per pair.
      // Semantics preserved exactly: distinct() counts NULL as a value
      // (max-tag groupBy does too) while the inner equi-join never
      // matched NULL — the intersection count keeps k IS NOT NULL.
      val tagged = Tables.load(s, dir, ta)
        .select(col(ca).cast("long").as("k"), lit(1L).as("ina"), lit(0L).as("inb"))
        .unionAll(Tables.load(s, dir, tb)
          .select(col(cb).cast("long").as("k"), lit(0L).as("ina"), lit(1L).as("inb")))
      tagged.groupBy("k").agg(max("ina").as("ina"), max("inb").as("inb"))
        .agg(coalesce(sum("ina"), lit(0L)).as("ndv_a"),
          coalesce(sum("inb"), lit(0L)).as("ndv_b"),
          coalesce(sum(when(col("ina") === 1L && col("inb") === 1L &&
            col("k").isNotNull, 1L).otherwise(0L)), lit(0L)).as("inter"))
        .select(lit(s"$ta.$ca~$tb.$cb").as("pair"),
          col("ndv_a"), col("ndv_b"), col("inter"),
          round(col("inter").cast("double") / col("ndv_a").cast("double"), 6)
            .as("cont_a_in_b"),
          round(col("inter").cast("double") / col("ndv_b").cast("double"), 6)
            .as("cont_b_in_a"))
    }
    frames.reduce(_.unionAll(_)).orderBy("pair")
  }

  private val profileJoinabilityOracle = {
    val blocks = joinPairs.map { case (ta, ca, tb, cb) =>
      s"""SELECT '$ta.$ca~$tb.$cb' AS pair,
         |  (SELECT CAST(count(DISTINCT $ca) AS BIGINT) FROM $ta) AS ndv_a,
         |  (SELECT CAST(count(DISTINCT $cb) AS BIGINT) FROM $tb) AS ndv_b,
         |  (SELECT CAST(count(*) AS BIGINT) FROM
         |     (SELECT DISTINCT CAST($ca AS BIGINT) AS k FROM $ta)
         |     JOIN (SELECT DISTINCT CAST($cb AS BIGINT) AS k FROM $tb)
         |     USING (k)) AS inter""".stripMargin
    }
    s"""WITH raw AS (
       |${blocks.mkString("\nUNION ALL\n")}
       |)
       |SELECT pair, ndv_a, ndv_b, inter,
       |  round(CAST(inter AS DOUBLE) / ndv_a, 6) AS cont_a_in_b,
       |  round(CAST(inter AS DOUBLE) / ndv_b, 6) AS cont_b_in_a
       |FROM raw ORDER BY pair""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "profile_cramers_v" -> profileCramersV,
    "profile_joinability" -> profileJoinability
  )

  val oracles: Map[String, String] = Map(
    "profile_cramers_v" -> profileCramersVOracle,
    "profile_joinability" -> profileJoinabilityOracle
  )
}
