package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 44: econometrics + multiple testing + full-sync MERGE —
  * log-log price elasticity per brand (the classic demand-curve read),
  * Holm–Bonferroni-corrected per-segment A/B tests (running many tests
  * honestly), and the `WHEN NOT MATCHED BY SOURCE THEN DELETE` MERGE
  * shape (snapshot sync) expressed through the store's atomic
  * three-clause merge.
  */
object Wave44 {

  // ---- price_elasticity: log-log OLS per brand -----------------------

  /** Demand elasticity per part brand: OLS slope of ln(quantity) on
    * ln(unit price) over lineitem × broadcast(part). Cross-engine
    * exactness is integer end-to-end: logs quantize to nano-unit longs
    * with the same IEEE ops on both sides, moments sum as exact
    * DECIMAL(38,0), and the 6-dp half-up rounding happens in integer
    * rational arithmetic ((2·|num|·10⁶ + den) div (2·den)) — no
    * decimal→double cast ever exceeds 2⁵³, so boundary values cannot
    * flip between engines. One shuffle (the brand aggregate); the
    * part join is size-chosen. */
  private val priceElasticity: Q = (s, dir) => {
    def lnq(c: Column) = floor(log(c) * 1e9 + 0.5).cast("long")
    val joined = Tables.load(s, dir, "lineitem")
      // part is entity-scaled: size-chosen join, no forced broadcast
      .join(Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        lnq(col("l_extendedprice").cast("double") / col("l_quantity").cast("double"))
          .as("lx"),
        lnq(col("l_quantity").cast("double")).as("ly"))
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    joined.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("lx").as("sx"), sum("ly").as("sy"),
        sum(d38(col("lx")) * col("ly")).as("sxy"),
        sum(d38(col("lx")) * col("lx")).as("sxx"))
      .withColumn("num", d38(col("n")) * col("sxy") - d38(col("sx")) * col("sy"))
      .withColumn("den", d38(col("n")) * col("sxx") - d38(col("sx")) * col("sx"))
      .withColumn("smag", expr("(2 * abs(num) * 1000000 + den) div (2 * den)"))
      .withColumn("s_micro",
        when(col("num") < 0, -col("smag")).otherwise(col("smag")))
      .withColumn("inum",
        d38(col("sy")) * 1000000 - d38(col("s_micro")) * col("sx"))
      .withColumn("iden", d38(col("n")) * 1000000000L)
      .withColumn("imag", expr("(2 * abs(inum) + iden) div (2 * iden)"))
      .withColumn("i_micro",
        when(col("inum") < 0, -col("imag")).otherwise(col("imag")))
      .select(col("p_brand"), col("n"),
        (col("s_micro").cast("double") / 1e6).as("elasticity"),
        (col("i_micro").cast("double") / 1e6).as("intercept"))
      .orderBy("p_brand")
  }

  private val priceElasticityOracle =
    """WITH j AS (
      |  SELECT p_brand,
      |    CAST(FLOOR(ln(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE))
      |      * 1e9 + 0.5) AS BIGINT) AS lx,
      |    CAST(FLOOR(ln(CAST(l_quantity AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS ly
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |m AS (
      |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
      |    SUM(CAST(lx AS HUGEINT) * ly) AS sxy,
      |    SUM(CAST(lx AS HUGEINT) * lx) AS sxx
      |  FROM j GROUP BY 1),
      |c AS (
      |  SELECT p_brand, n, sx, sy,
      |    n * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    n * sxx - CAST(sx AS HUGEINT) * sx AS den
      |  FROM m),
      |c2 AS (
      |  SELECT *, CASE WHEN num < 0 THEN -1 ELSE 1 END *
      |    ((2 * abs(num) * 1000000 + den) // (2 * den)) AS s_micro
      |  FROM c),
      |c3 AS (
      |  SELECT *,
      |    CAST(sy AS HUGEINT) * 1000000 - CAST(s_micro AS HUGEINT) * sx AS inum,
      |    CAST(n AS HUGEINT) * 1000000000 AS iden
      |  FROM c2)
      |SELECT p_brand, n,
      |  CAST(s_micro AS DOUBLE) / 1e6 AS elasticity,
      |  CAST(CASE WHEN inum < 0 THEN -1 ELSE 1 END *
      |    ((2 * abs(inum) + iden) // (2 * iden)) AS DOUBLE) / 1e6 AS intercept
      |FROM c3 ORDER BY p_brand""".stripMargin

  // ---- events_holm: Holm–Bonferroni over per-type A/B z-tests --------

  /** One z-test per event type (mean value, treatment vs control on
    * the portable md5 user split, exact decimal moments), then the
    * Holm step-down correction: rank p ascending, adjusted
    * p(i) = min(1, max_{j≤i} (m−j+1)·p(j)). The normal CDF is the
    * Abramowitz–Stegun 26.2.17 polynomial written IDENTICALLY in both
    * engines. The test table is #types-sized, so the rank window is a
    * model-sized single partition by construction. */
  private val eventsHolm: Q = (s, dir) => {
    val arm = pmod(Hashing.md5Long(
      concat(col("user_id").cast("string"), lit(":ab")).cast("binary")), lit(2))
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    val cells = Tables.load(s, dir, "events")
      .select(col("event_type"), arm.as("arm"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
      .groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(d38(col("v")) * col("v")).as("svv"))
    def dbl(c: String) = col(c).cast("double")
    val a = cells.filter(col("arm") === 1).select(col("event_type"),
      col("n").as("n_t"), col("sv").as("sv_t"), col("svv").as("svv_t"))
    val b = cells.filter(col("arm") === 0).select(col("event_type").as("et_c"),
      col("n").as("n_c"), col("sv").as("sv_c"), col("svv").as("svv_c"))
    val tests = a.join(b, col("event_type") === col("et_c"))
      .withColumn("mt", dbl("sv_t") / dbl("n_t"))
      .withColumn("mc", dbl("sv_c") / dbl("n_c"))
      .withColumn("vt",
        (dbl("svv_t") - dbl("sv_t") * dbl("sv_t") / dbl("n_t")) / (dbl("n_t") - 1.0))
      .withColumn("vc",
        (dbl("svv_c") - dbl("sv_c") * dbl("sv_c") / dbl("n_c")) / (dbl("n_c") - 1.0))
      .withColumn("z",
        (col("mt") - col("mc")) /
          sqrt(col("vt") / dbl("n_t") + col("vc") / dbl("n_c")))
      .withColumn("az", abs(col("z")))
      // Abramowitz–Stegun 26.2.17 upper-tail of the standard normal
      .withColumn("k", lit(1.0) / (lit(1.0) + col("az") * 0.2316419))
      .withColumn("poly",
        col("k") * (lit(0.319381530) + col("k") * (lit(-0.356563782) +
          col("k") * (lit(1.781477937) + col("k") * (lit(-1.821255978) +
            col("k") * 1.330274429)))))
      .withColumn("p",
        exp(col("az") * col("az") * -0.5) / math.sqrt(2.0 * math.Pi) *
          col("poly") * 2.0)
    // rank + count windows over the #types-sized test table (single
    // partition by construction — model-sized, not data-sized)
    val w = Window.orderBy("p", "event_type")
    val wAll = Window.partitionBy(lit(0))
    tests
      .withColumn("m", count(lit(1)).over(wAll).cast("double"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("p_holm",
        least(lit(1.0),
          max((col("m") - col("rk") + 1.0) * col("p"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .select(col("event_type"), col("n_t"), col("n_c"),
        round(col("z"), 6).as("z"), round(col("p"), 6).as("p"),
        round(col("p_holm"), 6).as("p_holm"),
        (col("p_holm") <= 0.05).as("reject"))
      .orderBy("event_type")
  }

  private val eventsHolmOracle =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(concat('0x', substr(md5(user_id || ':ab'), 1, 15)) AS BIGINT) % 2 AS arm,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |cells AS (
      |  SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(v) AS BIGINT) AS sv, SUM(CAST(v AS HUGEINT) * v) AS svv
      |  FROM ev GROUP BY 1, 2),
      |tests AS (
      |  SELECT a.event_type, a.n AS n_t, b.n AS n_c,
      |    (CAST(a.sv AS DOUBLE) / a.n - CAST(b.sv AS DOUBLE) / b.n) /
      |      sqrt(((CAST(a.svv AS DOUBLE) - CAST(a.sv AS DOUBLE) * CAST(a.sv AS DOUBLE) / a.n)
      |              / (a.n - 1.0)) / a.n +
      |           ((CAST(b.svv AS DOUBLE) - CAST(b.sv AS DOUBLE) * CAST(b.sv AS DOUBLE) / b.n)
      |              / (b.n - 1.0)) / b.n) AS z
      |  FROM cells a JOIN cells b ON a.event_type = b.event_type
      |  WHERE a.arm = 1 AND b.arm = 0),
      |pv AS (
      |  SELECT event_type, n_t, n_c, z, ABS(z) AS az,
      |    1.0 / (1.0 + ABS(z) * 0.2316419) AS k
      |  FROM tests),
      |pv2 AS (
      |  SELECT *,
      |    exp(az * az * -0.5) / sqrt(2.0 * pi()) *
      |      (k * (0.319381530 + k * (-0.356563782 +
      |        k * (1.781477937 + k * (-1.821255978 + k * 1.330274429))))) * 2.0 AS p
      |  FROM pv),
      |ranked AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p, event_type) AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS m
      |  FROM pv2),
      |holm AS (
      |  SELECT *,
      |    least(1.0, MAX((m - rk + 1.0) * p) OVER
      |      (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_holm
      |  FROM ranked)
      |SELECT event_type, n_t, n_c, round(z, 6) AS z, round(p, 6) AS p,
      |  round(p_holm, 6) AS p_holm, p_holm <= 0.05 AS reject
      |FROM holm ORDER BY event_type""".stripMargin

  // ---- sink_merge_sync: WHEN NOT MATCHED BY SOURCE THEN DELETE -------

  /** Snapshot sync — the `WHEN NOT MATCHED BY SOURCE THEN DELETE`
    * MERGE shape, scoped to one segment as Delta's docs recommend (an
    * unscoped not-matched-by-source rewrites the whole table at
    * 100 TB). Expressed through the store's atomic three-clause merge:
    * the feed is the new snapshot (op = U) unioned with the in-scope
    * target keys missing from it (op = D, computed by one anti-join
    * against the live read). One atomic commit; out-of-scope segments
    * are untouched and their files never rewrite. */
  private val sinkMergeSync: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "mergesync")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("acctbal"))
    store.write(base.repartitionByRange(4, col("c_custkey")), "cust") // v1
    // the new snapshot of the BUILDING segment: keeps only every 2nd
    // key, bumps balances by 100
    val snapshot = base.filter(col("c_mktsegment") === "BUILDING" &&
        pmod(col("c_custkey"), lit(2)) === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("acctbal") + lit(100)).cast("decimal(18,2)").as("acctbal"))
    val gone = store.read(s, "cust")
      .filter(col("c_mktsegment") === "BUILDING")
      .join(snapshot.select("c_custkey"), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"), col("acctbal"))
    val feed = snapshot.withColumn("op", lit("U"))
      .unionByName(gone.withColumn("op", lit("D")))
    val v = store.merge(s, "cust", feed, Seq("c_custkey"),
      deleteWhen = f => f("op") === "D")                              // v2, atomic
    require(v == 2L, s"sink_merge_sync: expected one atomic commit, got v$v")
    store.read(s, "cust")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("c_custkey").as("key_sum"),
        sum("acctbal").cast("double").as("bal_sum"))
      .orderBy("c_mktsegment")
  }

  private val sinkMergeSyncOracle =
    """WITH merged AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE WHEN c_mktsegment = 'BUILDING'
      |         THEN CAST(c_acctbal AS DECIMAL(18,2)) + 100
      |         ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS acctbal
      |  FROM customer
      |  WHERE c_mktsegment <> 'BUILDING' OR c_custkey % 2 = 0)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(acctbal) AS DOUBLE) AS bal_sum
      |FROM merged GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  val queries: Map[String, Q] = Map(
    "price_elasticity" -> priceElasticity,
    "events_holm" -> eventsHolm,
    "sink_merge_sync" -> sinkMergeSync
  )

  val oracles: Map[String, String] = Map(
    "price_elasticity" -> priceElasticityOracle,
    "events_holm" -> eventsHolmOracle,
    "sink_merge_sync" -> sinkMergeSyncOracle
  )
}
