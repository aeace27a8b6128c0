package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Third-wave analytics operators: reshaping (pivot/unpivot), deterministic
  * sampling, subquery forms (EXISTS / IN / scalar), ordinal explode,
  * two-variable statistics (corr / covariance / least-squares regression)
  * computed from exact decimal power sums, extended boolean/conditional
  * aggregates, grouped mode, and time-series gap-fill.
  *
  * Scale notes: every operator here is one scan + at most one shuffle.
  * The stats family reduces to six decimal sums per group (map-side
  * partial aggregation); gap-fill generates the date spine with
  * `sequence()` per group — no driver loop, no cross join; sampling is a
  * pushed-down filter on a content hash (portable md5 here; swap to
  * xxhash64 for production speed — same plan shape).
  */
object Analytics {

  // ---- reshaping --------------------------------------------------------

  /** Wide pivot: order counts per priority × status. Explicit pivot values
    * keep the plan a single groupBy (no extra distinct-values job) — the
    * form that scales: at 100 TB an implicit pivot first runs a distinct
    * scan to discover columns. */
  private val pivotWide: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy("o_orderpriority")

  /** Unpivot/melt: wide part columns → long (key, attr, val) — the
    * profiler's melt primitive exposed as a user operator. Narrow
    * transform: no shuffle at all. */
  private val unpivotMelt: Q = (s, dir) =>
    Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
        col("p_retailprice").cast("double").as("p_retailprice"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_size"), col("p_retailprice")), "attr", "val")
      .orderBy("p_partkey", "attr")

  // ---- deterministic sampling -------------------------------------------

  /** Content-hash Bernoulli sample (10%): filter on md5(key) mod 10 — the
    * reproducible, engine-portable form of TABLESAMPLE. The filter is a
    * narrow map evaluated at the scan; resampling at 100 TB costs one
    * pass, and the same rows are selected on any engine or cluster
    * layout (seeded `df.sample` is neither). */
  private val sampleHash: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .filter(Hashing.md5Bucket(
        concat_ws("#", col("l_orderkey"), col("l_linenumber")).cast("binary"),
        10) === 0)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  // ---- subquery forms ----------------------------------------------------

  private def view(s: SparkSession, dir: String, name: String): Unit =
    Tables.load(s, dir, name).createOrReplaceTempView(name)

  /** Correlated EXISTS: customers having at least one urgent order.
    * Catalyst rewrites to a left-semi hash join — verified in
    * AnalyticsSpec; never a per-row probe. */
  private val subqExists: Q = (s, dir) => {
    view(s, dir, "customer"); view(s, dir, "orders")
    s.sql("""SELECT c_custkey, c_name FROM customer c
             WHERE EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
             ORDER BY c_custkey""")
  }

  /** NOT IN subquery: suppliers with no high-quantity lineitem.
    * Catalyst plans a null-aware anti join. */
  private val subqNotIn: Q = (s, dir) => {
    view(s, dir, "supplier"); view(s, dir, "lineitem")
    s.sql("""SELECT s_suppkey, s_name FROM supplier
             WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 49)
             ORDER BY s_suppkey""")
  }

  /** Scalar subquery: parts priced above the global average retail price
    * (exact decimal sum, double division — cross-engine-identical
    * threshold). The scalar aggregate broadcasts — one extra stage, no
    * join shuffle. */
  private val subqScalar: Q = (s, dir) => {
    view(s, dir, "part")
    s.sql("""SELECT p_partkey, p_retailprice FROM part
             WHERE p_retailprice > (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM part)
             ORDER BY p_partkey""")
  }

  // ---- ordinal explode ---------------------------------------------------

  /** posexplode with ordinality: token position index per document —
    * LATERAL VIEW's core form, the substrate for positional n-gram
    * features. Narrow (generator, no shuffle). */
  private val fnExplodePos: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), posexplode(LlmPipeline.tokens(col("text"))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "w")
      .select(col("doc_id"), col("p").cast("bigint").as("p"), col("w"))
      .orderBy("doc_id", "p")

  // ---- two-variable statistics -------------------------------------------

  /** corr / covariance / least-squares slope+intercept of
    * (l_quantity, l_extendedprice) per return flag, all derived from six
    * EXACT decimal power sums (n, Σx, Σy, Σxy, Σx², Σy²) and combined in
    * double with formulas written identically on both engines — the only
    * cross-engine-deterministic way to do floating-point statistics
    * (partition-order-dependent double accumulation is not reproducible
    * even run-to-run at scale). Six sums = one map-side-combined shuffle. */
  private val aggCorrRegr: Q = (s, dir) => {
    val x = col("l_quantity").cast("decimal(19,4)")
    val y = col("l_extendedprice").cast("decimal(19,4)")
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(Seq(col("l_returnflag"), col("n")) ++ {
        val (n, sx, sy) = (col("n"), col("sx").cast("double"), col("sy").cast("double"))
        val (sxy, sxx, syy) = (col("sxy").cast("double"), col("sxx").cast("double"), col("syy").cast("double"))
        val cov_n = n * sxy - sx * sy          // n²·covariance
        val varx_n = n * sxx - sx * sx         // n²·variance(x)
        val vary_n = n * syy - sy * sy
        val slope = cov_n / varx_n
        Seq(
          round(cov_n / (sqrt(varx_n) * sqrt(vary_n)), 6).as("corr_xy"),
          round(cov_n / (n.cast("double") * (n - 1)), 6).as("covar_samp_xy"),
          round(slope, 6).as("slope"),
          round(sy / n - slope * (sx / n), 6).as("intercept"))
      }: _*)
      .orderBy("l_returnflag")
  }

  /** Extended conditional/boolean aggregates: count_if, bool_and, bool_or,
    * plus exact decimal avg — one map-combined shuffle. */
  private val aggBoolCond: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count_if(col("o_totalprice") > 150000).as("n_big"),
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
        bool_or(col("o_orderstatus") === "P").as("any_pending"),
        (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("avg_price"))
      .orderBy("o_orderpriority")

  /** Grouped mode with deterministic tie-break (most frequent token per
    * language, smallest-token-wins): count-then-rank, the scalable mode —
    * Spark's `mode()` breaks ties arbitrarily, which can never hash-match
    * another engine. Two shuffles: token count + per-group top-1. */
  private val aggMode: Q = (s, dir) => {
    val counts = Tables.load(s, dir, "documents")
      .select(col("lang"), explode(LlmPipeline.tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("n"))
    val win = Window.partitionBy("lang").orderBy(desc("n"), asc("w"))
    counts.withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .select(col("lang"), col("w").as("mode_token"), col("n"))
      .orderBy("lang")
  }

  // ---- time series --------------------------------------------------------

  /** Gap-fill / resample: per-user daily event counts on a dense date
    * spine from the user's first to last day, zeros filled. The spine is
    * `sequence()` per group — generated where the data lives, no driver
    * loop, no calendar cross join; at 100 TB this is one groupBy plus a
    * narrow generator. */
  private val timeseriesGapfill: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("user_id", "day")
  }

  /** Linear gap interpolation: the lerp twin of gap-fill — missing days
    * take the straight line between the surrounding observed days
    * (per-day metric = max(value): order-independent, so both engines see
    * bit-identical inputs; the lerp is then the same expression tree on
    * the same doubles). Four IGNORE NULLS window functions over the same
    * two frames — one shuffle on user_id, same 100 TB shape as the
    * gapfill spine. */
  private val timeseriesInterpolate: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(max(col("value")).as("v"))
    val spine = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val wPrev = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prevV = last(col("v"), ignoreNulls = true).over(wPrev)
    val prevD = last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wPrev)
    val nextV = first(col("v"), ignoreNulls = true).over(wNext)
    val nextD = first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wNext)
    val frac = datediff(col("day"), prevD).cast("double") /
      datediff(nextD, prevD).cast("double")
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), col("v"),
        prevV.as("pv"), prevD.as("pd"), nextV.as("nv"), nextD.as("nd"),
        frac.as("frac"))
      .select(col("user_id"), col("day"),
        round(when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) * col("frac")), 6).as("v_filled"),
        col("v").isNotNull.as("observed"))
      .orderBy("user_id", "day")
  }

  val queries: Map[String, Q] = Map(
    "pivot_wide" -> pivotWide,
    "unpivot_melt" -> unpivotMelt,
    "sample_hash" -> sampleHash,
    "subq_exists" -> subqExists,
    "subq_not_in" -> subqNotIn,
    "subq_scalar" -> subqScalar,
    "fn_explode_pos" -> fnExplodePos,
    "agg_corr_regr" -> aggCorrRegr,
    "agg_bool_cond" -> aggBoolCond,
    "agg_mode" -> aggMode,
    "timeseries_gapfill" -> timeseriesGapfill,
    "timeseries_interpolate" -> timeseriesInterpolate
  )

  val oracles: Map[String, String] = Map(
    "pivot_wide" ->
      """SELECT o_orderpriority,
        |CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS F,
        |CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS O,
        |CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "unpivot_melt" ->
      """SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS attr, CAST(p_retailprice AS DOUBLE) AS val FROM part
        |ORDER BY p_partkey, attr""".stripMargin,
    "sample_hash" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE CAST(concat('0x', substr(md5(concat(CAST(l_orderkey AS VARCHAR), '#', CAST(l_linenumber AS VARCHAR))), 1, 15)) AS BIGINT) % 10 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "subq_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "subq_not_in" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY s_suppkey""".stripMargin,
    "subq_scalar" ->
      """SELECT p_partkey, p_retailprice FROM part
        |WHERE p_retailprice > (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM part)
        |ORDER BY p_partkey""".stripMargin,
    "fn_explode_pos" ->
      s"""SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS p, unnest(toks) AS w
         |FROM (SELECT doc_id, ${LlmPipeline.duckTokens} AS toks FROM documents WHERE doc_id < 100)
         |ORDER BY doc_id, p""".stripMargin,
    "agg_corr_regr" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(19,4))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
        |    SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy,
        |    SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (SQRT(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     SQRT(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_xy,
        |  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * (n - 1)), 6) AS covar_samp_xy,
        |  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |  ROUND(CAST(sy AS DOUBLE) / n -
        |    ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |     (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * (CAST(sx AS DOUBLE) / n), 6) AS intercept
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "agg_bool_cond" ->
      """SELECT o_orderpriority,
        |CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
        |bool_and(o_totalprice > 1000) AS all_over_1k,
        |bool_or(o_orderstatus = 'P') AS any_pending,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_mode" ->
      s"""WITH counts AS (
         |  SELECT lang, unnest(${LlmPipeline.duckTokens}) AS w FROM documents),
         |agg AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS n FROM counts GROUP BY lang, w),
         |ranked AS (SELECT lang, w, n, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, w ASC) AS rn FROM agg)
         |SELECT lang, w AS mode_token, n FROM ranked WHERE rn = 1 ORDER BY lang""".stripMargin,
    "timeseries_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE user_id < 50 GROUP BY user_id, CAST(ts AS DATE)),
        |spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM daily GROUP BY user_id)
        |SELECT s.user_id, s.day, COALESCE(d.n, 0) AS n
        |FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
        |ORDER BY s.user_id, s.day""".stripMargin,
    "timeseries_interpolate" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, MAX(value) AS v
        |  FROM events WHERE user_id < 50 GROUP BY user_id, CAST(ts AS DATE)),
        |spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM daily GROUP BY user_id),
        |j AS (SELECT s.user_id, s.day, d.v
        |      FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day),
        |w AS (SELECT user_id, day, v,
        |  LAST_VALUE(v IGNORE NULLS) OVER wp AS pv,
        |  LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
        |  FIRST_VALUE(v IGNORE NULLS) OVER wn AS nv,
        |  FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nd
        |  FROM j WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day,
        |  ROUND(CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + (nv - pv) * (date_diff('day', pd, day) / CAST(date_diff('day', pd, nd) AS DOUBLE)) END, 6) AS v_filled,
        |  v IS NOT NULL AS observed
        |FROM w ORDER BY user_id, day""".stripMargin
  )
}
