package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 76: trained gates + graph influence — 1-feature
  * logistic regression by Newton/IRLS (the trained twin of the
  * decision stump: same feature, now a calibrated probability), and
  * personalized PageRank from the hub brand (the "what else moves
  * with this product" influence read), both as fixed-superstep
  * iterations whose state is micro/nano-quantized integers so every
  * step is engine-exact.
  */
object Wave76 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- ml_logreg_newton: 1-feature logistic regression -----------------

  /** Logistic regression of is-English on the en-stopword share by 6
    * Newton/IRLS steps. Per step: ONE aggregation over the cached
    * (x_milli, y) table builds the exact-integer sufficient statistics
    * (per-row score/weight contributions nano-rounded BEFORE summing —
    * the attribution_markov discipline), the 2×2 Newton solve is one
    * exact integer rational per coefficient (unit bookkeeping:
    * Δb0 = (W11·G0 − W01·G1)/D, Δb1 = 1000·(W00·G1 − W01·G0)/D,
    * D = W00·W11 − W01²), sign-magnitude micro-quantized into the
    * micro-integer coefficients. The logistic link itself runs on
    * η = (b0µ·1000 + b1µ·x_m)/1e9 — one exact long numerator, one
    * double division, identical IEEE in both engines. Output: fitted
    * coefficients, training accuracy and the confusion counts of the
    * σ(η) > 1/2 gate (exact integers). */
  private val mlLogregNewton: Q = (s, dir) => {
    val base = t(s, dir, "documents").select(
      (col("lang") === "en").cast("long").as("y"),
      expr("""(2 * 1000 * size(array_intersect(array_distinct(
          filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')),
          array('the','and','of','to','in','is','a','that')))
        + size(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')))
        div (2 * size(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')))"""
        .replaceAll("\\s+", " ")).as("x_m"))
      .localCheckpoint()
    // Newton state is 2 longs — MODEL-sized driver state (the ml_em_gmm
    // contract): each IRLS step is ONE aggregate-collect over the pinned
    // (x_m, y) table with the coefficients inlined as literals, run in
    // the superstep scope (width 1 — the exchange carries one
    // partial row per map partition). The r6 form carried a 1-row
    // coefficient frame: same arithmetic, but each round paid a broadcast
    // build + a checkpoint job on top of the aggregate. The per-row
    // mu/gn/wn expressions are unchanged (lit(Long) in place of a
    // constant LongType column — bit-identical IEEE), and the 2x2 Newton
    // solve replays the decimal `div` rationals exactly in BigInt: dd is
    // a Cauchy-Schwarz determinant of non-negative weights (>= 0), the
    // numerators are sign-split to non-negative magnitudes, and both
    // decimal div and BigInt / truncate toward zero.
    var b0m = 0L; var b1m = 0L
    for (_ <- 1 to 6) {
      val r = graft.engine.ConfScope.superstep(s) { _ => base
        .withColumn("mu", lit(1.0) /
          (lit(1.0) + exp(-((lit(b0m) * 1000 + lit(b1m) * col("x_m"))
            .cast("double") / 1e9))))
        .withColumn("gn", round((col("y") - col("mu")) * 1e9).cast("long"))
        .withColumn("wn", round(col("mu") * (lit(1.0) - col("mu")) * 1e9)
          .cast("long"))
        .agg(sum(expr("cast(gn as decimal(38,0))")).as("g0"),
          sum(expr("cast(gn as decimal(38,0)) * x_m")).as("g1"),
          sum(expr("cast(wn as decimal(38,0))")).as("w00"),
          sum(expr("cast(wn as decimal(38,0)) * x_m")).as("w01"),
          sum(expr("cast(wn as decimal(38,0)) * x_m * x_m")).as("w11"))
        .collect() }(0)
      def big(i: Int) =
        if (r.isNullAt(i)) BigInt(0) else BigInt(r.getDecimal(i).toBigInteger)
      val (g0, g1, w00, w01, w11) = (big(0), big(1), big(2), big(3), big(4))
      val dd = w00 * w11 - w01 * w01
      val n0 = w11 * g0 - w01 * g1
      val n1 = (w00 * g1 - w01 * g0) * 1000
      def delta(n: BigInt): Long =
        if (dd == 0) 0L
        else (n.signum * ((2 * n.abs * 1000000 + dd) / (2 * dd))).toLong
      b0m += delta(n0); b1m += delta(n1)
    }
    base
      .withColumn("pred", (lit(b0m) * 1000 + lit(b1m) * col("x_m")) > 0)
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") && col("y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && col("y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("y") === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(!col("pred") && col("y") === 1, 1L).otherwise(0L)).as("fn"))
      .select(
        (lit(b0m).cast("double") / 1e6).as("b0"),
        (lit(b1m).cast("double") / 1e6).as("b1"),
        col("n"), col("tp"), col("fp"), col("tn"), col("fn"),
        expr("cast((2 * (tp + tn) * 1000000 + n) div (2 * n) as double)")
          .divide(lit(1e6)).as("accuracy"))
  }

  private val mlLogregNewtonOracle: String = {
    val dBase =
      """SELECT CAST(lang = 'en' AS BIGINT) AS y,
        |    (2 * 1000 * len(list_intersect(list_distinct(
        |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |          x -> x <> '')),
        |        ['the','and','of','to','in','is','a','that']))
        |      + len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |          x -> x <> '')))
        |      // (2 * len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |          x -> x <> ''))) AS x_m
        |  FROM documents""".stripMargin
    def step(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT
         |    b0m + CASE WHEN dd = 0 THEN 0 ELSE CAST(
         |      (CASE WHEN n0 < 0 THEN -1 ELSE 1 END) *
         |      ((2 * abs(n0) * 1000000 + dd) // (2 * dd)) AS BIGINT) END AS b0m,
         |    b1m + CASE WHEN dd = 0 THEN 0 ELSE CAST(
         |      (CASE WHEN n1 < 0 THEN -1 ELSE 1 END) *
         |      ((2 * abs(n1) * 1000000 + dd) // (2 * dd)) AS BIGINT) END AS b1m
         |  FROM (
         |    SELECT b0m, b1m, w00 * w11 - w01 * w01 AS dd,
         |      w11 * g0 - w01 * g1 AS n0, (w00 * g1 - w01 * g0) * 1000 AS n1
         |    FROM (
         |      SELECT b0m, b1m,
         |        SUM(gn::HUGEINT) AS g0, SUM(gn::HUGEINT * x_m) AS g1,
         |        SUM(wn::HUGEINT) AS w00, SUM(wn::HUGEINT * x_m) AS w01,
         |        SUM(wn::HUGEINT * x_m * x_m) AS w11
         |      FROM (
         |        SELECT b0m, b1m, x_m, y,
         |          CAST(round((y - mu) * 1e9) AS BIGINT) AS gn,
         |          CAST(round(mu * (1 - mu) * 1e9) AS BIGINT) AS wn
         |        FROM (
         |          SELECT b0m, b1m, x_m, y,
         |            1 / (1 + exp(-(CAST(b0m * 1000 + b1m * x_m AS DOUBLE) / 1e9)))
         |              AS mu
         |          FROM d, $prev))
         |      GROUP BY b0m, b1m)))""".stripMargin
    val steps = (1 to 6).map(i => step(if (i == 1) "s0" else s"s${i - 1}", s"s$i"))
      .mkString(",\n")
    s"""WITH d AS MATERIALIZED ($dBase),
       |s0 AS (SELECT CAST(0 AS BIGINT) AS b0m, CAST(0 AS BIGINT) AS b1m),
       |$steps
       |SELECT CAST(b0m AS DOUBLE) / 1e6 AS b0, CAST(b1m AS DOUBLE) / 1e6 AS b1,
       |  n, tp, fp, tn, fn,
       |  CAST((2 * (tp + tn) * 1000000 + n) // (2 * n) AS DOUBLE) / 1e6
       |    AS accuracy
       |FROM (
       |  SELECT b0m, b1m, CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN b0m * 1000 + b1m * x_m > 0 AND y = 1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN b0m * 1000 + b1m * x_m > 0 AND y = 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN b0m * 1000 + b1m * x_m <= 0 AND y = 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |    CAST(SUM(CASE WHEN b0m * 1000 + b1m * x_m <= 0 AND y = 1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM d, s6 GROUP BY 1, 2)""".stripMargin
  }

  // ---- graph_ppr: personalized PageRank from the hub brand -------------

  /** Personalized PageRank on the brand co-purchase graph, seeded at
    * the max-degree brand (ties by name), damping 17/20, 8 supersteps
    * — ALL arithmetic on nano-integer rank mass (per-neighbor share =
    * half-up integer division by degree; 0.85 = the exact rational
    * 17/20), so every superstep is engine-bit-identical with no float
    * anywhere. The rank table is model-sized (one row per brand);
    * edges come from the shared materialized [[BrandGraph]]. Rounding
    * leaks sub-nano mass per step by design — conservation is asserted
    * in the spec up to that documented slack. */
  private val graphPpr: Q = (s, dir) => {
    // The brand graph is CATALOG-sized (p_brand is a fixed TPC-H
    // domain — ~25 nodes at any corpus scale), so the 8 supersteps run
    // on the DRIVER in exact integer arithmetic (the r07 model-state
    // pattern; contrast graph_hits, whose customer×supplier vectors
    // grow with the data and keep the distributed loop). Data-sized
    // work stays in the shared materialized BrandGraph edge pass; the
    // r06 distributed form paid a checkpoint + 2-join job per
    // superstep on ≤25-row frames.
    import s.implicits._
    val e = BrandGraph.edges(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val both = e ++ e.map { case (u, v) => (v, u) }
    val deg: Map[String, Long] =
      both.groupBy(_._1).map { case (x, xs) => x -> xs.length.toLong }
    val seed = deg.toSeq.minBy { case (x, d) => (-d, x) }._1
    val nodes = deg.keys.toSeq.sorted
    var r: Map[String, Long] =
      nodes.map(x => x -> (if (x == seed) 1000000000L else 0L)).toMap
    for (_ <- 1 to 8) {
      val inflow = both
        .map { case (src, dst) =>
          dst -> ((2 * r(src) + deg(src)) / (2 * deg(src))) }
        .groupBy(_._1).map { case (x, cs) => x -> cs.map(_._2).sum }
      r = nodes.map { x =>
        val in = inflow.getOrElse(x, 0L)
        x -> ((2 * 17 * in + 20) / (2 * 20) +
          (if (x == seed) 150000000L else 0L))
      }.toMap
    }
    nodes.map(x => (x, deg(x), x == seed, r(x).toDouble / 1e9, r(x)))
      .toDF("brand", "degree", "is_seed", "ppr", "rq")
      .orderBy(desc("rq"), asc("brand"))
      .select("brand", "degree", "is_seed", "ppr")
  }

  private val graphPprOracle: String = {
    def step(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.x,
         |    (2 * 17 * COALESCE(i.inflow, 0) + 20) // (2 * 20)
         |      + CASE WHEN n.is_seed THEN 150000000 ELSE 0 END AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS x, SUM((2 * p.r + d.d) // (2 * d.d)) AS inflow
         |    FROM bidir e JOIN $prev p ON p.x = e.src
         |    JOIN deg d ON d.x = e.src
         |    GROUP BY 1) i ON i.x = n.x)""".stripMargin
    val steps = (1 to 8).map(i => step(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
      .mkString(",\n")
    s"""WITH basket AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM basket),
       |edges AS MATERIALIZED (
       |  SELECT a.brand AS u, b.brand AS v
       |  FROM basket a JOIN basket b ON a.ok = b.ok AND a.brand < b.brand
       |  GROUP BY 1, 2
       |  HAVING count(*) * 50 >= (SELECT n_orders FROM tot)),
       |bidir AS (SELECT u AS src, v AS dst FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM (
       |  SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges) GROUP BY 1),
       |seed AS (SELECT x AS sd FROM deg ORDER BY d DESC, x LIMIT 1),
       |nodes AS (SELECT deg.x, deg.d, deg.x = (SELECT sd FROM seed) AS is_seed
       |  FROM deg),
       |r0 AS (SELECT x, CASE WHEN is_seed THEN CAST(1000000000 AS BIGINT)
       |  ELSE 0 END AS r FROM nodes),
       |$steps
       |SELECT n.x AS brand, n.d AS degree, n.is_seed,
       |  CAST(r.r AS DOUBLE) / 1e9 AS ppr
       |FROM r8 r JOIN nodes n USING (x)
       |ORDER BY r.r DESC, brand""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "ml_logreg_newton" -> mlLogregNewton,
    "graph_ppr" -> graphPpr
  )

  val oracles: Map[String, String] = Map(
    "ml_logreg_newton" -> mlLogregNewtonOracle,
    "graph_ppr" -> graphPprOracle
  )
}
