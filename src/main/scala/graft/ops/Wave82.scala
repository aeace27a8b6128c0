package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 82: cohesive subgraphs + soft clustering — k-truss
  * peeling of the brand co-purchase graph (the edge-level cohesion
  * standard above k-core: every surviving edge sits in >= k−2
  * triangles), and a 2-component 1-D Gaussian mixture via EM (the
  * soft twin of wave-80's k-means: responsibilities instead of hard
  * assignments), both engine-exact through quantized state.
  */
object Wave82 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- graph_ktruss: edge-cohesion peeling ------------------------------

  /** 4-truss of the brand graph: iteratively drop edges supported by
    * fewer than 2 triangles, recomputing support on the survivors
    * (lexicographic orientation — each triangle counted exactly once),
    * until the PROVEN fixpoint (monotone peel + unchanged edge count),
    * capped at 8 rounds like the unrolled oracle. Output: surviving
    * edges with their in-truss support. */
  private val graphKtruss: Q = (s, dir) =>
    // the data-sized pass (the basket self-join inside BrandGraph.edges)
    // runs in the loop-input pin under the session conf; the peel loop
    // runs on the pinned catalog-sized edge list (≤ brands² rows at any
    // data scale) in the superstep scope
    graft.engine.ConfScope.superstepOver(BrandGraph.edges(s, dir)) {
      (edges0, ne, _) => graphKtrussBody(edges0, ne)
    }

  private def graphKtrussBody(edges0: DataFrame, ne: Long): DataFrame = {
    var edges = edges0
    def support(e: DataFrame): DataFrame = {
      val tri = BrandGraph.trianglesOf(
        e.select(col("u").as("src"), col("v").as("dst")))
      tri.select(col("a").as("u"), col("b").as("v"))
        .unionByName(tri.select(col("a").as("u"), col("c").as("v")))
        .unionByName(tri.select(col("b").as("u"), col("c").as("v")))
        .groupBy("u", "v").agg(count(lit(1)).as("supp"))
    }
    var prev = ne
    var converged = false
    // carry each round's support table out of the loop: on the
    // converged round the filter kept EVERY edge, so that round's
    // support was computed on exactly the surviving edge set and IS
    // the final report — no extra triangle-enumeration pass (the r06
    // form re-ran trianglesOf on the converged set it had just
    // measured). Only a cap-exit without convergence still recomputes.
    var lastSupported: DataFrame = null
    for (_ <- 1 to 8 if !converged) {
      lastSupported = edges.join(support(edges), Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("supp"), lit(0L)).as("supp"))
        .localCheckpoint()
      edges = lastSupported.filter(col("supp") >= 2).select("u", "v")
      val n = edges.count()
      converged = n == prev
      prev = n
    }
    val fin =
      if (converged && lastSupported != null) lastSupported
      else edges.join(support(edges), Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("supp"), lit(0L)).as("supp"))
    fin.select(col("u"), col("v"), col("supp").as("support"))
      .orderBy("u", "v")
  }

  private val graphKtrussOracle: String = {
    def round(prev: String, cur: String): String =
      s"""t$cur AS MATERIALIZED (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM $prev e1
         |  JOIN $prev e2 ON e2.u = e1.u AND e2.v > e1.v
         |  JOIN $prev e3 ON e3.u = e1.v AND e3.v = e2.v),
         |s$cur AS MATERIALIZED (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS supp FROM (
         |    SELECT a AS u, b AS v FROM t$cur
         |    UNION ALL SELECT a, c FROM t$cur
         |    UNION ALL SELECT b, c FROM t$cur) GROUP BY 1, 2),
         |$cur AS MATERIALIZED (
         |  SELECT e.u, e.v FROM $prev e
         |  JOIN s$cur s ON s.u = e.u AND s.v = e.v AND s.supp >= 2)""".stripMargin
    val rounds = (1 to 8).map(i => round(if (i == 1) "e0" else s"e${i - 1}", s"e$i"))
      .mkString(",\n")
    s"""WITH basket AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM basket),
       |e0 AS MATERIALIZED (
       |  SELECT a.brand AS u, b.brand AS v
       |  FROM basket a JOIN basket b ON a.ok = b.ok AND a.brand < b.brand
       |  GROUP BY 1, 2
       |  HAVING count(*) * 50 >= (SELECT n_orders FROM tot)),
       |$rounds,
       |tfin AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e8 e1 JOIN e8 e2 ON e2.u = e1.u AND e2.v > e1.v
       |  JOIN e8 e3 ON e3.u = e1.v AND e3.v = e2.v),
       |sfin AS (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS supp FROM (
       |    SELECT a AS u, b AS v FROM tfin
       |    UNION ALL SELECT a, c FROM tfin
       |    UNION ALL SELECT b, c FROM tfin) GROUP BY 1, 2)
       |SELECT e.u, e.v, COALESCE(s.supp, 0) AS support
       |FROM e8 e LEFT JOIN sfin s ON s.u = e.u AND s.v = e.v
       |ORDER BY e.u, e.v""".stripMargin
  }

  // ---- ml_em_gmm: 2-component Gaussian mixture via EM --------------------

  /** 2-component 1-D GMM on the z-scored order total (milli integers,
    * exact moments — the wave-80 standardization), fit by 6 EM steps:
    * responsibilities r = π₁φ₁/(π₁φ₁+π₂φ₂) nano-rounded per row
    * BEFORE the exact sufficient-statistic sums, the M-step one
    * integer rational per parameter (sign-magnitude means, variance
    * clamped at 0.01 to bar collapse). Init: μ = ∓1σ, σ² = 1, π = ½.
    * Output: mixing weight, both components' mean/sd in σ units, and
    * the soft count of component 1. */
  private val mlEmGmm: Q = (s, dir) => Codegen.materialized(s) {
    val cust = t(s, dir, "orders")
      .select(round(col("o_totalprice")).cast("long").as("m"))
    val mo = cust.agg(count(lit(1)).as("n"), sum("m").as("sm"),
        sum(expr("cast(m as decimal(38,0)) * m")).as("smm"))
      .withColumn("mm", expr("(2 * sm * 1000 + n) div (2 * n)"))
      .withColumn("vm", expr(
        "(2 * (n * smm - cast(sm as decimal(38,0)) * sm) * 1000000 + n * n) div (2 * n * n)"))
      .select(col("mm"),
        round(sqrt(col("vm").cast("double") / 1e6) * 1000).cast("long").as("sd"))
    val zs = cust.crossJoin(broadcast(mo))
      .select(expr(
        "cast(sign(m * 1000 - mm) as long) * ((2 * abs(m * 1000 - mm) * 1000 + sd) div (2 * sd))")
        .as("z"))
      .localCheckpoint()
    // EM state is 5 longs — MODEL-sized driver state (the Ivf.train
    // contract), so each superstep is ONE aggregate-collect job over
    // the checkpointed z table with the parameters inlined as
    // literals. The r06 form broadcast a 1-row state frame and
    // localCheckpoint'd it every round: same arithmetic, 2× the jobs
    // (13 → 8), and the 11.6 s warm bench entry was pure job overhead.
    // The E-step expression is unchanged, so rn (and the output hash)
    // is bit-identical; the M-step's decimal `div` rationals are
    // replayed exactly in BigInt (both truncate toward zero, and every
    // operand here is non-negative after the sign split).
    var p1 = 500000L; var mu1 = -1000L; var v1 = 1000000L
    var mu2 = 1000L; var v2 = 1000000L
    // fixed-shape model-state loop: 6 one-row aggregate-collects over the
    // pinned z table. Data-sized work (the orders scan + z quantization)
    // materialized in the checkpoint above under session AQE; the loop's
    // only exchange carries (#map-partitions x 1 group) partial rows, so
    // the superstep scope at width 1 is the right shape at any scale —
    // same arithmetic, same literals, bit-identical rn.
    def scored = zs
      .withColumn("t1", lit(p1.toDouble / 1e6) *
        exp(-((col("z") - lit(mu1)) * (col("z") - lit(mu1)))
          .cast("double") / lit(2.0 * v1)) / lit(math.sqrt(v1.toDouble)))
      .withColumn("t2", lit((1000000L - p1).toDouble / 1e6) *
        exp(-((col("z") - lit(mu2)) * (col("z") - lit(mu2)))
          .cast("double") / lit(2.0 * v2)) / lit(math.sqrt(v2.toDouble)))
      .withColumn("rn",
        round(col("t1") / (col("t1") + col("t2")) * 1e9).cast("long"))
    for (_ <- 1 to 6) {
      val r = graft.engine.ConfScope.superstep(s) { _ => scored.agg(
        count(lit(1)).as("n"),
        sum("rn").as("s1"),
        sum(expr("cast(rn as decimal(38,0)) * z")).as("z1"),
        sum(expr("cast(rn as decimal(38,0)) * z * z")).as("q1"),
        sum(expr("cast(1000000000 - rn as decimal(38,0)) * z")).as("z2"),
        sum(expr("cast(1000000000 - rn as decimal(38,0)) * z * z")).as("q2"))
        .collect() }(0)
      val n = BigInt(r.getLong(0))
      val s1 = BigInt(r.getLong(1))
      def big(i: Int) = BigInt(r.getDecimal(i).toBigInteger)
      val (z1, q1, z2, q2) = (big(2), big(3), big(4), big(5))
      val s2 = n * 1000000000L - s1
      def mStep(sc: BigInt, zc: BigInt, qc: BigInt, muOld: Long,
          vOld: Long): (Long, Long) = {
        if (sc == 0) (muOld, vOld)
        else {
          val mu = (zc.signum * ((2 * zc.abs + sc) / (2 * sc))).toLong
          val v = math.max(
            ((2 * qc + sc) / (2 * sc)).toLong - mu * mu, 10000L)
          (mu, v)
        }
      }
      p1 = ((2 * s1 + n * 1000) / (2 * n * 1000)).toLong
      val (m1, w1) = mStep(s1, z1, q1, mu1, v1); mu1 = m1; v1 = w1
      val (m2, w2) = mStep(s2, z2, q2, mu2, v2); mu2 = m2; v2 = w2
    }
    scored.agg(count(lit(1)).as("n"), sum("rn").as("soft1"))
      .select(col("n"),
        (lit(p1).cast("double") / 1e6).as("pi1"),
        (lit(mu1).cast("double") / 1000).as("mu1_sigma"),
        round(sqrt(lit(v1).cast("double")) / 1000, 6).as("sd1_sigma"),
        (lit(mu2).cast("double") / 1000).as("mu2_sigma"),
        round(sqrt(lit(v2).cast("double")) / 1000, 6).as("sd2_sigma"),
        round(col("soft1").cast("double") / 1e9, 3).as("soft_count1"))
  }

  private val mlEmGmmOracle: String = {
    def scored(prev: String): String =
      s"""SELECT z, p1, mu1, v1, mu2, v2,
         |  CAST(round(t1 / (t1 + t2) * 1e9) AS BIGINT) AS rn
         |FROM (
         |  SELECT z, p1, mu1, v1, mu2, v2,
         |    (CAST(p1 AS DOUBLE) / 1e6) *
         |      exp(-CAST((z - mu1) * (z - mu1) AS DOUBLE) / (2.0 * v1)) /
         |      sqrt(CAST(v1 AS DOUBLE)) AS t1,
         |    (CAST(1000000 - p1 AS DOUBLE) / 1e6) *
         |      exp(-CAST((z - mu2) * (z - mu2) AS DOUBLE) / (2.0 * v2)) /
         |      sqrt(CAST(v2 AS DOUBLE)) AS t2
         |  FROM zs, $prev)""".stripMargin
    def mu(zc: String, sc: String, old: String): String =
      s"""CASE WHEN $sc = 0 THEN $old ELSE CAST(CAST(sign($zc) AS HUGEINT) *
         |((2 * abs($zc) + $sc) // (2 * $sc)) AS BIGINT) END"""
        .stripMargin.replace("\n", " ")
    def vv(qc: String, sc: String, muE: String, old: String): String =
      s"""CASE WHEN $sc = 0 THEN $old ELSE
         |GREATEST(CAST((2 * $qc + $sc) // (2 * $sc) AS BIGINT)
         |  - ($muE) * ($muE), 10000) END""".stripMargin.replace("\n", " ")
    def step(prev: String, cur: String): String = {
      val mu1e = mu("z1", "s1", "mu1")
      val mu2e = mu("z2", "s2x", "mu2")
      s"""$cur AS MATERIALIZED (
         |  SELECT
         |    CAST((2 * s1 + n * 1000) // (2 * n * 1000) AS BIGINT) AS p1,
         |    $mu1e AS mu1,
         |    ${vv("q1", "s1", mu1e, "v1")} AS v1,
         |    $mu2e AS mu2,
         |    ${vv("q2", "s2x", mu2e, "v2")} AS v2
         |  FROM (
         |    SELECT p1, mu1, v1, mu2, v2, CAST(count(*) AS HUGEINT) AS n,
         |      SUM(rn::HUGEINT) AS s1,
         |      SUM(rn::HUGEINT * z) AS z1, SUM(rn::HUGEINT * z * z) AS q1,
         |      SUM((1000000000 - rn)::HUGEINT * z) AS z2,
         |      SUM((1000000000 - rn)::HUGEINT * z * z) AS q2,
         |      CAST(count(*) AS HUGEINT) * 1000000000 - SUM(rn::HUGEINT) AS s2x
         |    FROM (${scored(prev)})
         |    GROUP BY 1, 2, 3, 4, 5))""".stripMargin
    }
    val steps = (1 to 6).map(i => step(if (i == 1) "g0" else s"g${i - 1}", s"g$i"))
      .mkString(",\n")
    s"""WITH cust AS (
       |  SELECT CAST(round(o_totalprice) AS BIGINT) AS m FROM orders),
       |mo AS (
       |  SELECT (2 * SUM(m)::HUGEINT * 1000 + count(*)) // (2 * count(*)) AS mm,
       |    CAST(round(sqrt(CAST((2 * (count(*) * SUM(m::HUGEINT * m)
       |      - SUM(m)::HUGEINT * SUM(m)) * 1000000 + count(*)::HUGEINT * count(*))
       |      // (2 * count(*)::HUGEINT * count(*)) AS DOUBLE) / 1e6) * 1000)
       |      AS BIGINT) AS sd
       |  FROM cust),
       |zs AS MATERIALIZED (
       |  SELECT CAST(sign(m * 1000 - mm) AS HUGEINT) *
       |    ((2 * abs(m * 1000 - mm) * 1000 + sd) // (2 * sd)) AS z
       |  FROM cust, mo),
       |g0 AS (SELECT CAST(500000 AS BIGINT) AS p1, CAST(-1000 AS BIGINT) AS mu1,
       |  CAST(1000000 AS BIGINT) AS v1, CAST(1000 AS BIGINT) AS mu2,
       |  CAST(1000000 AS BIGINT) AS v2),
       |$steps,
       |fin AS (${scored("g6")})
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(ANY_VALUE(p1) AS DOUBLE) / 1e6 AS pi1,
       |  CAST(ANY_VALUE(mu1) AS DOUBLE) / 1000 AS mu1_sigma,
       |  round(sqrt(CAST(ANY_VALUE(v1) AS DOUBLE)) / 1000, 6) AS sd1_sigma,
       |  CAST(ANY_VALUE(mu2) AS DOUBLE) / 1000 AS mu2_sigma,
       |  round(sqrt(CAST(ANY_VALUE(v2) AS DOUBLE)) / 1000, 6) AS sd2_sigma,
       |  round(CAST(SUM(rn) AS DOUBLE) / 1e9, 3) AS soft_count1
       |FROM fin""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "graph_ktruss" -> graphKtruss,
    "ml_em_gmm" -> mlEmGmm
  )

  val oracles: Map[String, String] = Map(
    "graph_ktruss" -> graphKtrussOracle,
    "ml_em_gmm" -> mlEmGmmOracle
  )
}
