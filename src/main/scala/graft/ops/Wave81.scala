package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 81: multiresolution structure + private release —
  * the Haar wavelet energy spectrum of the daily activity series
  * (which time scale carries the variance: day-to-day jitter vs
  * week-scale swings), and an ε-differentially-private count release
  * via the discrete Laplace (two-sided geometric) mechanism with
  * md5-seeded pseudo-noise, so the release is reproducible and
  * engine-portable while exercising the real DP arithmetic.
  */
object Wave81 {

  // ---- timeseries_haar: wavelet energy by scale -------------------------

  /** Haar decomposition of the 30-day daily value series per type
    * (zero-padded to 32): five halving supersteps, each computing
    * pairwise approximations (a+b)/2 and details (a−b)/2 in
    * sign-magnitude half-up milli-cents; the per-level detail energy
    * Σd² says which scale (1 = adjacent days ... 5 = half-series
    * swings) carries the variance. All state is model-sized
    * (types × ≤32 coefficients). */
  private val timeseriesHaar: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("cast(floor(unix_timestamp(ts) / 86400) as long)").as("day"),
        expr("cast(round(value * 100) as long)").as("c"))
      .groupBy("event_type", "day").agg(sum("c").as("yc"))
    val minDay = daily.groupBy("event_type").agg(min("day").as("d0"))
    var approx = daily.join(broadcast(minDay), "event_type")
      .select(col("event_type"), (col("day") - col("d0")).as("idx"),
        (col("yc") * 1000).as("a"))
      .localCheckpoint()
    val sm = "cast(sign(%s) as long) * ((2 * abs(%s) + 2) div 4)"
    var levels = Seq.empty[DataFrame]
    for (lvl <- 1 to 5) {
      // absent odd-position partners act as implicit zero padding: the
      // when/otherwise sums only see present rows, so a lone x0 pairs
      // with x1 = 0 — identical semantics in the DuckDB twin
      val paired = approx
        .groupBy(col("event_type"), expr("idx div 2").as("k"))
        .agg(sum(when(pmod(col("idx"), lit(2)) === 0, col("a")).otherwise(0L))
          .as("x0"),
          sum(when(pmod(col("idx"), lit(2)) === 1, col("a")).otherwise(0L))
            .as("x1"))
        .withColumnRenamed("k", "idx")
      val coefs = paired.select(col("event_type"), col("idx"),
        expr(sm.format("(x0 + x1)", "(x0 + x1)")).as("a"),
        expr(sm.format("(x0 - x1)", "(x0 - x1)")).as("d"))
        .localCheckpoint()
      levels = levels :+ coefs
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_coefs"),
          sum(expr("cast(d as decimal(38,0)) * d")).as("energy"))
        .select(col("event_type"), lit(lvl.toLong).as("level"),
          col("n_coefs"), col("energy"))
      approx = coefs.select("event_type", "idx", "a")
    }
    levels.reduce(_.unionByName(_))
      .select(col("event_type"), col("level"), col("n_coefs"),
        (col("energy").cast("double") / 1e6).as("detail_energy"))
      .orderBy("event_type", "level")
  }

  private val timeseriesHaarOracle: String = {
    def sm(c: String): String =
      s"CAST(sign($c) AS HUGEINT) * ((2 * abs($c) + 2) // 4)"
    def level(prev: String, lvl: Int): String =
      s"""p$lvl AS (
         |  SELECT event_type, idx // 2 AS idx,
         |    SUM(CASE WHEN idx % 2 = 0 THEN a ELSE 0 END) AS x0,
         |    SUM(CASE WHEN idx % 2 = 1 THEN a ELSE 0 END) AS x1
         |  FROM $prev GROUP BY 1, 2),
         |c$lvl AS (
         |  SELECT event_type, idx, ${sm("(x0 + x1)")} AS a,
         |    ${sm("(x0 - x1)")} AS d
         |  FROM p$lvl),
         |e$lvl AS (
         |  SELECT event_type, CAST($lvl AS BIGINT) AS level,
         |    CAST(count(*) AS BIGINT) AS n_coefs,
         |    SUM(d::HUGEINT * d) AS energy
         |  FROM c$lvl GROUP BY 1)""".stripMargin
    val lvls = (1 to 5).map(l => level(if (l == 1) "a0" else s"c${l - 1}", l))
      .mkString(",\n")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
       |    SUM(CAST(round(value * 100) AS BIGINT)) AS yc
       |  FROM events GROUP BY 1, 2),
       |a0 AS (
       |  SELECT event_type, day - MIN(day) OVER (PARTITION BY event_type)
       |    AS idx, yc * 1000 AS a
       |  FROM daily),
       |$lvls
       |SELECT event_type, level, n_coefs,
       |  CAST(energy AS DOUBLE) / 1e6 AS detail_energy
       |FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2
       |  UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
       |  UNION ALL SELECT * FROM e5)
       |ORDER BY event_type, level""".stripMargin
  }

  // ---- privacy_dp_counts: discrete-Laplace count release ----------------

  /** ε = 1 differentially-private per-type event counts via the
    * discrete Laplace mechanism: noise = G1 − G2 with
    * G = floor(−ln(u)), u = (md5_60bit + 1)/2^60 — the md5-seeded
    * pseudo-draw makes the release reproducible (and differentially
    * verifiable) while the arithmetic is exactly the two-sided
    * geometric sampler a production DP release runs. Reports the true
    * count (this is a mechanism demo, not a privacy boundary), the
    * drawn noise and the released count. */
  private val privacyDpCounts: Q = (s, dir) => {
    def g(tag: String): org.apache.spark.sql.Column =
      floor(-log((Hashing.md5Long(
        concat(lit(s"dp#$tag#"), col("event_type")).cast("binary")) + 1)
        .cast("double") / lit(1152921504606846976.0))).cast("long")
    Tables.load(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("true_n"))
      .withColumn("noise", g("a") - g("b"))
      .select(col("event_type"), lit(1.0).as("eps"), col("true_n"),
        col("noise"), (col("true_n") + col("noise")).as("released_n"))
      .orderBy("event_type")
  }

  private val privacyDpCountsOracle = {
    def g(tag: String): String =
      s"""FLOOR(-ln((CAST(concat('0x', substr(md5('dp#$tag#' || event_type), 1, 15))
         | AS BIGINT) + 1) / 1152921504606846976.0))""".stripMargin
        .replace("\n", "")
    s"""WITH c AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
       |  FROM events GROUP BY 1),
       |n AS (
       |  SELECT event_type, true_n,
       |    CAST(${g("a")} - ${g("b")} AS BIGINT) AS noise
       |  FROM c)
       |SELECT event_type, CAST(1.0 AS DOUBLE) AS eps, true_n, noise,
       |  true_n + noise AS released_n
       |FROM n ORDER BY event_type""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "timeseries_haar" -> timeseriesHaar,
    "privacy_dp_counts" -> privacyDpCounts
  )

  val oracles: Map[String, String] = Map(
    "timeseries_haar" -> timeseriesHaarOracle,
    "privacy_dp_counts" -> privacyDpCountsOracle
  )
}
