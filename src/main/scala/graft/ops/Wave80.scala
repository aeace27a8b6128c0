package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 80: perplexity-tier curation + customer segmentation —
  * CCNet-style head/middle/tail bucketing of the corpus by LM score
  * (the tiered release a CommonCrawl-scale pipeline publishes), and
  * k-means on standardized customer order features (the deterministic
  * integer twin of the classic RFM segmentation).
  */
object Wave80 {

  // ---- corpus_ccnet_buckets: head/middle/tail by LM score --------------

  /** CCNet-style tiering (Wenzek et al. 2020): every document's mean
    * unigram log-prob (the shared Wave5 kernel — already 6-decimal
    * deterministic) cut into GLOBAL terciles (head = most fluent),
    * then per (source, tier): doc count, share of the source (micro
    * rational) and the tier's exact mean score (the 6-decimal lp is an
    * exact integer at 1e6 scale, so the group mean is one integer
    * rational). Rank comes from the Ranks two-phase kernel + the
    * closed-form ntile — no global window. */
  private val corpusCcnetBuckets: Q = (s, dir) => {
    val parts = ConfScope.shufflePartitions(s)
    val lp = Wave5.unigramLp(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("mean_lp"))
    val ranked = Ranks.perGroupRank(lp, Seq.empty,
      Seq(col("mean_lp").desc, col("doc_id").asc), rankCol = "rk",
      nCol = "nn", partitions = parts)
      .withColumn("tier_n", Ranks.ntileExpr(col("rk"), col("nn"), 3))
      .withColumn("tier",
        when(col("tier_n") === 1, "head")
          .when(col("tier_n") === 2, "middle").otherwise("tail"))
    val src = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
    val cells = ranked.join(src, "doc_id")
      .withColumn("lp6", round(col("mean_lp") * 1e6).cast("long"))
      .groupBy("source", "tier")
      .agg(count(lit(1)).as("n_docs"), sum("lp6").as("lp6_sum"))
    val totals = cells.groupBy("source").agg(sum("n_docs").as("n_src"))
    cells.join(broadcast(totals), "source")
      .select(col("source"), col("tier"), col("n_docs"),
        expr("cast((2 * n_docs * 1000000 + n_src) div (2 * n_src) as double)")
          .divide(lit(1e6)).as("share"),
        expr("""cast(cast(sign(lp6_sum) as long) *
            ((2 * abs(lp6_sum) + n_docs) div (2 * n_docs)) as double)"""
          .replaceAll("\\s+", " ")).divide(lit(1e6)).as("mean_lp"))
      .orderBy("source", "tier")
  }

  private val corpusCcnetBucketsOracle =
    s"""WITH ${Wave5.duckLpCte},
       |ranked AS (
       |  SELECT doc_id, mean_lp,
       |    NTILE(3) OVER (ORDER BY mean_lp DESC, doc_id) AS tier_n
       |  FROM lp),
       |cells AS (
       |  SELECT d.source,
       |    CASE r.tier_n WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |      ELSE 'tail' END AS tier,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CAST(round(r.mean_lp * 1e6) AS BIGINT)) AS BIGINT)
       |      AS lp6_sum
       |  FROM ranked r JOIN documents d USING (doc_id)
       |  GROUP BY 1, 2),
       |tt AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_src
       |  FROM cells GROUP BY 1)
       |SELECT source, tier, n_docs,
       |  CAST((2 * n_docs::HUGEINT * 1000000 + n_src) // (2 * n_src) AS DOUBLE)
       |    / 1e6 AS share,
       |  CAST(CAST(sign(lp6_sum) AS HUGEINT) *
       |    ((2 * abs(lp6_sum::HUGEINT) + n_docs) // (2 * n_docs)) AS DOUBLE)
       |    / 1e6 AS mean_lp
       |FROM cells JOIN tt USING (source)
       |ORDER BY source, tier""".stripMargin

  // ---- ml_kmeans_rfm: integer k-means customer segmentation ------------

  /** k-means (k = 4, 5 Lloyd steps) on standardized customer features
    * (order count, total spend): features z-score to milli integers
    * (exact moments, IEEE sqrt on a quantized variance), centroids
    * start at the n/8, 3n/8, 5n/8, 7n/8 spend order statistics (a
    * deterministic quantile seeding), every assignment is an exact
    * integer argmin of squared distance (ties to the lower cluster),
    * and each centroid update is a sign-magnitude milli mean. Output:
    * per-cluster size, standardized centroid, raw-feature means, and
    * the exact within-cluster inertia. */
  private val mlKmeansRfm: Q = (s, dir) => {
    val parts = ConfScope.shufflePartitions(s)
    val cust = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("f"),
        sum(round(col("o_totalprice")).cast("long")).as("m"))
      .localCheckpoint()
    val moments = cust.agg(count(lit(1)).as("n"),
        sum("f").as("sf"), sum(expr("cast(f as decimal(38,0)) * f")).as("sff"),
        sum("m").as("sm"), sum(expr("cast(m as decimal(38,0)) * m")).as("smm"))
      .withColumn("mf", expr("(2 * sf * 1000 + n) div (2 * n)"))
      .withColumn("mm", expr("(2 * sm * 1000 + n) div (2 * n)"))
      .withColumn("vf", expr(
        "(2 * (n * sff - cast(sf as decimal(38,0)) * sf) * 1000000 + n * n) div (2 * n * n)"))
      .withColumn("vm", expr(
        "(2 * (n * smm - cast(sm as decimal(38,0)) * sm) * 1000000 + n * n) div (2 * n * n)"))
      .select(col("mf"), col("mm"),
        round(sqrt(col("vf").cast("double") / 1e6) * 1000).cast("long").as("sdf"),
        round(sqrt(col("vm").cast("double") / 1e6) * 1000).cast("long").as("sdm"))
    def z(xMilli: String, mean: String, sd: String): String =
      s"cast(sign($xMilli - $mean) as long) * ((2 * abs($xMilli - $mean) * 1000 + $sd) div (2 * $sd))"
    val zs = cust.crossJoin(broadcast(moments))
      .select(col("ck"),
        expr(z("f * 1000", "mf", "sdf")).as("z1"),
        expr(z("m * 1000", "mm", "sdm")).as("z2"),
        col("m"), col("f"))
      .localCheckpoint()
    val ranked = Ranks.perGroupRank(zs.select("ck", "z1", "z2"), Seq.empty,
      Seq(col("z2").asc, col("ck").asc), rankCol = "rk", nCol = "nn",
      partitions = parts)
    // The centroid set is 4×2 longs — MODEL-sized driver state (the
    // Ivf.train / r07 ml_em_gmm contract): each Lloyd step is ONE
    // narrow argmin-assignment + 4-group aggregate-collect job. The
    // r06 form broadcast a centroid frame and picked the assignment
    // with a per-customer row_number WINDOW — a customer-keyed shuffle
    // of zs×4 rows EVERY iteration, plus a checkpoint job; identical
    // integer arithmetic, 6 shuffles fewer. Ties still break (d2, cl)
    // via lexicographic struct min.
    // fixed-shape model-state loop (seed pick + 5 Lloyd steps): every
    // collect is <= 4 rows and every exchange carries (#map-partitions x
    // #clusters) partial rows — the superstep scope at 1 reducer is the
    // right width at any scale. The data-sized passes (cust aggregate, z
    // quantization, the kernel's range shuffle) all materialized above
    // under session AQE; arithmetic and tie-breaks are unchanged.
    var centArr: Array[(Long, Long, Long)] = ConfScope.superstep(s) { _ => ranked
      .filter(col("rk") === expr("nn div 8 + 1") ||
        col("rk") === expr("3 * nn div 8 + 1") ||
        col("rk") === expr("5 * nn div 8 + 1") ||
        col("rk") === expr("7 * nn div 8 + 1"))
      .withColumn("cl", expr("8 * (rk - 1) div nn div 2"))
      .select(col("cl"), col("z1").as("c1"), col("z2").as("c2"))
      .collect() }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    def bestStruct = array_min(array(centArr.map { case (cl, c1, c2) =>
      struct(((col("z1") - lit(c1)) * (col("z1") - lit(c1)) +
        (col("z2") - lit(c2)) * (col("z2") - lit(c2))).as("d2"),
        lit(cl).as("cl"))
    }: _*))
    for (_ <- 1 to 5) {
      val r = ConfScope.superstep(s) { _ => zs.withColumn("cl", bestStruct.getField("cl"))
        .groupBy("cl")
        .agg(sum("z1").as("s1"), sum("z2").as("s2"), count(lit(1)).as("nc"))
        .collect() }
      centArr = r.map { row =>
        val cl = row.getLong(0)
        val s1 = BigInt(row.getLong(1)); val s2 = BigInt(row.getLong(2))
        val nc = BigInt(row.getLong(3))
        def m(sv: BigInt) = (sv.signum * ((2 * sv.abs + nc) / (2 * nc))).toLong
        (cl, m(s1), m(s2))
      }.sortBy(_._1)
    }
    def lut(f: ((Long, Long)) => Long) = centArr.tail
      .foldLeft(when(col("cl") === centArr.head._1,
        f((centArr.head._2, centArr.head._3)))) { case (acc, (cl, c1, c2)) =>
        acc.when(col("cl") === cl, f((c1, c2))) }
    zs.withColumn("b", bestStruct)
      .select(col("b.cl").as("cl"), col("b.d2").as("d2"),
        col("f"), col("m"))
      .groupBy("cl")
      .agg(count(lit(1)).as("n_customers"),
        sum("f").as("sf"), sum("m").as("sm"),
        sum(expr("cast(d2 as decimal(38,0))")).as("inertia"))
      .select(col("cl").as("cluster"), col("n_customers"),
        (lut(_._1).cast("double") / 1000).as("centroid_z_freq"),
        (lut(_._2).cast("double") / 1000).as("centroid_z_spend"),
        expr("cast((2 * sf * 1000000 + n_customers) div (2 * n_customers) as double)")
          .divide(lit(1e6)).as("avg_orders"),
        expr("cast((2 * sm * 1000000 + n_customers) div (2 * n_customers) as double)")
          .divide(lit(1e6)).as("avg_spend"),
        col("inertia").cast("double").as("inertia"))
      .orderBy("cluster")
  }

  private val mlKmeansRfmOracle: String = {
    def z(xMilli: String, mean: String, sd: String): String =
      s"CAST(sign($xMilli - $mean) AS HUGEINT) * ((2 * abs($xMilli - $mean) * 1000 + $sd) // (2 * $sd))"
    def smMean(sv: String, nc: String): String =
      s"CAST(sign($sv) AS HUGEINT) * ((2 * abs($sv) + $nc) // (2 * $nc))"
    def assignStep(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT cl, ${smMean("SUM(z1)", "count(*)")} AS c1,
         |    ${smMean("SUM(z2)", "count(*)")} AS c2
         |  FROM (
         |    SELECT z.ck, z.z1, z.z2, c.cl,
         |      row_number() OVER (PARTITION BY z.ck ORDER BY
         |        (z.z1 - c.c1) * (z.z1 - c.c1) + (z.z2 - c.c2) * (z.z2 - c.c2),
         |        c.cl) AS best
         |    FROM zs z, $prev c)
         |  WHERE best = 1 GROUP BY cl)""".stripMargin
    val steps = (1 to 5).map(i =>
      assignStep(if (i == 1) "c0" else s"c${i - 1}", s"c$i")).mkString(",\n")
    s"""WITH cust AS MATERIALIZED (
       |  SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS f,
       |    CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS m
       |  FROM orders GROUP BY 1),
       |mo AS (
       |  SELECT
       |    (2 * SUM(f)::HUGEINT * 1000 + count(*)) // (2 * count(*)) AS mf,
       |    (2 * SUM(m)::HUGEINT * 1000 + count(*)) // (2 * count(*)) AS mm,
       |    CAST(round(sqrt(CAST((2 * (count(*) * SUM(f::HUGEINT * f)
       |      - SUM(f)::HUGEINT * SUM(f)) * 1000000 + count(*)::HUGEINT * count(*))
       |      // (2 * count(*)::HUGEINT * count(*)) AS DOUBLE) / 1e6) * 1000)
       |      AS BIGINT) AS sdf,
       |    CAST(round(sqrt(CAST((2 * (count(*) * SUM(m::HUGEINT * m)
       |      - SUM(m)::HUGEINT * SUM(m)) * 1000000 + count(*)::HUGEINT * count(*))
       |      // (2 * count(*)::HUGEINT * count(*)) AS DOUBLE) / 1e6) * 1000)
       |      AS BIGINT) AS sdm
       |  FROM cust),
       |zs AS MATERIALIZED (
       |  SELECT ck, ${z("f * 1000", "mf", "sdf")} AS z1,
       |    ${z("m * 1000", "mm", "sdm")} AS z2, m, f
       |  FROM cust, mo),
       |ranked AS (
       |  SELECT ck, z1, z2,
       |    row_number() OVER (ORDER BY z2, ck) AS rk,
       |    count(*) OVER () AS nn
       |  FROM zs),
       |c0 AS (
       |  SELECT 8 * (rk - 1) // nn // 2 AS cl, z1 AS c1, z2 AS c2
       |  FROM ranked
       |  WHERE rk = nn // 8 + 1 OR rk = 3 * nn // 8 + 1
       |     OR rk = 5 * nn // 8 + 1 OR rk = 7 * nn // 8 + 1),
       |$steps,
       |fin AS (
       |  SELECT z.ck, z.z1, z.z2, z.f, z.m, c.cl,
       |    (z.z1 - c.c1) * (z.z1 - c.c1) + (z.z2 - c.c2) * (z.z2 - c.c2) AS d2,
       |    row_number() OVER (PARTITION BY z.ck ORDER BY
       |      (z.z1 - c.c1) * (z.z1 - c.c1) + (z.z2 - c.c2) * (z.z2 - c.c2),
       |      c.cl) AS best
       |  FROM zs z, c5 c)
       |SELECT cl AS cluster, CAST(count(*) AS BIGINT) AS n_customers,
       |  CAST(ANY_VALUE(cc.c1) AS DOUBLE) / 1000 AS centroid_z_freq,
       |  CAST(ANY_VALUE(cc.c2) AS DOUBLE) / 1000 AS centroid_z_spend,
       |  CAST((2 * SUM(f)::HUGEINT * 1000000 + count(*)) // (2 * count(*))
       |    AS DOUBLE) / 1e6 AS avg_orders,
       |  CAST((2 * SUM(m)::HUGEINT * 1000000 + count(*)) // (2 * count(*))
       |    AS DOUBLE) / 1e6 AS avg_spend,
       |  CAST(SUM(d2) AS DOUBLE) AS inertia
       |FROM fin JOIN c5 cc USING (cl)
       |WHERE best = 1
       |GROUP BY cl ORDER BY cl""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "corpus_ccnet_buckets" -> corpusCcnetBuckets,
    "ml_kmeans_rfm" -> mlKmeansRfm
  )

  val oracles: Map[String, String] = Map(
    "corpus_ccnet_buckets" -> corpusCcnetBucketsOracle,
    "ml_kmeans_rfm" -> mlKmeansRfmOracle
  )
}
