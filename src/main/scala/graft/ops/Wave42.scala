package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 42: training-data curation reads — embedding drift
  * between cohorts (L2 distance of mean vectors = linear-kernel MMD),
  * weight-of-evidence feature scoring (the credit-scoring staple for
  * "how predictive is this categorical of the target"), and
  * Kneser–Ney-smoothed bigram probabilities (the classical LM quality
  * signal that beats raw counts for rarity scoring).
  */
object Wave42 {

  // ---- profile_mmd: mean-embedding drift between label cohorts -------

  /** Linear-kernel MMD between every label pair: ||mean_a − mean_b||₂
    * over the embedding column. The only data-sized pass is one
    * (label, dim) aggregate over the exploded vectors; the pair join
    * runs on #labels × #dims cells (model-sized). Floats floor to
    * nano-unit longs before summing, so the distributed sum is exact
    * and engine-identical; per-dim squared diffs round to
    * DECIMAL(28,12) before the final exact sum. The "did this week's
    * crawl shift the embedding space" read. */
  private val profileMmd: Q = (s, dir) => {
    val cells = Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * 1e9).cast("long").as("xn"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("xn").as("sx"))
    val a = cells.select(col("label").as("label_a"), col("dim"),
      col("n").as("na"), col("sx").as("sa"))
    val b = cells.select(col("label").as("label_b"), col("dim").as("dim_b"),
      col("n").as("nb"), col("sx").as("sb"))
    a.join(b, col("dim") === col("dim_b") && col("label_a") < col("label_b"))
      .withColumn("d",
        (col("sa").cast("double") / col("na") -
          col("sb").cast("double") / col("nb")) / 1e9)
      .withColumn("c", round(col("d") * col("d"), 12).cast(DecimalType(28, 12)))
      .groupBy("label_a", "label_b")
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        round(sqrt(sum("c").cast("double")), 6).as("mean_l2"))
      .orderBy("label_a", "label_b")
  }

  private val profileMmdOracle =
    """WITH e AS (
      |  SELECT label, u.dim AS dim,
      |    CAST(FLOOR(CAST(u.x AS DOUBLE) * 1e9) AS BIGINT) AS xn
      |  FROM embeddings,
      |    unnest(list_transform(range(len(embedding)),
      |      i -> {'dim': i, 'x': embedding[i+1]})) AS t(u)),
      |cells AS (
      |  SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(xn) AS BIGINT) AS sx
      |  FROM e GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.label AS label_a, b.label AS label_b, a.n AS na, b.n AS nb,
      |    (CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n) / 1e9 AS d
      |  FROM cells a JOIN cells b ON a.dim = b.dim AND a.label < b.label)
      |SELECT label_a, label_b, MAX(na) AS n_a, MAX(nb) AS n_b,
      |  round(sqrt(CAST(SUM(CAST(round(d * d, 12) AS DECIMAL(28,12))) AS DOUBLE)), 6)
      |    AS mean_l2
      |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- feat_woe: weight-of-evidence of source for "doc is English" ---

  /** Weight of evidence of the `source` categorical against the binary
    * target lang = 'en', with +0.5 Laplace smoothing so empty cells
    * stay finite: woe = ln(goodshare / badshare), iv_term =
    * (goodshare − badshare)·woe (always ≥ 0; Σ iv_term is the
    * information value). One source-keyed aggregate + a broadcast of
    * three global scalars — the standard "is this column worth
    * encoding" read before feature work. */
  private val featWoe: Q = (s, dir) => {
    val cells = Tables.load(s, dir, "documents")
      .select(col("source"),
        when(col("lang") === "en", 1L).otherwise(0L).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("g").as("good"))
      .withColumn("bad", col("n") - col("good"))
    val tot = cells.agg(sum("good").as("gt"), sum("bad").as("bt"),
      count(lit(1)).cast("double").as("k"))
    cells.crossJoin(broadcast(tot))
      .withColumn("gs",
        (col("good").cast("double") + 0.5) / (col("gt").cast("double") + col("k") * 0.5))
      .withColumn("bs",
        (col("bad").cast("double") + 0.5) / (col("bt").cast("double") + col("k") * 0.5))
      .withColumn("w", log(col("gs") / col("bs")))
      .select(col("source"), col("n"), col("good"), col("bad"),
        round(col("w"), 6).as("woe"),
        round((col("gs") - col("bs")) * col("w"), 9).as("iv_term"))
      .orderBy("source")
  }

  private val featWoeOracle =
    """WITH cells AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS good
      |  FROM documents GROUP BY 1),
      |c2 AS (SELECT *, n - good AS bad FROM cells),
      |tot AS (
      |  SELECT CAST(SUM(good) AS BIGINT) AS gt, CAST(SUM(bad) AS BIGINT) AS bt,
      |    CAST(count(*) AS DOUBLE) AS k
      |  FROM c2),
      |sc AS (
      |  SELECT source, n, good, bad,
      |    (CAST(good AS DOUBLE) + 0.5) / (CAST(gt AS DOUBLE) + 0.5 * k) AS gs,
      |    (CAST(bad AS DOUBLE) + 0.5) / (CAST(bt AS DOUBLE) + 0.5 * k) AS bs
      |  FROM c2, tot)
      |SELECT source, n, good, bad,
      |  round(ln(gs / bs), 6) AS woe,
      |  round((gs - bs) * ln(gs / bs), 9) AS iv_term
      |FROM sc ORDER BY source""".stripMargin

  // ---- text_kneser_ney: interpolated KN bigram probabilities ---------

  /** Interpolated Kneser–Ney bigram model with absolute discount
    * D = 0.75: P(w2|w1) = max(c₁₂−D, 0)/c₁ + (D·N₁₊(w1·)/c₁) ·
    * N₁₊(·w2)/T, where T = total bigram types. All four statistics are
    * vocabulary-sized aggregates of the one bigram-pair extraction
    * (sliding window over the token array — one explode, no
    * self-join); the left/right joins key on single words, T
    * broadcasts. Reports the 20 most frequent bigrams with their
    * smoothed probability. */
  private val textKneserNey: Q = (s, dir) => {
    // the bigram count table feeds FOUR readers (left/right marginals,
    // the grand total and the final join) and two other LM queries —
    // it comes from the shared materialized TextKernels pass
    val big = TextKernels.bigramCounts(s, dir)
    val left = big.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1fw"))
    val right = big.groupBy("w2").agg(count(lit(1)).as("n1bw"))
    val tt = big.agg(count(lit(1)).as("tt"))
    big.join(left, "w1").join(right, "w2").crossJoin(broadcast(tt))
      .withColumn("p_kn",
        greatest(col("c12").cast("double") - 0.75, lit(0.0)) / col("c1") +
          (lit(0.75) * col("n1fw") / col("c1")) *
            (col("n1bw").cast("double") / col("tt")))
      .select(col("w1"), col("w2"), col("c12"), round(col("p_kn"), 6).as("p_kn"))
      .orderBy(desc("c12"), col("w1"), col("w2"))
      .limit(20)
  }

  private val textKneserNeyOracle =
    s"""WITH d AS (SELECT ${LlmPipeline.duckTokens} AS toks FROM documents),
       |pairs AS (
       |  SELECT u.w1 AS w1, u.w2 AS w2 FROM d,
       |    unnest(list_transform(range(greatest(len(toks) - 1, 0)),
       |      i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS t(u)
       |  WHERE len(toks) >= 2),
       |big AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM pairs GROUP BY 1, 2),
       |lft AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n1fw
       |  FROM big GROUP BY 1),
       |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM big GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM big)
       |SELECT b.w1, b.w2, b.c12,
       |  round(greatest(CAST(b.c12 AS DOUBLE) - 0.75, 0.0) / c1 +
       |    (0.75 * n1fw / c1) * (CAST(n1bw AS DOUBLE) / tt), 6) AS p_kn
       |FROM big b JOIN lft USING (w1) JOIN rgt USING (w2), tot
       |ORDER BY b.c12 DESC, b.w1, b.w2 LIMIT 20""".stripMargin

  val queries: Map[String, Q] = Map(
    "profile_mmd" -> profileMmd,
    "feat_woe" -> featWoe,
    "text_kneser_ney" -> textKneserNey
  )

  val oracles: Map[String, String] = Map(
    "profile_mmd" -> profileMmdOracle,
    "feat_woe" -> featWoeOracle,
    "text_kneser_ney" -> textKneserNeyOracle
  )
}
