package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 74: interpretable gating + streaming moments — a
  * one-level decision stump (the best single-feature threshold for
  * predicting is-English: the first thing to try BEFORE training a
  * classifier gate, and the ceiling any feature must beat), and the
  * AMS tug-of-war sketch for the second frequency moment (the
  * self-join size / token-skew number, estimated from 64 mergeable
  * counters instead of a vocabulary-sized exact pass).
  */
object Wave74 {

  // ---- ml_decision_stump: best single-feature threshold ----------------

  /** Best threshold split per feature (char-length and token-count
    * buckets, 'the'-stopword hits) for predicting lang = 'en', by Gini
    * impurity. ONE data pass builds the (feature, bucket) class-count
    * cells (buckets are value-ranged, so the cell table is model-
    * sized); cumulative counts come from a bucket-ordered window over
    * that bounded domain (the voptimal precedent), and each candidate
    * split's impurity is the exact rational
    * (A·nR + B·nL) / (nL·nR·N), A = nL² − posL² − negL², micro-
    * quantized half-up so both engines pick identical argmins
    * (ties break on the lower bucket, then feature name). */
  private val mlDecisionStump: Q = (s, dir) => {
    val base = Tables.load(s, dir, "documents").select(
      (col("lang") === "en").cast("long").as("pos"),
      expr("length(text) div 100").as("len_b100"),
      expr("size(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')) div 10")
        .as("tok_b10"),
      expr("size(filter(split(lower(text), '[^a-z0-9]+'), x -> x = 'the'))")
        .as("the_hits"))
    val cells = base.select(col("pos"), explode(array(
        struct(lit("len_b100").as("feature"), col("len_b100").as("b")),
        struct(lit("the_hits").as("feature"), col("the_hits").as("b")),
        struct(lit("tok_b10").as("feature"), col("tok_b10").as("b")))).as("f"))
      .groupBy(col("f.feature").as("feature"), col("f.b").as("b"))
      .agg(count(lit(1)).as("n"), sum("pos").as("p"))
    val tot = base.agg(count(lit(1)).as("nn"), sum("pos").as("pp"))
    val w = Window.partitionBy("feature").orderBy("b")
    val scored = cells
      .select(col("feature"), col("b"),
        sum("n").over(w).as("nl"), sum("p").over(w).as("pl"))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("nn"))
      .withColumn("nr", col("nn") - col("nl"))
      .withColumn("pr", col("pp") - col("pl"))
      .withColumn("g_micro", expr(
        """cast((2 * ((cast(nl as decimal(38,0)) * nl - cast(pl as decimal(38,0)) * pl
          |        - cast(nl - pl as decimal(38,0)) * (nl - pl)) * nr
          |      + (cast(nr as decimal(38,0)) * nr - cast(pr as decimal(38,0)) * pr
          |        - cast(nr - pr as decimal(38,0)) * (nr - pr)) * nl) * 1000000
          |    + cast(nl as decimal(38,0)) * nr * nn)
          |  div (2 * cast(nl as decimal(38,0)) * nr * nn) as long)"""
          .stripMargin.replace("\n", " ")))
      .withColumn("base_micro", expr(
        """cast((2 * (cast(nn as decimal(38,0)) * nn - cast(pp as decimal(38,0)) * pp
          |        - cast(nn - pp as decimal(38,0)) * (nn - pp)) * 1000000
          |    + cast(nn as decimal(38,0)) * nn)
          |  div (2 * cast(nn as decimal(38,0)) * nn) as long)"""
          .stripMargin.replace("\n", " ")))
    val perFeature = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("feature").orderBy("g_micro", "b")))
      .filter(col("rk") === 1)
    perFeature
      .withColumn("wrk", row_number().over(
        Window.orderBy("g_micro", "feature")))
      .select(col("feature"), col("b").as("threshold_bucket"),
        col("nl").as("n_left"), col("pl").as("pos_left"),
        (col("g_micro").cast("double") / 1e6).as("gini_split"),
        (col("base_micro").cast("double") / 1e6).as("gini_base"),
        ((col("base_micro") - col("g_micro")).cast("double") / 1e6).as("gain"),
        (col("wrk") === 1).as("is_best"))
      .orderBy("feature")
  }

  private val mlDecisionStumpOracle =
    """WITH d AS MATERIALIZED (
      |  SELECT CAST(lang = 'en' AS BIGINT) AS pos,
      |    length(text) // 100 AS len_b100,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |        x -> x <> '')) // 10 AS tok_b10,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |        x -> x = 'the')) AS the_hits
      |  FROM documents),
      |feat AS (
      |  SELECT 'len_b100' AS feature, len_b100 AS b, pos FROM d
      |  UNION ALL SELECT 'tok_b10', tok_b10, pos FROM d
      |  UNION ALL SELECT 'the_hits', the_hits, pos FROM d),
      |cells AS (
      |  SELECT feature, b, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(pos) AS BIGINT) AS p
      |  FROM feat GROUP BY 1, 2),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
      |  CAST(SUM(pos) AS BIGINT) AS pp FROM d),
      |cum AS (
      |  SELECT feature, b,
      |    SUM(n) OVER (PARTITION BY feature ORDER BY b) AS nl,
      |    SUM(p) OVER (PARTITION BY feature ORDER BY b) AS pl
      |  FROM cells),
      |sc AS (
      |  SELECT feature, b, nl, pl, nn, pp, nn - nl AS nr, pp - pl AS pr
      |  FROM cum, tot WHERE nl < nn),
      |g AS (
      |  SELECT feature, b, nl, pl, nn, pp,
      |    (2 * ((nl::HUGEINT * nl - pl::HUGEINT * pl
      |            - (nl - pl)::HUGEINT * (nl - pl)) * nr
      |        + (nr::HUGEINT * nr - pr::HUGEINT * pr
      |            - (nr - pr)::HUGEINT * (nr - pr)) * nl) * 1000000
      |      + nl::HUGEINT * nr * nn) // (2 * nl::HUGEINT * nr * nn) AS g_micro,
      |    (2 * (nn::HUGEINT * nn - pp::HUGEINT * pp
      |            - (nn - pp)::HUGEINT * (nn - pp)) * 1000000
      |      + nn::HUGEINT * nn) // (2 * nn::HUGEINT * nn) AS base_micro
      |  FROM sc),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY feature ORDER BY g_micro, b)
      |    AS rk FROM g),
      |w AS (SELECT * FROM best WHERE rk = 1),
      |winner AS (SELECT feature AS wf FROM w ORDER BY g_micro, feature LIMIT 1)
      |SELECT feature, b AS threshold_bucket,
      |  CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
      |  CAST(g_micro AS DOUBLE) / 1e6 AS gini_split,
      |  CAST(base_micro AS DOUBLE) / 1e6 AS gini_base,
      |  CAST(base_micro - g_micro AS DOUBLE) / 1e6 AS gain,
      |  feature = (SELECT wf FROM winner) AS is_best
      |FROM w ORDER BY feature""".stripMargin

  // ---- sketch_ams_f2: tug-of-war second frequency moment ---------------

  /** AMS (Alon–Matias–Szegedy) F2 sketch of the token stream: 64
    * ±1-signed counters (sign = md5 parity of token#estimator — the
    * portable-hash precedent), squared, then median of 8 means of 8.
    * The signed sums ride the ALREADY-AGGREGATED term-frequency table
    * (vocab-sized ×64, never data ×64); at 100 TB the sketch is the
    * point — 64 mergeable integers replace the vocabulary-sized exact
    * pass, and partial sketches merge by plain addition. The exact F2
    * is computed alongside for the honesty column. All integer until
    * the final /16 (exact in IEEE for < 2^53) and the micro-quantized
    * relative error. */
  private val sketchAmsF2: Q = (s, dir) => {
    val tf = Tables.load(s, dir, "documents")
      .select(explode(LlmPipeline.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val exact = tf.agg(sum(expr("cast(tf as decimal(38,0)) * tf")).as("f2x"))
    val sign: Column =
      pmod(Hashing.md5Long(concat(col("tok"), lit("#"),
        col("j").cast("string")).cast("binary")), lit(2)) * 2 - 1
    val sketches = tf.select(col("tok"), col("tf"),
        explode(sequence(lit(0), lit(63))).as("j"))
      .select(col("j"), (col("tf") * sign).as("contrib"))
      .groupBy("j").agg(sum("contrib").as("sk"))
      .select((col("j") % 8).as("grp"),
        expr("cast(sk as decimal(38,0)) * sk").as("est"))
    val groupSums = sketches.groupBy("grp").agg(sum("est").as("gsum"))
    val med = groupSums
      .withColumn("rk", row_number().over(Window.orderBy("gsum", "grp")))
      .filter(col("rk").isin(4, 5))
      .agg(sum("gsum").as("g45"))
    med.crossJoin(broadcast(exact))
      .select(
        col("f2x").cast("long").as("f2_exact"),
        (col("g45").cast("double") / 16.0).as("f2_est"),
        expr("""cast((2 * abs(g45 - 16 * f2x) * 1000000 + 16 * f2x)
          | div (2 * 16 * f2x) as long)""".stripMargin.replace("\n", " "))
          .cast("double").divide(lit(1e6)).as("rel_err"))
  }

  private val sketchAmsF2Oracle =
    """WITH tf AS MATERIALIZED (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM (
      |    SELECT unnest(list_filter(
      |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
      |    FROM documents) GROUP BY 1),
      |exact AS (SELECT SUM(tf::HUGEINT * tf) AS f2x FROM tf),
      |sk AS (
      |  SELECT j, SUM(tf * (CAST(concat('0x',
      |      substr(md5(tok || '#' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT)
      |      % 2 * 2 - 1)) AS sk
      |  FROM tf, (SELECT unnest(generate_series(0, 63)) AS j)
      |  GROUP BY 1),
      |est AS (SELECT j % 8 AS grp, sk::HUGEINT * sk AS est FROM sk),
      |gs AS (SELECT grp, SUM(est) AS gsum FROM est GROUP BY 1),
      |med AS (
      |  SELECT SUM(gsum) AS g45 FROM (
      |    SELECT gsum, row_number() OVER (ORDER BY gsum, grp) AS rk FROM gs)
      |  WHERE rk IN (4, 5))
      |SELECT CAST(f2x AS BIGINT) AS f2_exact,
      |  CAST(g45 AS DOUBLE) / 16.0 AS f2_est,
      |  CAST((2 * abs(g45 - 16 * f2x) * 1000000 + 16 * f2x)
      |    // (2 * 16 * f2x) AS DOUBLE) / 1e6 AS rel_err
      |FROM med, exact""".stripMargin

  val queries: Map[String, Q] = Map(
    "ml_decision_stump" -> mlDecisionStump,
    "sketch_ams_f2" -> sketchAmsF2
  )

  val oracles: Map[String, String] = Map(
    "ml_decision_stump" -> mlDecisionStumpOracle,
    "sketch_ams_f2" -> sketchAmsF2Oracle
  )
}
