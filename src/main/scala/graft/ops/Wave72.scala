package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 72: explained variance + split coverage — η² (the
  * share of metric variance a categorical factor explains: the
  * one-number answer to "does segmenting by X matter"), and train→val
  * n-gram coverage (what share of validation n-grams the training
  * split supports — the generalization-support read a tokenizer or LM
  * eval needs BEFORE perplexity means anything).
  */
object Wave72 {

  // ---- profile_eta_squared: variance explained by factors -------------

  /** η² of event value for three candidate factors (event type, hour
    * of day, day of week): SS_between/SS_total from ONE exact pass per
    * factor — per-group (n, Σv, Σv²) in DECIMAL, recombined as the
    * exact rational η² = (Σ s_g²/n_g − S²/N) / (Q − S²/N), micro-
    * quantized via a common denominator so the division is one
    * integer rational. The factor ranking IS the segmentation
    * decision. */
  private val profileEtaSquared: Q = (s, dir) => {
    def d38(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val base = Tables.load(s, dir, "events").select(
      col("event_type"),
      expr("pmod(floor(unix_timestamp(ts) / 3600), 24)").cast("long").as("hour"),
      expr("cast(floor(unix_timestamp(ts) / 86400) % 7 as long)").as("dow"),
      expr("cast(round(value * 100) as long)").as("v"))
      .localCheckpoint()
    def etaFor(factor: String): DataFrame = {
      val g = base.groupBy(col(factor).cast("string").as("g"))
        .agg(count(lit(1)).as("n"), sum("v").as("sv"),
          sum(d38(col("v")) * col("v")).as("svv"))
      // eta2 = (N*A - S^2) / (N*Q - S^2) with A = sum sv_g^2/n_g; each
      // group's sv^2/n quantizes to micro half-up (deterministic in both
      // engines), so the final division is one integer rational
      g.agg(sum("n").as("nn"), sum("sv").as("ss"),
          sum("svv").as("qq"),
          sum(expr("(2 * cast(sv as decimal(38,0)) * sv * 1000000 + n) div (2 * n)"))
            .as("a_micro"))
        .select(lit(factor).as("factor"),
          expr("cast((2 * (cast(nn as decimal(38,0)) * a_micro - cast(ss as decimal(38,0)) * ss * 1000000) + " +
            "(cast(nn as decimal(38,0)) * qq * 1000000 - cast(ss as decimal(38,0)) * ss * 1000000)) div " +
            "(2 * (cast(nn as decimal(38,0)) * qq * 1000000 - cast(ss as decimal(38,0)) * ss * 1000000)) as long)")
            .as("eta2_micro"))
    }
    Seq("event_type", "hour", "dow").map(etaFor).reduce(_.union(_))
      .select(col("factor"), (col("eta2_micro").cast("double") / 1e6).as("eta_squared"))
      .orderBy("factor")
  }

  private val profileEtaSquaredOracle = {
    def one(factor: String, expr0: String) =
      s"""SELECT '$factor' AS factor,
         |  CAST((2 * (nn::HUGEINT * a_micro - ss::HUGEINT * ss * 1000000)
         |      + (nn::HUGEINT * qq * 1000000 - ss::HUGEINT * ss * 1000000))
         |    // (2 * (nn::HUGEINT * qq * 1000000 - ss::HUGEINT * ss * 1000000))
         |    AS DOUBLE) / 1e6 AS eta_squared
         |FROM (
         |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(sv) AS BIGINT) AS ss,
         |    SUM(svv) AS qq,
         |    SUM((2 * sv::HUGEINT * sv * 1000000 + n) // (2 * n)) AS a_micro
         |  FROM (
         |    SELECT $expr0 AS g, CAST(count(*) AS BIGINT) AS n,
         |      CAST(SUM(v) AS BIGINT) AS sv, SUM(v::HUGEINT * v) AS svv
         |    FROM ev GROUP BY 1))""".stripMargin
    s"""WITH ev AS MATERIALIZED (
       |  SELECT event_type,
       |    CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) % 24 AS hour,
       |    CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 7 AS dow,
       |    CAST(round(value * 100) AS BIGINT) AS v
       |  FROM events)
       |SELECT * FROM (
       |${one("dow", "CAST(dow AS VARCHAR)")}
       |UNION ALL ${one("event_type", "event_type")}
       |UNION ALL ${one("hour", "CAST(hour AS VARCHAR)")})
       |ORDER BY factor""".stripMargin
  }

  // ---- eval_ngram_coverage: train -> val n-gram support ---------------

  /** Coverage of validation n-grams by the training split, for
    * n = 1, 2, 3 (the content-hash split — shared splitOf): how much
    * of what the model is evaluated on did it ever see. One distinct
    * gram set per (split, n), coverage via a left semi-join on the
    * gram key; micro shares. Falling coverage with n is the expected
    * shape — flat-at-1.0 means the val split leaks training text. */
  private val evalNgramCoverage: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .select(Hashing.splitOf(col("text")).as("split"), LlmPipeline.tokens(col("text")).as("tk"))
      .filter(col("split").isin("train", "val"))
      .localCheckpoint()
    val grams = (1 to 3).map { n =>
      d.filter(size(col("tk")) >= n)
        .select(col("split"), lit(n.toLong).as("n"),
          explode(expr(
            s"transform(sequence(0, size(tk) - $n), i -> concat_ws(' ', slice(tk, i + 1, $n)))"))
            .as("g"))
        .distinct()
    }.reduce(_.union(_))
    val valG = grams.filter(col("split") === "val").select("n", "g")
    val trainG = grams.filter(col("split") === "train").select(col("n"), col("g"))
    val covered = valG.join(trainG, Seq("n", "g"), "left_semi")
      .groupBy("n").agg(count(lit(1)).as("n_covered"))
    val total = valG.groupBy("n").agg(count(lit(1)).as("n_val"))
    total.join(covered, Seq("n"), "left")
      .withColumn("n_covered", coalesce(col("n_covered"), lit(0L)))
      .withColumn("cov_micro",
        expr("(2 * n_covered * 1000000 + n_val) div (2 * n_val)"))
      .select(col("n"), col("n_val"), col("n_covered"),
        (col("cov_micro").cast("double") / 1e6).as("coverage"))
      .orderBy("n")
  }

  private val evalNgramCoverageOracle = {
    val per = (1 to 3).map { n =>
      s"""SELECT split, CAST($n AS BIGINT) AS n, g FROM (
         |  SELECT split, array_to_string(tk[i + 1 : i + $n], ' ') AS g
         |  FROM (SELECT split, tk, unnest(generate_series(0, len(tk) - $n)) AS i
         |        FROM d WHERE len(tk) >= $n))
         |GROUP BY 1, 2, 3""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH d AS MATERIALIZED (
       |  SELECT ${Hashing.duckSplitCase} AS split, ${LlmPipeline.duckTokens} AS tk
       |  FROM documents),
       |d2 AS (SELECT * FROM d WHERE split IN ('train', 'val')),
       |grams AS MATERIALIZED (
       |  SELECT * FROM ($per
       |) q WHERE split IN ('train', 'val')),
       |valg AS (SELECT n, g FROM grams WHERE split = 'val'),
       |traing AS (SELECT n, g FROM grams WHERE split = 'train'),
       |cov AS (
       |  SELECT v.n, CAST(count(*) AS BIGINT) AS n_covered
       |  FROM valg v WHERE EXISTS (
       |    SELECT 1 FROM traing t WHERE t.n = v.n AND t.g = v.g)
       |  GROUP BY 1),
       |tot AS (SELECT n, CAST(count(*) AS BIGINT) AS n_val FROM valg GROUP BY 1)
       |SELECT tot.n, tot.n_val, COALESCE(cov.n_covered, 0) AS n_covered,
       |  CAST((2 * COALESCE(cov.n_covered, 0) * 1000000 + tot.n_val)
       |    // (2 * tot.n_val) AS DOUBLE) / 1e6 AS coverage
       |FROM tot LEFT JOIN cov USING (n) ORDER BY tot.n""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "profile_eta_squared" -> profileEtaSquared,
    "eval_ngram_coverage" -> evalNgramCoverage
  )

  val oracles: Map[String, String] = Map(
    "profile_eta_squared" -> profileEtaSquaredOracle,
    "eval_ngram_coverage" -> evalNgramCoverageOracle
  )
}
