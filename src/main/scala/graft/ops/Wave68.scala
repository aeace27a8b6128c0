package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 68: cross-source contamination + peak detection — the
  * source×source 5-gram overlap matrix (which feeds shared boilerplate
  * or syndicated content into each other — the dedup-policy input at
  * the SOURCE grain), and calendar peak detection with prominence (the
  * monitoring read behind "what day spiked and how hard").
  */
object Wave68 {

  // ---- corpus_overlap_matrix: source-pair 5-gram overlap --------------

  /** Source×source 5-gram overlap: each source's DISTINCT word 5-gram
    * set, pair intersections via the gram equi-join (a gram joins only
    * the sources containing it — never a source×source×grams product),
    * sizes by inclusion–exclusion with broadcast per-source counts.
    * Reports Jaccard and BOTH containments (A∩B/|A| and /|B| —
    * containment is what detects a small source copied wholesale into
    * a large one, which Jaccard hides); micro rationals, top-20 pairs
    * by Jaccard. */
  private val corpusOverlapMatrix: Q = (s, dir) => {
    val grams = Tables.load(s, dir, "documents")
      .select(col("source"), LlmPipeline.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(col("source"),
        explode(expr(
          "transform(sequence(0, size(tk) - 5), i -> concat_ws(' ', slice(tk, i + 1, 5)))"))
          .as("g"))
      .distinct()
      .localCheckpoint()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = grams.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))), "s2")
      .withColumn("u", col("n1") + col("n2") - col("i"))
      .withColumn("jac_micro", expr("(2 * i * 1000000 + u) div (2 * u)"))
      .withColumn("cont1_micro", expr("(2 * i * 1000000 + n1) div (2 * n1)"))
      .withColumn("cont2_micro", expr("(2 * i * 1000000 + n2) div (2 * n2)"))
      .select(col("s1"), col("s2"), col("i").as("shared"),
        col("n1"), col("n2"),
        (col("jac_micro").cast("double") / 1e6).as("jaccard"),
        (col("cont1_micro").cast("double") / 1e6).as("containment_1"),
        (col("cont2_micro").cast("double") / 1e6).as("containment_2"))
      .orderBy(desc("jac_micro"), col("s1"), col("s2"))
      .limit(20)
  }

  private val corpusOverlapMatrixOracle =
    s"""WITH d AS (SELECT source, ${LlmPipeline.duckTokens} AS tk FROM documents),
       |grams AS MATERIALIZED (
       |  SELECT DISTINCT source, g FROM (
       |    SELECT source, array_to_string(tk[i + 1 : i + 5], ' ') AS g
       |    FROM (SELECT source, tk, unnest(generate_series(0, len(tk) - 5)) AS i
       |          FROM d WHERE len(tk) >= 5))),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY 1),
       |inter AS (
       |  SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS i
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT s1, s2, i, z1.n AS n1, z2.n AS n2, z1.n + z2.n - i AS u
       |  FROM inter JOIN sz z1 ON z1.source = s1 JOIN sz z2 ON z2.source = s2)
       |SELECT s1, s2, i AS shared, n1, n2,
       |  CAST((2 * i * 1000000 + u) // (2 * u) AS DOUBLE) / 1e6 AS jaccard,
       |  CAST((2 * i * 1000000 + n1) // (2 * n1) AS DOUBLE) / 1e6 AS containment_1,
       |  CAST((2 * i * 1000000 + n2) // (2 * n2) AS DOUBLE) / 1e6 AS containment_2
       |FROM j
       |ORDER BY (2 * i * 1000000 + u) // (2 * u) DESC, s1, s2
       |LIMIT 20""".stripMargin

  // ---- events_peak_detection: calendar peaks with prominence ----------

  /** Top-10 daily peaks of total event value: a peak day strictly
    * exceeds both calendar neighbors (gap days count as 0 via the
    * explicit spine), its prominence is v − max(neighbors), and only
    * days above 1.5× the global daily median qualify (the threshold
    * that separates signal from weekday texture). Neighbors come from
    * TWO self-equi-joins on the calendar spine (day ± 1) — no window;
    * the median is one scalar percentile broadcast. All cent-integer
    * arithmetic. */
  private val eventsPeakDetection: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .groupBy(expr("floor(unix_timestamp(ts) / 86400)").cast("long").as("day"))
      .agg(sum(expr("cast(round(value * 100) as long)")).as("v"))
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val cal = bounds.select(explode(expr("sequence(d0, d1)")).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("v"), lit(0L)).as("v"))
      .localCheckpoint()
    val med = cal.agg(
      expr("cast(percentile(v, 0.5) * 2 as long)").as("med2"))
    cal.as("c")
      .join(cal.select((col("day") + 1).as("day"), col("v").as("vl")), Seq("day"), "left")
      .join(cal.select((col("day") - 1).as("day"), col("v").as("vr")), Seq("day"), "left")
      .withColumn("vl", coalesce(col("vl"), lit(0L)))
      .withColumn("vr", coalesce(col("vr"), lit(0L)))
      .crossJoin(broadcast(med))
      .filter(col("v") > col("vl") && col("v") > col("vr") &&
        col("v") * 4 > col("med2") * 3) // v > 1.5 * median, in integers
      .withColumn("prominence", col("v") - greatest(col("vl"), col("vr")))
      .select(col("day"), (col("v").cast("double") / 100).as("value"),
        (col("prominence").cast("double") / 100).as("prominence"))
      .orderBy(desc("prominence"), col("day"))
      .limit(10)
  }

  private val eventsPeakDetectionOracle =
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1),
      |bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
      |cal AS MATERIALIZED (
      |  SELECT s.day, COALESCE(daily.v, 0) AS v
      |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds) s
      |  LEFT JOIN daily ON daily.day = s.day),
      |med AS (SELECT CAST(quantile_cont(v, 0.5) * 2 AS BIGINT) AS med2 FROM cal),
      |p AS (
      |  SELECT c.day, c.v,
      |    COALESCE(l.v, 0) AS vl, COALESCE(r.v, 0) AS vr
      |  FROM cal c
      |  LEFT JOIN cal l ON l.day = c.day - 1
      |  LEFT JOIN cal r ON r.day = c.day + 1)
      |SELECT day, CAST(v AS DOUBLE) / 100 AS value,
      |  CAST(v - greatest(vl, vr) AS DOUBLE) / 100 AS prominence
      |FROM p, med
      |WHERE v > vl AND v > vr AND v * 4 > med2 * 3
      |ORDER BY v - greatest(vl, vr) DESC, day
      |LIMIT 10""".stripMargin

  val queries: Map[String, Q] = Map(
    "corpus_overlap_matrix" -> corpusOverlapMatrix,
    "events_peak_detection" -> eventsPeakDetection
  )

  val oracles: Map[String, String] = Map(
    "corpus_overlap_matrix" -> corpusOverlapMatrixOracle,
    "events_peak_detection" -> eventsPeakDetectionOracle
  )
}
