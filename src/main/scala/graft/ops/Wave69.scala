package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 69: habituation + split hygiene — the exposure-response
  * curve (does the nth exposure still move the metric — the fatigue
  * read behind frequency capping), and train/val split drift (PSI of
  * the length distribution across the content-hash split: a sound
  * split is exchangeable, so any drift means the split leaked
  * structure).
  */
object Wave69 {

  // ---- events_exposure_curve: value by nth exposure -------------------

  /** Mean event value by exposure index (a user's 1st, 2nd, ... 10th+
    * occurrence of each type): the habituation curve. The per-(user,
    * type) rank runs in a user-scoped window — bounded groups, no skew
    * cliff — and the report is one aggregation over (type, capped
    * index): n, exact micro mean, and the micro ratio to the type's
    * first-exposure mean (broadcast join back), which is the fatigue
    * multiplier a frequency cap reads. */
  private val eventsExposureCurve: Q = (s, dir) => {
    val w = Window.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"),
        expr("cast(round(value * 100) as long)").as("cents"))
      .withColumn("exposure", least(row_number().over(w).cast("long"), lit(10L)))
    val curve = ev.groupBy("event_type", "exposure")
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
      .withColumn("mean_micro", expr("(2 * sc * 10000 + n) div (2 * n)"))
    val first = curve.filter(col("exposure") === 1)
      .select(col("event_type"), col("mean_micro").as("m1"))
    curve.join(broadcast(first), "event_type")
      .withColumn("rel_micro",
        expr("(2 * mean_micro * 1000000 + m1) div (2 * m1)"))
      .select(col("event_type"), col("exposure"), col("n"),
        (col("mean_micro").cast("double") / 1e6).as("mean_value"),
        (col("rel_micro").cast("double") / 1e6).as("vs_first"))
      .orderBy("event_type", "exposure")
  }

  private val eventsExposureCurveOracle =
    """WITH ev AS (
      |  SELECT event_type,
      |    LEAST(row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id), 10) AS exposure,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |c AS (
      |  SELECT event_type, CAST(exposure AS BIGINT) AS exposure,
      |    CAST(count(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sc
      |  FROM ev GROUP BY 1, 2),
      |m AS (SELECT *, (2 * sc * 10000 + n) // (2 * n) AS mean_micro FROM c),
      |f AS (SELECT event_type, mean_micro AS m1 FROM m WHERE exposure = 1)
      |SELECT m.event_type, m.exposure, m.n,
      |  CAST(m.mean_micro AS DOUBLE) / 1e6 AS mean_value,
      |  CAST((2 * m.mean_micro * 1000000 + f.m1) // (2 * f.m1) AS DOUBLE) / 1e6
      |    AS vs_first
      |FROM m JOIN f USING (event_type)
      |ORDER BY m.event_type, m.exposure""".stripMargin

  // ---- split_drift: PSI of length across the hash split ---------------

  /** Split-hygiene drift check: the Population Stability Index of the
    * n_chars distribution between the train and val partitions of the
    * content-hash split (Hashing.splitOf — the SAME single definition
    * corpus_split produces). Ten equal-width bands from the GLOBAL
    * char range (two broadcast scalars); p and q are micro rationals
    * with the standard 1e-6 floor, each PSI addend uses the
    * nano-quantized ln of INTEGER micro counts, and the total is their
    * exact sum — engine-identical. A hash split is exchangeable by
    * construction, so psi ≈ 0 here IS the pass criterion. */
  private val splitDrift: Q = (s, dir) => {
    def lnq(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e9 + lit(0.5)).cast("long")
    val d = Tables.load(s, dir, "documents")
      .select(col("n_chars"), Hashing.splitOf(col("text")).as("split"))
      .filter(col("split").isin("train", "val"))
    val bounds = d.agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
    val banded = d.crossJoin(broadcast(bounds))
      .withColumn("band",
        least(lit(9L), expr("((n_chars - lo) * 10) div (hi - lo + 1)")))
    val counts = banded.groupBy("band").agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("ct"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("cv"))
    val tot = counts.agg(sum("ct").as("nt"), sum("cv").as("nv"))
    counts.crossJoin(broadcast(tot))
      .withColumn("p_micro",
        greatest(lit(1L), expr("(2 * ct * 1000000 + nt) div (2 * nt)")))
      .withColumn("q_micro",
        greatest(lit(1L), expr("(2 * cv * 1000000 + nv) div (2 * nv)")))
      .withColumn("lnp", lnq(col("p_micro")))
      .withColumn("lnqv", lnq(col("q_micro")))
      .withColumn("addend_nano",
        expr("((p_micro - q_micro) * (lnp - lnqv)) div 1000000"))
      .select(col("band"), col("ct"), col("cv"),
        (col("p_micro").cast("double") / 1e6).as("p_train"),
        (col("q_micro").cast("double") / 1e6).as("p_val"),
        (col("addend_nano").cast("double") / 1e9).as("psi_addend"))
      .orderBy("band")
  }

  private val splitDriftOracle = {
    def ln(x: String) =
      s"CAST(FLOOR(ln(CAST($x AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)"
    s"""WITH d AS (
       |  SELECT n_chars, ${Hashing.duckSplitCase} AS split FROM documents),
       |d2 AS (SELECT * FROM d WHERE split IN ('train', 'val')),
       |b AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM d2),
       |banded AS (
       |  SELECT least(9, ((n_chars - lo) * 10) // (hi - lo + 1)) AS band, split
       |  FROM d2, b),
       |counts AS (
       |  SELECT band,
       |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS cv
       |  FROM banded GROUP BY 1),
       |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cv) AS BIGINT) AS nv
       |  FROM counts),
       |pq AS (
       |  SELECT band, ct, cv,
       |    greatest(1, (2 * ct * 1000000 + nt) // (2 * nt)) AS p_micro,
       |    greatest(1, (2 * cv * 1000000 + nv) // (2 * nv)) AS q_micro
       |  FROM counts, tot)
       |SELECT band, ct, cv,
       |  CAST(p_micro AS DOUBLE) / 1e6 AS p_train,
       |  CAST(q_micro AS DOUBLE) / 1e6 AS p_val,
       |  CAST(((p_micro - q_micro) *
       |      (${ln("p_micro")} - ${ln("q_micro")})) // 1000000
       |    AS DOUBLE) / 1e9 AS psi_addend
       |FROM pq ORDER BY band""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "events_exposure_curve" -> eventsExposureCurve,
    "split_drift" -> splitDrift
  )

  val oracles: Map[String, String] = Map(
    "events_exposure_curve" -> eventsExposureCurveOracle,
    "split_drift" -> splitDriftOracle
  )
}
