package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 64: experiment integrity + write-path contracts — the
  * sample-ratio-mismatch check (the FIRST thing a trustworthy A/B
  * readout validates: does the observed split match the assignment
  * design), and schema-enforcement rejection on the VersionedStore
  * write path (a lakehouse table that silently accepts drifted
  * schemas corrupts every downstream reader — rejection IS the
  * feature).
  */
object Wave64 {

  // ---- events_srm: sample-ratio-mismatch chi-square -------------------

  /** SRM check per event type: users assign to A/B by the md5 parity
    * of user_id (the same deterministic hash-split events_ab_test
    * uses), expected 50/50; the chi-square statistic
    * Σ (obs − exp)²/exp over the two cells decides whether the
    * observed split is consistent with the design (χ² > 3.841 ⇒ the
    * readout is untrustworthy at α = 0.05). USER-level counts (one
    * distinct per type), exact integer arithmetic: with E = n/2 per
    * cell, χ² = (a − b)²/n — a single rational, micro-quantized. */
  private val eventsSrm: Q = (s, dir) => {
    val ua = Tables.load(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("arm",
        pmod(graft.ops.Hashing.md5Long(col("user_id").cast("string")), lit(2)))
    ua.groupBy("event_type")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("chisq_micro", expr(
        "(2 * (n_a - n_b) * (n_a - n_b) * 1000000 + n) div (2 * n)"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        (col("chisq_micro").cast("double") / 1e6).as("chi_square"),
        (col("chisq_micro") > 3841459L).as("srm_flag"))
      .orderBy("event_type")
  }

  private val eventsSrmOracle =
    """WITH ua AS (
      |  SELECT DISTINCT event_type, user_id FROM events),
      |arm AS (
      |  SELECT event_type,
      |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS arm
      |  FROM ua),
      |g AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM arm GROUP BY 1),
      |c AS (
      |  SELECT event_type, n_a, n_b, n_a + n_b AS n,
      |    (2 * (n_a - n_b) * (n_a - n_b) * 1000000 + n_a + n_b)
      |      // (2 * (n_a + n_b)) AS chisq_micro
      |  FROM g)
      |SELECT event_type, n_a, n_b,
      |  CAST(chisq_micro AS DOUBLE) / 1e6 AS chi_square,
      |  chisq_micro > 3841459 AS srm_flag
      |FROM c ORDER BY event_type""".stripMargin

  // ---- sink_schema_reject: enforcement on the write path --------------

  /** Schema enforcement audit: three appends against a committed
    * table — (1) the matching schema (must land), (2) an extra column
    * WITHOUT evolution (must be rejected atomically: version and row
    * count unchanged), (3) the same extra column WITH evolveSchema
    * (must land, null-backfilled). Reports one row per attempt with
    * the observed outcome and the table's row count and version after
    * each — the contract a lakehouse write path must keep. The oracle
    * states the expected audit in closed form. */
  private val sinkSchemaReject: Q = (s, dir) => {
    import s.implicits._
    val root = graft.engine.Fs.freshScratch(s, "schemareject")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "nation")
      .select(col("n_nationkey").as("k"), col("n_name").as("name"))
    store.write(base, "t")
    val n0 = store.read(s, "t").count()
    def attempt(tag: String, src: DataFrame, evolve: Boolean): (String, Boolean) =
      try { store.upsert(s, "t", src, Seq("k"), evolveSchema = evolve); (tag, true) }
      catch { case _: Exception => (tag, false) }
    val a1 = attempt("append_matching",
      base.filter(col("k") < 5).withColumn("name", upper(col("name"))), evolve = false)
    val c1 = store.read(s, "t").count(); val v1 = store.currentVersion("t").get
    val a2 = attempt("append_extra_col_strict",
      base.filter(col("k") < 3).withColumn("extra", lit(1L)), evolve = false)
    val c2 = store.read(s, "t").count(); val v2 = store.currentVersion("t").get
    val a3 = attempt("append_extra_col_evolve",
      base.filter(col("k") < 3).withColumn("extra", lit(1L)), evolve = true)
    val c3 = store.read(s, "t").count(); val v3 = store.currentVersion("t").get
    val hasExtra = store.read(s, "t").columns.contains("extra")
    Seq(
      (a1._1, a1._2, c1, v1 - 0L),
      (a2._1, a2._2, c2, v2 - 0L),
      (a3._1, a3._2 && hasExtra && c3 == n0, c3, v3 - 0L))
      .toDF("attempt", "landed", "rows_after", "version_after")
      .withColumn("rows_stable", col("rows_after") === lit(n0))
      .orderBy("attempt")
  }

  private val sinkSchemaRejectOracle =
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
      |SELECT * FROM (
      |  SELECT 'append_extra_col_evolve' AS attempt, TRUE AS landed,
      |    c AS rows_after, CAST(3 AS BIGINT) AS version_after, TRUE AS rows_stable FROM n
      |  UNION ALL
      |  SELECT 'append_extra_col_strict', FALSE, c, CAST(2 AS BIGINT), TRUE FROM n
      |  UNION ALL
      |  SELECT 'append_matching', TRUE, c, CAST(2 AS BIGINT), TRUE FROM n)
      |ORDER BY attempt""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_srm" -> eventsSrm,
    "sink_schema_reject" -> sinkSchemaReject
  )

  val oracles: Map[String, String] = Map(
    "events_srm" -> eventsSrmOracle,
    "sink_schema_reject" -> sinkSchemaRejectOracle
  )
}
