package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-7 wave 88: privacy operations for data-release pipelines —
  * the governance trio every production lakehouse runs before sharing
  * a table: a column-level PII audit (what's in here?), deterministic
  * pseudonymization (strip identity, keep joins and analytics), and a
  * k-anonymity audit of the released quasi-identifiers (how re-
  * identifiable is what's left?). Complements privacy_dp_counts (w81)
  * on the aggregate-release side.
  */
object Wave88 {

  // ---- pii_scan: column-level PII audit ----------------------------------

  /** Profile every scannable customer column for identifier risk in
    * ONE melt pass (the Profiler.scala:59 single-shuffle discipline):
    * exact distinct counts, digit mass, and whitespace mass feed an
    * ordered rule chain — all-digits ⇒ numeric_id, ≥95% distinct ⇒
    * identifier, ≤10 values ⇒ categorical, else free_text. Ratios are
    * rationals of exact long sums (never an order-dependent float
    * average), so the audit is engine-exact. At 100 TB: one narrow
    * projection + one (column)-keyed aggregate; the output is
    * column-count-sized. */
  private val piiScan: Q = (s, dir) => {
    val cols = Seq("c_custkey", "c_name", "c_mktsegment")
    val cust = Tables.load(s, dir, "customer")
    val melted = cust.select(explode(array(cols.map(c =>
        struct(lit(c).as("col"), col(c).cast("string").as("v"))): _*)).as("x"))
      .select(col("x.col").as("col"), col("x.v").as("v"))
    melted.groupBy("col")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("v")).as("n_distinct"),
        sum(length(col("v")).cast("bigint")).as("chars"),
        sum((length(col("v")) -
          length(regexp_replace(col("v"), "[0-9]", ""))).cast("bigint"))
          .as("digits"),
        sum((length(col("v")) -
          length(regexp_replace(col("v"), " ", ""))).cast("bigint"))
          .as("spaces"))
      .select(col("col"), col("n_rows"), col("n_distinct"),
        round(col("digits").cast("double") / col("chars"), 6)
          .as("digit_ratio"),
        when(col("digits") === col("chars"), "numeric_id")
          .when(col("n_distinct") * 20 >= col("n_rows") * 19, "identifier")
          .when(col("n_distinct") <= 10, "categorical")
          .otherwise("free_text").as("pii_class"))
      .orderBy("col")
  }

  private val piiScanOracle: String =
    """WITH m AS (
      |  SELECT col, v FROM (
      |    SELECT 'c_custkey' AS col, CAST(c_custkey AS VARCHAR) AS v
      |      FROM customer
      |    UNION ALL SELECT 'c_name', c_name FROM customer
      |    UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer))
      |SELECT col, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
      |  round(CAST(SUM(length(v) -
      |      length(regexp_replace(v, '[0-9]', '', 'g'))) AS DOUBLE)
      |    / SUM(length(v)), 6) AS digit_ratio,
      |  CASE
      |    WHEN SUM(length(v) - length(regexp_replace(v, '[0-9]', '', 'g')))
      |      = SUM(length(v)) THEN 'numeric_id'
      |    WHEN count(DISTINCT v) * 20 >= count(*) * 19 THEN 'identifier'
      |    WHEN count(DISTINCT v) <= 10 THEN 'categorical'
      |    ELSE 'free_text' END AS pii_class
      |FROM m GROUP BY col ORDER BY col""".stripMargin

  // ---- pii_pseudonymize: deterministic identity stripping ----------------

  /** Release-ready customer table: the key becomes a salted md5
    * pseudonym (deterministic, so joins across released tables still
    * line up — the referential-integrity contract of production
    * pseudonymization), the name keeps its shape with digits masked,
    * the balance coarsens to a 100-unit bucket, and the analytic
    * dimensions (nation, segment) pass through. A narrow per-row map —
    * no shuffle at any scale; output order is by pseudonym so nothing
    * leaks the original key order. */
  private val piiPseudonymize: Q = (s, dir) =>
    Tables.load(s, dir, "customer")
      .select(
        substring(md5(concat(lit("cust#"), col("c_custkey").cast("string"))
          .cast("binary")), 1, 16).as("pseudo_id"),
        regexp_replace(col("c_name"), "[0-9]", "*").as("name_masked"),
        col("c_nationkey").cast("int").as("nationkey"),
        col("c_mktsegment").as("mktsegment"),
        (floor(col("c_acctbal") / 100) * 100).cast("long")
          .as("acctbal_bucket"))
      .orderBy("pseudo_id")

  private val piiPseudonymizeOracle: String =
    """SELECT substr(md5('cust#' || CAST(c_custkey AS VARCHAR)), 1, 16)
      |    AS pseudo_id,
      |  regexp_replace(c_name, '[0-9]', '*', 'g') AS name_masked,
      |  c_nationkey AS nationkey,
      |  c_mktsegment AS mktsegment,
      |  CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS acctbal_bucket
      |FROM customer ORDER BY pseudo_id""".stripMargin

  // ---- privacy_k_anonymity: quasi-identifier audit -----------------------

  /** k-anonymity histogram of the RELEASED quasi-identifier tuple
    * (nation, segment, 1000-unit balance bucket): every customer falls
    * in an equivalence class; the report is classes-and-rows per class
    * size with a risky flag below k = 5 — the standard re-
    * identification read (Sweeney 2002). Two aggregations, the second
    * over class-count-sized data; the class-size histogram itself is
    * at most corpus-max-class rows. */
  private val privacyKAnonymity: Q = (s, dir) =>
    Tables.load(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("int").as("nationkey"),
        col("c_mktsegment").as("mktsegment"),
        (floor(col("c_acctbal") / 1000) * 1000).cast("long").as("bal_b"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy("class_size")
      .agg(count(lit(1)).as("n_classes"),
        sum("class_size").as("n_rows"))
      .select(col("class_size"), col("n_classes"), col("n_rows"),
        (col("class_size") < 5).as("risky"))
      .orderBy("class_size")

  private val privacyKAnonymityOracle: String =
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS bal_b,
      |    CAST(count(*) AS BIGINT) AS class_size
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(class_size) AS BIGINT) AS n_rows,
      |  class_size < 5 AS risky
      |FROM cls GROUP BY class_size ORDER BY class_size""".stripMargin

  val queries: Map[String, Q] = Map(
    "pii_scan" -> piiScan,
    "pii_pseudonymize" -> piiPseudonymize,
    "privacy_k_anonymity" -> privacyKAnonymity
  )

  val oracles: Map[String, String] = Map(
    "pii_scan" -> piiScanOracle,
    "pii_pseudonymize" -> piiPseudonymizeOracle,
    "privacy_k_anonymity" -> privacyKAnonymityOracle
  )
}
