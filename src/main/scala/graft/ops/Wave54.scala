package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 54: prefix-filtered set-similarity join + growth
  * accounting — the AllPairs/PPJoin prefix filter (Chaudhuri et al.
  * ICDE'06, Xiao et al. WWW'08: order tokens by ascending global
  * frequency; two sets with Jaccard ≥ τ MUST share a token within
  * each other's first n−⌈τn⌉+1 tokens), which is THE way web-scale
  * similarity joins avoid quadratic candidate generation, and weekly
  * new/retained/resurrected/churned user accounting (the canonical
  * growth decomposition every activity dashboard is built on).
  */
object Wave54 {

  // ---- dedup_prefix_filter: PPJoin-style prefix-filtered sim join ----

  /** All document pairs with token-set Jaccard ≥ 0.5, found WITHOUT
    * all-pairs candidate generation: tokens rank by ascending global
    * document frequency (rarest first, ties by token — a total order,
    * so both engines derive identical prefixes), each doc keeps only
    * its first n − ⌈τ·n⌉ + 1 ranked tokens as its prefix, and
    * candidates are pairs sharing a PREFIX token (plus the length
    * filter τ·n₁ ≤ n₂). Both filters are exact — the prefix-filter
    * theorem guarantees every qualifying pair shares a prefix token —
    * so the oracle states the UNPRUNED all-pairs join and the results
    * must match row for row (the same lossless-pruning proof pattern
    * as dedup_ngram_jaccard's size-ratio bound). Shared prefix tokens
    * are rare on natural corpora (ascending-frequency order), which is
    * what bounds candidate fan-out at web scale; the final exact
    * Jaccard confirm joins only candidate pairs back to full token
    * sets. jaccard_micro is an integer rational so ordering is
    * engine-exact.
    *
    * SCOPE: the fixture corpus is template-generated — 74% of ALL doc
    * pairs exceed tau = 0.5, so an exact tau-join's OUTPUT is Theta(n^2)
    * on it regardless of algorithm (measured: 92k pairs from 500 docs;
    * ~9M from 5000). The query therefore runs the exact machinery on
    * the src0 slice (the demonstration stays lossless and bounded),
    * and the corpus-scale path for such dense near-dup families is the
    * sub-quadratic LSH family (dedup_minhash / simhash / semdedup)
    * this library ships alongside. */
  private val dedupPrefixFilter: Q = (s, dir) => {
    val tau = 0.5
    val docToks = Tables.load(s, dir, "documents")
      .filter(col("source") === "src0")
      .select(col("doc_id"), explode(array_distinct(LlmPipeline.tokens(col("text")))).as("w"))
      .localCheckpoint()
    val sizes = docToks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // global ascending document frequency; (df, w) is a total order
    val dfRank = docToks.groupBy("w").agg(count(lit(1)).as("df"))
    val ranked = docToks.join(dfRank, "w")
      .join(sizes, "doc_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("w"))))
    // prefix length = n - ceil(tau*n) + 1  (integer ceil: (n+1) div 2 for tau=.5)
    val prefix = ranked.filter(col("rn") <= col("n") - expr("(n + 1) div 2") + 1)
      .select(col("doc_id"), col("w"), col("n"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * lit(tau) <= col("b.n") && col("b.n") * lit(tau) <= col("a.n"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
    // exact confirm: equi-join on (d2, w) so ONLY intersection tokens
    // materialize (never the n1 x n2 cross product per pair)
    val inter = cand
      .join(docToks.toDF("d1", "w"), "d1")
      .join(docToks.toDF("d2", "w"), Seq("d2", "w"))
      .groupBy("d1", "d2", "n1", "n2").agg(count(lit(1)).as("i"))
    inter
      .withColumn("u", col("n1") + col("n2") - col("i"))
      .filter(col("i") * 2 >= col("u")) // i/u >= 0.5 in integers
      .withColumn("jac_micro", expr("(2 * i * 1000000 + u) div (2 * u)"))
      .select(col("d1"), col("d2"), col("i").as("shared"),
        col("u").as("union_n"),
        (col("jac_micro").cast("double") / 1e6).as("jaccard"))
      .orderBy(desc("jac_micro"), col("d1"), col("d2"))
  }

  private val dedupPrefixFilterOracle =
    s"""WITH dt AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(${LlmPipeline.duckTokens})) AS w
       |  FROM documents WHERE source = 'src0'),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dt GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS i
       |  FROM dt a JOIN dt b ON a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT d1, d2, i, s1.n + s2.n - i AS u
       |  FROM inter JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
       |  WHERE i * 2 >= s1.n + s2.n - i)
       |SELECT d1, d2, i AS shared, u AS union_n,
       |  CAST((2 * i * 1000000 + u) // (2 * u) AS DOUBLE) / 1e6 AS jaccard
       |FROM j
       |ORDER BY (2 * i * 1000000 + u) // (2 * u) DESC, d1, d2""".stripMargin

  // ---- events_growth_accounting: new/retained/resurrected/churned ----

  /** Weekly growth accounting: each active (user, week) is NEW (first
    * week ever), RETAINED (active the week before) or RESURRECTED
    * (returning after a gap); CHURNED at week w counts users active in
    * w−1 but not w. Weeks are epoch-day div 7 (engine-exact integer
    * calendar). The lag runs in a per-user window — user-sized groups,
    * so no skew cliff — and churn falls out of the identity
    * active(w−1) = retained(w) + churned(w) on the week-sized table,
    * which the spec pins. */
  private val eventsGrowthAccounting: Q = (s, dir) => {
    val uw = Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("floor(unix_timestamp(ts) / 86400) div 7").cast("long").as("wk"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("wk")
    val classed = uw
      .withColumn("prev", lag("wk", 1).over(w))
      .withColumn("status",
        when(col("prev").isNull, "new")
          .when(col("prev") === col("wk") - 1, "retained")
          .otherwise("resurrected"))
    val active = uw.groupBy("wk").agg(count(lit(1)).as("n_active"))
    val byStatus = classed.groupBy("wk").agg(
      sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("status") === "resurrected", 1L).otherwise(0L))
        .as("n_resurrected"))
    byStatus.join(active, "wk")
      .join(active.select((col("wk") + 1).as("wk"),
        col("n_active").as("prev_active")), Seq("wk"), "left")
      .withColumn("n_churned",
        coalesce(col("prev_active"), lit(0L)) - col("n_retained"))
      .select(col("wk"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"))
      .orderBy("wk")
  }

  private val eventsGrowthAccountingOracle =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) // 7 AS wk
      |  FROM events),
      |cl AS (
      |  SELECT user_id, wk, lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev
      |  FROM uw),
      |st AS (
      |  SELECT wk,
      |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN prev = wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM cl GROUP BY 1),
      |act AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active FROM uw GROUP BY 1)
      |SELECT st.wk, act.n_active, st.n_new, st.n_retained, st.n_resurrected,
      |  COALESCE(pa.n_active, 0) - st.n_retained AS n_churned
      |FROM st
      |JOIN act ON act.wk = st.wk
      |LEFT JOIN act pa ON pa.wk = st.wk - 1
      |ORDER BY st.wk""".stripMargin

  val queries: Map[String, Q] = Map(
    "dedup_prefix_filter" -> dedupPrefixFilter,
    "events_growth_accounting" -> eventsGrowthAccounting
  )

  val oracles: Map[String, String] = Map(
    "dedup_prefix_filter" -> dedupPrefixFilterOracle,
    "events_growth_accounting" -> eventsGrowthAccountingOracle
  )
}
