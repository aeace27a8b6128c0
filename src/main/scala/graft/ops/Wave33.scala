package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 33: the A/B test read-out (two-proportion z on a
  * deterministic hash split), the cohort LTV curve (cumulative value
  * per user by cohort age), and sorted-neighborhood deduplication (the
  * classic entity-resolution alternative to hash blocking).
  */
object Wave33 {

  // ---- events_ab_test: two-proportion z over a hash split ------------

  /** A/B conversion read-out: users split 50/50 by the portable md5
    * hash (the same experiment-assignment determinism every platform
    * needs for exposure logging), conversion = "ever purchased", and
    * the pooled two-proportion z statistic with the standard
    * significance read at |z| > 1.96. Counts are exact; the z is one
    * float expression of exact integers (single division chain,
    * rounded once). On an A/A-style random split the test should NOT
    * fire — that property is the spec. */
  private val eventsAbTest: Q = (s, dir) => {
    val arm = pmod(Hashing.md5Long(
      concat(col("user_id").cast("string"), lit(":ab")).cast("binary")), lit(2))
    // conversion = purchased within 24h of first activity ("ever
    // purchased" saturates to 1.0 on a long window — degenerate z)
    val users = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .groupBy("user_id")
      .agg(min("sec").as("t0"),
        min(when(col("event_type") === "purchase", col("sec"))).as("tp"))
      .select(col("user_id"), arm.as("arm"),
        when(col("tp").isNotNull && col("tp") < col("t0") + 86400, 1L)
          .otherwise(0L).as("converted"))
    val arms = users.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("converted").as("conv"))
    val a = arms.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("conv").as("conv_a"))
    val b = arms.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("conv").as("conv_b"))
    a.crossJoin(b)
      .withColumn("p_a", col("conv_a").cast("double") / col("n_a").cast("double"))
      .withColumn("p_b", col("conv_b").cast("double") / col("n_b").cast("double"))
      .withColumn("p_pool",
        (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z",
        (col("p_a") - col("p_b")) /
          sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        round(col("z"), 6).as("z"),
        (abs(col("z")) > 1.96).as("significant"))
  }

  private val eventsAbTestOracle =
    """WITH users AS (
      |  SELECT user_id,
      |    CAST(concat('0x', substr(md5(user_id || ':ab'), 1, 15)) AS BIGINT) % 2 AS arm,
      |    CASE WHEN MIN(CASE WHEN event_type = 'purchase'
      |        THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) IS NOT NULL
      |      AND MIN(CASE WHEN event_type = 'purchase'
      |        THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END)
      |        < MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) + 86400
      |      THEN 1 ELSE 0 END AS converted
      |  FROM events GROUP BY user_id),
      |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(converted) AS BIGINT) AS conv FROM users GROUP BY 1),
      |ab AS (
      |  SELECT
      |    (SELECT n FROM arms WHERE arm = 0) AS n_a,
      |    (SELECT conv FROM arms WHERE arm = 0) AS conv_a,
      |    (SELECT n FROM arms WHERE arm = 1) AS n_b,
      |    (SELECT conv FROM arms WHERE arm = 1) AS conv_b),
      |calc AS (
      |  SELECT *,
      |    CAST(conv_a AS DOUBLE) / n_a AS p_a,
      |    CAST(conv_b AS DOUBLE) / n_b AS p_b,
      |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
      |  FROM ab)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
      |  round((p_a - p_b) / sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b)), 6) AS z,
      |  ABS((p_a - p_b) / sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b))) > 1.96
      |    AS significant
      |FROM calc""".stripMargin

  // ---- events_cohort_ltv: cumulative value by cohort age -------------

  /** Cohort LTV curve: users grouped by first-seen week, cumulative
    * per-user value by weeks-since-first-seen — the "does week-3 value
    * converge" retention-economics sheet. Two aggregations (user
    * firsts, then (cohort, age) cells) and one running sum over the
    * model-sized cohort x age grid; LTV-per-user is a single rounded
    * division of exact micro sums. */
  private val eventsCohortLtv: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("user_id"),
      floor(unix_timestamp(col("ts")) / 604800).cast("long").as("week"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
    val firsts = ev.groupBy("user_id").agg(min("week").as("cohort"))
    val sized = firsts.groupBy("cohort").agg(count(lit(1)).as("cohort_users"))
    val cells = ev.join(firsts, "user_id")
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("age"))
      .agg(sum("v").as("wv"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort").orderBy("age")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    cells
      .withColumn("cum_v", sum("wv").over(wCum))
      .join(broadcast(sized), "cohort")
      .select(col("cohort"), col("age"), col("cohort_users"),
        round(col("cum_v").cast("double") / col("cohort_users").cast("double")
          / 1000000d, 6).as("ltv_per_user"))
      .orderBy("cohort", "age")
  }

  private val eventsCohortLtvOracle =
    """WITH ev AS (
      |  SELECT user_id, CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |firsts AS (SELECT user_id, MIN(week) AS cohort FROM ev GROUP BY 1),
      |sized AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
      |          FROM firsts GROUP BY 1),
      |cells AS (
      |  SELECT f.cohort, e.week - f.cohort AS age, CAST(SUM(e.v) AS BIGINT) AS wv
      |  FROM ev e JOIN firsts f USING (user_id) GROUP BY 1, 2)
      |SELECT c.cohort, c.age, s.cohort_users,
      |  round(CAST(SUM(c.wv) OVER (PARTITION BY c.cohort ORDER BY c.age
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / s.cohort_users / 1000000.0, 6) AS ltv_per_user
      |FROM cells c JOIN sized s USING (cohort)
      |ORDER BY cohort, age""".stripMargin

  // ---- dedup_sorted_neighborhood: SNM entity resolution --------------

  /** Sorted-neighborhood dedup: documents sort by a normalized sort
    * key (first 24 chars of the lowercased text), and only rows within
    * rank distance <= 2 of each other compare (token-set Jaccard >=
    * 0.5) — the classic SNM alternative to hash blocking, which
    * catches near-dups whose hashes differ but whose sort keys
    * collide. The global rank is the empty-group two-phase kernel;
    * the neighbor pairing is a co-partitioned (rank, rank+delta)
    * equi-join — O(n * w) candidates, never all-pairs. Jaccard is
    * exact integer set arithmetic. */
  private val dedupSortedNeighborhood: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
      substring(lower(col("text")), 1, 24).as("skey"),
      array_distinct(LlmPipeline.tokens(col("text"))).as("tk"))
    val ranked = Ranks.perGroupRank(docs, Seq.empty,
      Seq(col("skey").asc, col("doc_id").asc), "r", "n",
      ConfScope.shufflePartitions(s))
    val probes = ranked.select(col("doc_id").as("id_a"), col("tk").as("tk_a"),
      explode(lit(Array(1, 2))).as("delta"), col("r"))
      .select(col("id_a"), col("tk_a"), (col("r") + col("delta")).as("r"))
    val pairs = probes.join(
      ranked.select(col("doc_id").as("id_b"), col("tk").as("tk_b"), col("r")),
      Seq("r"))
    pairs
      .withColumn("inter", size(array_intersect(col("tk_a"), col("tk_b"))).cast("long"))
      .withColumn("uni", size(array_union(col("tk_a"), col("tk_b"))).cast("long"))
      .filter(col("inter") * 2 >= col("uni")) // jaccard >= 0.5
      .select(least(col("id_a"), col("id_b")).as("keep_id"),
        greatest(col("id_a"), col("id_b")).as("dup_id"),
        col("inter"), col("uni"))
      .orderBy("keep_id", "dup_id")
  }

  private val dedupSortedNeighborhoodOracle =
    s"""WITH docs AS (
       |  SELECT doc_id, substr(lower(text), 1, 24) AS skey,
       |    list_distinct(${LlmPipeline.duckTokens}) AS tk
       |  FROM documents),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY skey ASC, doc_id ASC) AS BIGINT) AS r
       |  FROM docs),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.tk AS tk_a, b.tk AS tk_b
       |  FROM ranked a JOIN ranked b
       |    ON b.r - a.r IN (1, 2)),
       |scored AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(tk_a, tk_b)) AS BIGINT) AS inter,
       |    CAST(len(list_distinct(list_concat(tk_a, tk_b))) AS BIGINT) AS uni
       |  FROM pairs)
       |SELECT LEAST(id_a, id_b) AS keep_id, GREATEST(id_a, id_b) AS dup_id,
       |  inter, uni
       |FROM scored WHERE inter * 2 >= uni
       |ORDER BY keep_id, dup_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_ab_test" -> eventsAbTest,
    "events_cohort_ltv" -> eventsCohortLtv,
    "dedup_sorted_neighborhood" -> dedupSortedNeighborhood
  )

  val oracles: Map[String, String] = Map(
    "events_ab_test" -> eventsAbTestOracle,
    "events_cohort_ltv" -> eventsCohortLtvOracle,
    "dedup_sorted_neighborhood" -> dedupSortedNeighborhoodOracle
  )
}
