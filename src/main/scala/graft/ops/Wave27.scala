package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 27: Jensen-Shannon source drift (the mixing-decision
  * divergence), gaps-and-islands over a sparse key domain, sequential
  * path mining (top event trigrams), weighted median by mass crossing,
  * and the null-safe equi-join.
  */
object Wave27 {

  // ---- text_jsd: Jensen-Shannon divergence per source ----------------

  /** JSD (nats) between each source's unigram distribution P and the
    * corpus distribution Q — the symmetric, bounded divergence corpus
    * mixing reads to decide which sources are "far" from the blend.
    * The (source x token) grid comes from crossing the vocabulary-sized
    * corpus tf with the 20-row source list (never doc-sized); absent
    * tokens contribute the exact P=0 limit (Q/2 * ln 2 via the M
    * denominator). Each addend is one float expression of integer
    * counts rounded to 9 then DECIMAL-summed (bm25's recipe — addition
    * order cannot flip the hash); the final JSD rounds once. */
  private val textJsd: Q = (s, dir) => {
    val terms = Tables.load(s, dir, "documents")
      .select(col("source"), explode(LlmPipeline.tokens(col("text"))).as("token"))
    val tfS = terms.groupBy("source", "token").agg(count(lit(1)).as("tf_s"))
    val totS = terms.groupBy("source").agg(count(lit(1)).as("t_s"))
    val tfC = terms.groupBy("token").agg(count(lit(1)).as("tf_c"))
    val totC = terms.agg(count(lit(1)).as("t_c"))
    val grid = totS.crossJoin(tfC).crossJoin(broadcast(totC))
      .join(tfS, Seq("source", "token"), "left")
      .na.fill(0L, Seq("tf_s"))
    val p = col("tf_s").cast("double") / col("t_s").cast("double")
    val q = col("tf_c").cast("double") / col("t_c").cast("double")
    val m = (p + q) / 2
    val term =
      when(col("tf_s") > 0, lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
        lit(0.5) * q * log(q / m)
    grid
      .select(col("source"), round(term, 9).cast("decimal(28,9)").as("addend"))
      .groupBy("source")
      .agg(round(sum("addend"), 6).cast("double").as("jsd"))
      .join(totS, "source")
      .select(col("source"), col("t_s").as("n_tokens"), col("jsd"))
      .orderBy("source")
  }

  private val textJsdOracle =
    s"""WITH terms AS (
       |  SELECT source, unnest(${LlmPipeline.duckTokens}) AS token FROM documents),
       |tf_s AS (SELECT source, token, CAST(count(*) AS BIGINT) AS tf_s FROM terms GROUP BY 1, 2),
       |tot_s AS (SELECT source, CAST(count(*) AS BIGINT) AS t_s FROM terms GROUP BY 1),
       |tf_c AS (SELECT token, CAST(count(*) AS BIGINT) AS tf_c FROM terms GROUP BY 1),
       |tot_c AS (SELECT CAST(count(*) AS BIGINT) AS t_c FROM terms),
       |grid AS (
       |  SELECT s.source, s.t_s, c.token, c.tf_c, t.t_c,
       |    COALESCE(x.tf_s, 0) AS tf_s
       |  FROM tot_s s CROSS JOIN tf_c c CROSS JOIN tot_c t
       |  LEFT JOIN tf_s x ON x.source = s.source AND x.token = c.token),
       |addends AS (
       |  SELECT source, t_s,
       |    CAST(round(
       |      CASE WHEN tf_s > 0 THEN 0.5 * (CAST(tf_s AS DOUBLE) / t_s)
       |        * ln((CAST(tf_s AS DOUBLE) / t_s) /
       |             ((CAST(tf_s AS DOUBLE) / t_s + CAST(tf_c AS DOUBLE) / t_c) / 2))
       |        ELSE 0.0 END
       |      + 0.5 * (CAST(tf_c AS DOUBLE) / t_c)
       |        * ln((CAST(tf_c AS DOUBLE) / t_c) /
       |             ((CAST(tf_s AS DOUBLE) / t_s + CAST(tf_c AS DOUBLE) / t_c) / 2)),
       |      9) AS DECIMAL(28,9)) AS addend
       |  FROM grid)
       |SELECT source, MAX(t_s) AS n_tokens,
       |  CAST(round(SUM(addend), 6) AS DOUBLE) AS jsd
       |FROM addends GROUP BY source ORDER BY source""".stripMargin

  // ---- events_streaks: gaps and islands on user activity days --------

  /** Gaps-and-islands as activity STREAKS: per user, runs of
    * consecutive active days (the classic day-minus-rank trick — the
    * difference is constant within a run), then the population
    * histogram of longest streaks: how many users sustained a k-day
    * streak. The per-user window partitions on a HIGH-cardinality key
    * (balanced at any scale — this is the case where the plain window
    * is the right plan and the driver-bounded kernel would be the
    * mistake); the histogram is two aggregations. All exact integers. */
  private val eventsStreaks: Q = (s, dir) => {
    val days = Tables.load(s, dir, "events")
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"))
      .distinct()
    val byUser = Window.partitionBy("user_id").orderBy("day")
    val streaks = days
      .withColumn("r", row_number().over(byUser).cast("long"))
      .withColumn("island", col("day") - col("r"))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
    streaks.groupBy("user_id").agg(max("len").as("longest"))
      .groupBy("longest").agg(count(lit(1)).as("n_users"))
      .orderBy("longest")
  }

  private val eventsStreaksOracle =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
      |  FROM events),
      |r AS (
      |  SELECT user_id, day,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS r
      |  FROM days),
      |streaks AS (
      |  SELECT user_id, day - r AS island, CAST(count(*) AS BIGINT) AS len
      |  FROM r GROUP BY 1, 2),
      |longest AS (SELECT user_id, MAX(len) AS longest FROM streaks GROUP BY 1)
      |SELECT longest, CAST(count(*) AS BIGINT) AS n_users
      |FROM longest GROUP BY longest ORDER BY longest""".stripMargin

  // ---- events_paths: top event-type trigram paths --------------------

  /** Sequential path mining: the 10 most common 3-step event-type
    * paths across user timelines — the "what do users do next"
    * sequence table. Trigrams come from two LEADs on the per-user
    * window (high-cardinality key, balanced); counting is one
    * aggregation; the top-10 is TakeOrderedAndProject. */
  private val eventsPaths: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    Tables.load(s, dir, "events")
      .withColumn("t2", lead(col("event_type"), 1).over(byUser))
      .withColumn("t3", lead(col("event_type"), 2).over(byUser))
      .filter(col("t3").isNotNull)
      .select(concat_ws(" > ", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("path"))
      .limit(10)
  }

  private val eventsPathsOracle =
    """WITH seq AS (
      |  SELECT event_type,
      |    LEAD(event_type, 1) OVER w AS t2,
      |    LEAD(event_type, 2) OVER w AS t3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
      |SELECT concat_ws(' > ', event_type, t2, t3) AS path,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM seq WHERE t3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 10""".stripMargin

  // ---- agg_weighted_median: mass-crossing weighted median ------------

  /** Weighted median order price per priority, weight = the order's
    * item count: the first price (ascending) whose cumulative weight
    * reaches half the total — win_top_p's mass-crossing rule pointed at
    * the median. The running mass is the two-phase prefix-sum kernel;
    * totals broadcast; the crossing test is exact integers
    * (2*cum >= total), and the selected PRICE is reported verbatim (no
    * float arithmetic at all). */
  private val aggWeightedMedian: Q = (s, dir) => {
    val w = Tables.load(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(count(lit(1)).as("wgt"))
    val o = Tables.load(s, dir, "orders")
      .join(w, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"), col("wgt"))
    // the fused kernel carries the group row count and total weight as
    // free columns (they live in the offset table anyway) — the r9 form
    // re-derived both with a separate aggregate + broadcast join
    val cum = Ranks.perGroupRankAndPrefixSum(o, Seq("o_orderpriority"),
      Seq(col("o_totalprice").asc, col("o_orderkey").asc),
      col("wgt"), "__rk", "n_orders", "cum_w", "tot_w", ConfScope.shufflePartitions(s))
    cum
      .filter(col("cum_w") * 2 >= col("tot_w") &&
        (col("cum_w") - col("wgt")) * 2 < col("tot_w"))
      .groupBy("o_orderpriority")
      .agg(min("o_totalprice").as("wmedian_price"),
        max("tot_w").as("tot_w"), max("n_orders").as("n_orders"))
      .orderBy("o_orderpriority")
  }

  private val aggWeightedMedianOracle =
    """WITH w AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS wgt
      |           FROM lineitem GROUP BY 1),
      |o AS (SELECT o_orderpriority, o_orderkey, o_totalprice, wgt
      |      FROM orders JOIN w ON o_orderkey = l_orderkey),
      |c AS (SELECT *, CAST(SUM(wgt) OVER (PARTITION BY o_orderpriority
      |        ORDER BY o_totalprice ASC, o_orderkey ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w
      |      FROM o),
      |t AS (SELECT o_orderpriority, MAX(cum_w) AS tot_w,
      |        CAST(count(*) AS BIGINT) AS n_orders FROM c GROUP BY 1)
      |SELECT c.o_orderpriority, MIN(c.o_totalprice) AS wmedian_price,
      |  MAX(t.tot_w) AS tot_w, MAX(t.n_orders) AS n_orders
      |FROM c JOIN t USING (o_orderpriority)
      |WHERE c.cum_w * 2 >= t.tot_w AND (c.cum_w - c.wgt) * 2 < t.tot_w
      |GROUP BY c.o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- join_null_safe: the <=> equi-join -----------------------------

  /** Null-safe equi-join: negative-balance customers derive a NULL
    * segment key (the "unclassified" bucket) and must still match the
    * dimension's NULL row — `<=>` joins NULL to NULL where `=` drops
    * both sides. Spark plans the null-safe comparison as an ordinary
    * hash-join key (Coalesce-wrapped), so it shuffles and broadcasts
    * like any equi-join; the oracle is IS NOT DISTINCT FROM. The NULL
    * key is one bucket — skew-safe as long as the unclassified share
    * is bounded (here ~9%). */
  private val joinNullSafe: Q = (s, dir) => {
    val seg = when(col("c_acctbal") < 0, lit(null).cast("string"))
      .otherwise(col("c_mktsegment"))
    val c = Tables.load(s, dir, "customer").select(col("c_custkey"), seg.as("seg"))
    val dim = c.groupBy("seg").agg(count(lit(1)).as("seg_size"))
    c.alias("c").join(broadcast(dim.alias("d")), col("c.seg") <=> col("d.seg"))
      .groupBy(col("d.seg").as("seg_label"))
      .agg(count(lit(1)).as("n_customers"), max("seg_size").as("seg_size"))
      .select(coalesce(col("seg_label"), lit("UNCLASSIFIED")).as("segment"),
        col("n_customers"), col("seg_size"))
      .orderBy("segment")
  }

  private val joinNullSafeOracle =
    """WITH c AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS seg
      |  FROM customer),
      |dim AS (SELECT seg, CAST(count(*) AS BIGINT) AS seg_size FROM c GROUP BY 1)
      |SELECT COALESCE(d.seg, 'UNCLASSIFIED') AS segment,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  MAX(d.seg_size) AS seg_size
      |FROM c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
      |GROUP BY d.seg ORDER BY segment""".stripMargin

  val queries: Map[String, Q] = Map(
    "text_jsd" -> textJsd,
    "events_streaks" -> eventsStreaks,
    "events_paths" -> eventsPaths,
    "agg_weighted_median" -> aggWeightedMedian,
    "join_null_safe" -> joinNullSafe
  )

  val oracles: Map[String, String] = Map(
    "text_jsd" -> textJsdOracle,
    "events_streaks" -> eventsStreaksOracle,
    "events_paths" -> eventsPathsOracle,
    "agg_weighted_median" -> aggWeightedMedianOracle,
    "join_null_safe" -> joinNullSafeOracle
  )
}
