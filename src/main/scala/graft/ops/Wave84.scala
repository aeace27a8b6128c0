package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 84: one level deeper + product engagement — a greedy
  * depth-2 decision tree (the stump recursed once per branch: the
  * smallest model that captures feature interaction, and the honest
  * baseline before anything boosted), and the DAU/WAU stickiness
  * ratio over a zero-filled calendar spine (the engagement number
  * product reviews actually track).
  */
object Wave84 {

  // ---- ml_tree_depth2: greedy two-level decision tree -------------------

  private val features = Seq("len_b100", "tok_b10", "the_hits")

  /** The wave-74 exact Gini machinery, per branch: cells (branch,
    * feature, bucket, n, pos) → bounded-domain cumulative window →
    * micro-quantized weighted impurity → argmin (g, bucket, feature). */
  private[ops] def bestSplits(cells: DataFrame): DataFrame = {
    // totals per (branch, feature): the cell table carries each row
    // once PER FEATURE, so a branch-only total would triple-count
    val tot = cells.groupBy("branch", "feature")
      .agg(sum("n").as("nn"), sum("p").as("pp"))
    val w = Window.partitionBy("branch", "feature").orderBy("b")
    cells
      .select(col("branch"), col("feature"), col("b"),
        sum("n").over(w).as("nl"), sum("p").over(w).as("pl"))
      .join(broadcast(tot), Seq("branch", "feature"))
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
      .withColumn("rk", row_number().over(
        Window.partitionBy("branch").orderBy("g_micro", "b", "feature")))
      .filter(col("rk") === 1)
      .select(col("branch"), col("feature"), col("b"), col("nn"), col("pp"),
        col("g_micro"))
  }

  private def featureCol(f: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(f === "len_b100", col("len_b100") <= b)
      .when(f === "tok_b10", col("tok_b10") <= b)
      .otherwise(col("the_hits") <= b)

  /** Greedy CART, depth 2: the root split is the wave-74 stump; each
    * branch then gets its own best split over the same bounded-domain
    * cell machinery; the four leaves predict their majority class and
    * the whole tree's exact training accuracy = Σ max(pos, n−pos)/N.
    * Three rows out (root/left/right split) with the shared accuracy
    * column — interactions the single stump cannot see show up as the
    * branches choosing DIFFERENT features. */
  private val mlTreeDepth2: Q = (s, dir) => {
    val base = Tables.load(s, dir, "documents").select(
      (col("lang") === "en").cast("long").as("pos"),
      expr("length(text) div 100").as("len_b100"),
      expr("size(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')) div 10")
        .as("tok_b10"),
      expr("size(filter(split(lower(text), '[^a-z0-9]+'), x -> x = 'the'))")
        .as("the_hits"))
      .localCheckpoint()
    def cellsOf(d: DataFrame): DataFrame =
      d.select(col("branch"), col("pos"), explode(array(features.map(f =>
          struct(lit(f).as("feature"), col(f).as("b"))): _*)).as("f"))
        .groupBy(col("branch"), col("f.feature").as("feature"),
          col("f.b").as("b"))
        .agg(count(lit(1)).as("n"), sum("pos").as("p"))
    val root = bestSplits(cellsOf(base.withColumn("branch", lit("root"))))
      .select(col("feature").as("rf"), col("b").as("rb"),
        col("nn").as("rn"), col("pp").as("rp"), col("g_micro").as("rg"))
      .localCheckpoint()
    val branched = base.crossJoin(broadcast(root))
      .withColumn("branch",
        when(featureCol(col("rf"), col("rb")), "left").otherwise("right"))
    val l2 = bestSplits(cellsOf(branched)).localCheckpoint()
    // four leaves: (branch, side-of-branch-split) majority vote
    val leaves = branched
      .join(broadcast(l2.select(col("branch"), col("feature").as("bf"),
        col("b").as("bb"))), "branch")
      .withColumn("side", featureCol(col("bf"), col("bb")))
      .groupBy("branch", "side")
      .agg(count(lit(1)).as("n"), sum("pos").as("p"))
      .agg(sum(greatest(col("p"), col("n") - col("p"))).as("correct"),
        sum("n").as("ntot"))
      .select(expr(
        "cast((2 * correct * 1000000 + ntot) div (2 * ntot) as double)")
        .divide(lit(1e6)).as("tree_accuracy"))
    val rootRow = root.select(lit("root").as("node"), col("rf").as("feature"),
      col("rb").as("threshold_bucket"), col("rn").as("n_node"),
      col("rp").as("pos_node"),
      (col("rg").cast("double") / 1e6).as("gini_split"))
    val branchRows = l2.select(col("branch").as("node"), col("feature"),
      col("b").as("threshold_bucket"), col("nn").as("n_node"),
      col("pp").as("pos_node"),
      (col("g_micro").cast("double") / 1e6).as("gini_split"))
    rootRow.unionByName(branchRows).crossJoin(broadcast(leaves))
      .orderBy("node")
  }

  private val mlTreeDepth2Oracle = {
    val gExpr =
      """(2 * ((nl::HUGEINT * nl - pl::HUGEINT * pl
        |        - (nl - pl)::HUGEINT * (nl - pl)) * nr
        |    + (nr::HUGEINT * nr - pr::HUGEINT * pr
        |        - (nr - pr)::HUGEINT * (nr - pr)) * nl) * 1000000
        |  + nl::HUGEINT * nr * nn) // (2 * nl::HUGEINT * nr * nn)"""
        .stripMargin.replace("\n", " ")
    def best(cellsRel: String, out: String): String =
      s"""$out AS (
         |  SELECT branch, feature, b, nn, pp, g_micro FROM (
         |    SELECT branch, feature, b, nn, pp, g_micro,
         |      row_number() OVER (PARTITION BY branch
         |        ORDER BY g_micro, b, feature) AS rk
         |    FROM (
         |      SELECT branch, feature, b, nn, pp, nl, pl,
         |        nn - nl AS nr, pp - pl AS pr, $gExpr AS g_micro
         |      FROM (
         |        SELECT c.branch, c.feature, c.b,
         |          SUM(n) OVER (PARTITION BY c.branch, c.feature ORDER BY c.b)
         |            AS nl,
         |          SUM(p) OVER (PARTITION BY c.branch, c.feature ORDER BY c.b)
         |            AS pl,
         |          t.nn, t.pp
         |        FROM $cellsRel c JOIN (
         |          SELECT branch, feature, CAST(SUM(n) AS BIGINT) AS nn,
         |            CAST(SUM(p) AS BIGINT) AS pp
         |          FROM $cellsRel GROUP BY 1, 2) t USING (branch, feature))
         |      WHERE nl < nn))
         |  WHERE rk = 1)""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT CAST(lang = 'en' AS BIGINT) AS pos,
       |    length(text) // 100 AS len_b100,
       |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |        x -> x <> '')) // 10 AS tok_b10,
       |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |        x -> x = 'the')) AS the_hits
       |  FROM documents),
       |cells0 AS (
       |  SELECT 'root' AS branch, feature, b, CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(pos) AS BIGINT) AS p
       |  FROM (
       |    SELECT pos, 'len_b100' AS feature, len_b100 AS b FROM base
       |    UNION ALL SELECT pos, 'tok_b10', tok_b10 FROM base
       |    UNION ALL SELECT pos, 'the_hits', the_hits FROM base)
       |  GROUP BY 1, 2, 3),
       |${best("cells0", "root")},
       |br AS MATERIALIZED (
       |  SELECT base.*, CASE WHEN (
       |      CASE WHEN r.feature = 'len_b100' THEN len_b100 <= r.b
       |        WHEN r.feature = 'tok_b10' THEN tok_b10 <= r.b
       |        ELSE the_hits <= r.b END)
       |    THEN 'left' ELSE 'right' END AS branch
       |  FROM base, root r),
       |cells2 AS (
       |  SELECT branch, feature, b, CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(pos) AS BIGINT) AS p
       |  FROM (
       |    SELECT branch, pos, 'len_b100' AS feature, len_b100 AS b FROM br
       |    UNION ALL SELECT branch, pos, 'tok_b10', tok_b10 FROM br
       |    UNION ALL SELECT branch, pos, 'the_hits', the_hits FROM br)
       |  GROUP BY 1, 2, 3),
       |${best("cells2", "l2")},
       |leaves AS (
       |  SELECT CAST((2 * SUM(GREATEST(p, n - p)) * 1000000 + SUM(n))
       |      // (2 * SUM(n)) AS DOUBLE) / 1e6 AS tree_accuracy
       |  FROM (
       |    SELECT br.branch,
       |      CASE WHEN l.feature = 'len_b100' THEN br.len_b100 <= l.b
       |        WHEN l.feature = 'tok_b10' THEN br.tok_b10 <= l.b
       |        ELSE br.the_hits <= l.b END AS side,
       |      CAST(count(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS p
       |    FROM br JOIN l2 l USING (branch)
       |    GROUP BY 1, 2))
       |SELECT node, feature, b AS threshold_bucket, nn AS n_node,
       |  pp AS pos_node, CAST(g_micro AS DOUBLE) / 1e6 AS gini_split,
       |  tree_accuracy
       |FROM (
       |  SELECT 'root' AS node, feature, b, nn, pp, g_micro FROM root
       |  UNION ALL SELECT branch, feature, b, nn, pp, g_micro FROM l2),
       |  leaves
       |ORDER BY node""".stripMargin
  }

  // ---- events_stickiness: DAU / WAU over the calendar spine -------------

  /** Stickiness per (type, day) on a zero-filled calendar spine:
    * DAU = distinct users that day, WAU = distinct users over the
    * trailing 7 days (the user-day table joined to the spine on a
    * 7-day band — data×7, never a sliding distinct window), ratio as
    * the exact micro rational. */
  private val eventsStickiness: Q = (s, dir) => {
    val ud = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("cast(floor(unix_timestamp(ts) / 86400) as long)").as("day"),
        col("user_id"))
      .distinct()
      .localCheckpoint()
    val spine = ud.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val dau = ud.groupBy("event_type", "day")
      .agg(countDistinct("user_id").as("dau"))
    val wau = spine.as("s")
      .join(ud.as("u"),
        col("s.event_type") === col("u.event_type") &&
          col("u.day").between(col("s.day") - 6, col("s.day")))
      .groupBy(col("s.event_type").as("event_type"), col("s.day").as("day"))
      .agg(countDistinct("u.user_id").as("wau"))
    spine.join(dau, Seq("event_type", "day"), "left")
      .join(wau, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .withColumn("stickiness", expr(
        "case when wau = 0 then cast(0.0 as double) else " +
          "cast((2 * dau * 1000000 + wau) div (2 * wau) as double) / 1e6 end"))
      .orderBy("event_type", "day")
  }

  private val eventsStickinessOracle =
    """WITH ud AS MATERIALIZED (
      |  SELECT DISTINCT event_type,
      |    CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day, user_id
      |  FROM events),
      |spine AS (
      |  SELECT event_type, unnest(generate_series(MIN(day), MAX(day))) AS day
      |  FROM ud GROUP BY event_type),
      |dau AS (
      |  SELECT event_type, day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM ud GROUP BY 1, 2),
      |wau AS (
      |  SELECT s.event_type, s.day,
      |    CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      |  FROM spine s JOIN ud u
      |    ON u.event_type = s.event_type
      |    AND u.day BETWEEN s.day - 6 AND s.day
      |  GROUP BY 1, 2)
      |SELECT s.event_type, s.day,
      |  COALESCE(dau.dau, 0) AS dau, COALESCE(wau.wau, 0) AS wau,
      |  CASE WHEN COALESCE(wau.wau, 0) = 0 THEN 0.0
      |    ELSE CAST((2 * COALESCE(dau.dau, 0) * 1000000 + wau.wau)
      |      // (2 * wau.wau) AS DOUBLE) / 1e6 END AS stickiness
      |FROM spine s
      |LEFT JOIN dau ON dau.event_type = s.event_type AND dau.day = s.day
      |LEFT JOIN wau ON wau.event_type = s.event_type AND wau.day = s.day
      |ORDER BY s.event_type, s.day""".stripMargin

  val queries: Map[String, Q] = Map(
    "ml_tree_depth2" -> mlTreeDepth2,
    "events_stickiness" -> eventsStickiness
  )

  val oracles: Map[String, String] = Map(
    "ml_tree_depth2" -> mlTreeDepth2Oracle,
    "events_stickiness" -> eventsStickinessOracle
  )
}
