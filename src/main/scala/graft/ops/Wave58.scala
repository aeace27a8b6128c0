package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 58: corpus novelty + optimal binning — incremental
  * n-gram novelty by corpus position (how fast does new text stop
  * contributing unseen trigrams — the curation read behind "is more
  * of this source worth ingesting"), and the V-optimal histogram
  * (Jagadish et al., VLDB'98) computed as dynamic programming over
  * iterated joins on the model-sized value table.
  */
object Wave58 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def toks(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), x => x =!= "")
  private val duckToks =
    "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x->x<>'')"

  // ---- text_novelty: incremental trigram novelty by position ----------

  /** Trigram novelty by corpus-position decile: a doc's distinct word
    * trigrams are NOVEL if no earlier doc (smaller doc_id — the
    * ingestion order) contains them; the report buckets docs into ten
    * equal doc_id-range deciles and gives the novel-trigram share per
    * decile — the diminishing-returns curve of continued ingestion.
    * First occurrence is ONE min-aggregate over the trigram key (never
    * a per-pair comparison); the decile bound is two scalar aggregates
    * broadcast. Shares are micro rationals, engine-exact. */
  private val textNovelty: Q = (s, dir) => {
    val tri = t(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', slice(tk, i + 1, 3)))"))
          .as("g"))
      .filter(length(col("g")) > 0)
      .distinct()
      .localCheckpoint()
    // first-seen flag via a g-partitioned window min: ONE exchange on g
    // instead of the groupBy + data-sized equi-join back (two sorts +
    // a merge) the r9 form paid for the same per-row comparison
    // (guide §2.4); min over the unordered partition = the group's
    // first_doc, so `novel` is bit-identical
    val flagged = tri
      .withColumn("first_doc",
        min("doc_id").over(Window.partitionBy("g")))
      .select(col("doc_id"),
        (col("first_doc") === col("doc_id")).cast("long").as("novel"))
    val bounds = t(s, dir, "documents")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    flagged.crossJoin(broadcast(bounds))
      .withColumn("decile",
        least(lit(9L), expr("(doc_id - lo) * 10 div (hi - lo + 1)")))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_trigrams"), sum("novel").as("n_novel"))
      .withColumn("novel_micro",
        expr("(2 * n_novel * 1000000 + n_trigrams) div (2 * n_trigrams)"))
      .select(col("decile"), col("n_trigrams"), col("n_novel"),
        (col("novel_micro").cast("double") / 1e6).as("novel_share"))
      .orderBy("decile")
  }

  private val textNoveltyOracle =
    s"""WITH d AS (SELECT doc_id, $duckToks AS tk FROM documents),
       |tri AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, g FROM (
       |    SELECT doc_id, array_to_string(tk[i + 1 : i + 3], ' ') AS g
       |    FROM (SELECT doc_id, tk, unnest(generate_series(0, len(tk) - 3)) AS i
       |          FROM d WHERE len(tk) >= 3))
       |  WHERE length(g) > 0),
       |fs AS (SELECT g, MIN(doc_id) AS first_doc FROM tri GROUP BY 1),
       |fl AS (
       |  SELECT t.doc_id, CAST(t.doc_id = fs.first_doc AS BIGINT) AS novel
       |  FROM tri t JOIN fs USING (g)),
       |b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
       |g AS (
       |  SELECT least(9, (doc_id - lo) * 10 // (hi - lo + 1)) AS decile,
       |    CAST(count(*) AS BIGINT) AS n_trigrams,
       |    CAST(SUM(novel) AS BIGINT) AS n_novel
       |  FROM fl, b GROUP BY 1)
       |SELECT decile, n_trigrams, n_novel,
       |  CAST((2 * n_novel * 1000000 + n_trigrams) // (2 * n_trigrams) AS DOUBLE)
       |    / 1e6 AS novel_share
       |FROM g ORDER BY decile""".stripMargin

  // ---- profile_voptimal: V-optimal histogram by DP supersteps ---------

  private val VoptMaxK = 8

  /** V-optimal histogram over l_quantity: for each bucket budget
    * k = 1..8, the minimal total within-bucket SSE achievable by ANY
    * k-bucket partition of the value domain — the optimal-binning
    * elbow curve equi-width/equi-depth histograms approximate. One
    * data-sized pass reduces to the value-level (v, count) table
    * (l_quantity has a bounded domain — the operator is for bounded-
    * domain columns; guard at 4096 values); prefix moments come from a
    * model-sized triangular join, segment SSE is the exact rational
    * (n·s2 − s1²)/n rounded half-up to an integer (cent² units), and the Bellman recursion
    * dp_k(j) = min_i dp_{k-1}(i) + sse(i+1..j) runs as K-1 iterated
    * joins over the value table — dynamic programming expressed
    * relationally, the plan Catalyst optimizes like any other join.
    * The oracle replays the identical integer DP as materialized CTE
    * steps. */
  private val profileVoptimal: Q = (s, dir) => {
    val vc = t(s, dir, "lineitem")
      .groupBy(expr("cast(round(l_quantity * 100) as long)").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // guard: the DP is quadratic in the domain size — refuse unbounded
    val nVals = vc.count()
    require(nVals <= 4096,
      s"profile_voptimal: domain has $nVals values; bound it (<= 4096) first")
    // inclusive prefix moments by triangular join (model-sized)
    val pre = vc.as("a").join(vc.as("b"), col("b.v") <= col("a.v"))
      .groupBy(col("a.v").as("v"))
      .agg(sum(col("b.c")).as("s0"),
        sum(col("b.c") * col("b.v")).as("s1"),
        sum(col("b.c") * col("b.v") * col("b.v")).as("s2"))
      .localCheckpoint()
    // segment cost (lo, hi]: exact rational SSE — the full-prefix row
    // (lov = MinValue) exists for EVERY hi (it is dp_1), plus all
    // bounded segments from the triangular pair join
    val segPrefix = pre.select(col("v").as("hiv"),
      lit(Long.MinValue).as("lov"),
      col("s0").as("n"), col("s1").as("m1"), col("s2").as("m2"))
    val segPairs = pre.as("hi").join(
        pre.select(col("v").as("lov"), col("s0").as("p0"), col("s1").as("p1"),
          col("s2").as("p2")), col("lov") < col("v"))
      .select(col("v").as("hiv"), col("lov"),
        (col("s0") - col("p0")).as("n"),
        (col("s1") - col("p1")).as("m1"),
        (col("s2") - col("p2")).as("m2"))
    // Every data-sized (and triangular) pass is pinned under the session
    // conf: vc and pre above, and the ≤ nVals²-row seg table as the loop
    // input here. The Bellman loop is fixed-shape over seg, so it runs in
    // the superstep scope sized by the seg count (7 rounds × join + 2
    // aggregates + checkpoint each otherwise pay session-width exchanges
    // and AQE replanning for a model-sized frame).
    val outPinned = graft.engine.ConfScope.superstepOver(
        segPrefix.union(segPairs)
          .withColumn("sse_q", expr(
            "(2 * (cast(m2 as decimal(38,0)) * n - cast(m1 as decimal(38,0)) * m1) + n) div (2 * n)")
            .cast("long"))
          .select("hiv", "lov", "sse_q")) { (seg, _, _) =>
      // dp_1 = whole prefix as one bucket
      var dp = seg.filter(col("lov") === Long.MinValue)
        .select(col("hiv").as("j"), col("sse_q").as("cost"))
        .localCheckpoint()
      val last = vc.agg(max("v").as("j"))
      var out = dp.join(broadcast(last), "j")
        .select(lit(1).as("k"), col("cost"))
      for (k <- 2 to VoptMaxK) {
        val prev = dp.select(col("j").as("i"), col("cost").as("pc"))
        dp = seg.filter(col("lov") =!= Long.MinValue)
          .join(prev, col("i") === col("lov"))
          .groupBy(col("hiv").as("j"))
          .agg(min(col("pc") + col("sse_q")).as("cost"))
          .union(dp.select(col("j"), col("cost")))
          .groupBy("j").agg(min("cost").as("cost"))
          .localCheckpoint()
        out = out.union(dp.join(broadcast(last), "j")
          .select(lit(k).as("k"), col("cost")))
      }
      out.localCheckpoint()
    }
    outPinned.select(col("k"), col("cost").cast("double").as("sse"))
      .orderBy("k")
  }

  private val profileVoptimalOracle: String = {
    val steps = (2 to VoptMaxK).map { k =>
      s"""dp$k AS MATERIALIZED (
         |  SELECT j, MIN(cost) AS cost FROM (
         |    SELECT seg.hiv AS j, p.cost + seg.sse_q AS cost
         |    FROM seg JOIN dp${k - 1} p ON p.j = seg.lov
         |    UNION ALL SELECT j, cost FROM dp${k - 1})
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val outs = (1 to VoptMaxK).map { k =>
      s"SELECT $k AS k, CAST(cost AS DOUBLE) AS sse FROM dp$k, lastv WHERE j = lv"
    }.mkString("\nUNION ALL ")
    s"""WITH vc AS MATERIALIZED (
       |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS v,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1),
       |pre AS MATERIALIZED (
       |  SELECT a.v, CAST(SUM(b.c) AS BIGINT) AS s0,
       |    CAST(SUM(b.c * b.v) AS BIGINT) AS s1,
       |    CAST(SUM(b.c * b.v * b.v) AS BIGINT) AS s2
       |  FROM vc a JOIN vc b ON b.v <= a.v GROUP BY 1),
       |seg AS MATERIALIZED (
       |  SELECT v AS hiv, ${Long.MinValue} AS lov,
       |    CAST((2 * (s2 * s0 - s1 * s1) + s0) // (2 * s0) AS BIGINT) AS sse_q
       |  FROM pre
       |  UNION ALL
       |  SELECT hi.v AS hiv, lo.v AS lov,
       |    CAST((2 * ((hi.s2 - lo.s2) * (hi.s0 - lo.s0)
       |        - (hi.s1 - lo.s1) * (hi.s1 - lo.s1))
       |      + (hi.s0 - lo.s0)) // (2 * (hi.s0 - lo.s0))
       |      AS BIGINT) AS sse_q
       |  FROM pre hi JOIN pre lo ON lo.v < hi.v),
       |lastv AS (SELECT MAX(v) AS lv FROM vc),
       |dp1 AS MATERIALIZED (
       |  SELECT hiv AS j, sse_q AS cost FROM seg
       |  WHERE lov = ${Long.MinValue}),
       |$steps
       |SELECT k, sse FROM ($outs) ORDER BY k""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "text_novelty" -> textNovelty,
    "profile_voptimal" -> profileVoptimal
  )

  val oracles: Map[String, String] = Map(
    "text_novelty" -> textNoveltyOracle,
    "profile_voptimal" -> profileVoptimalOracle
  )
}
