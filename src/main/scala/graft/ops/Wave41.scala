package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 41: modern experimentation + profiling reads — the
  * CUPED variance-reduced A/B delta (pre-period covariate adjustment,
  * the standard trick that makes small effects detectable without more
  * traffic) and subgroup deviation discovery (which (lang, source)
  * cells pull the corpus quality score, with z-scores against the
  * global mean).
  */
object Wave41 {

  // ---- events_cuped: variance-reduced experiment read-out ------------

  /** CUPED: per user, pre-period and post-period value sums (split at
    * the mid-point day of the observed range — a broadcast scalar),
    * arms from the portable md5 split. θ = cov(pre, post)/var(pre) on
    * the POOLED users, and because the adjustment is linear, both the
    * adjusted per-arm means and the adjusted variance come straight
    * from exact pooled moments — no second per-row pass, no float
    * sums: every moment (Σpre, Σpost, Σpre², Σpost², Σpre·post) is an
    * exact DECIMAL(38,0) of micro-units. Reports the raw and CUPED
    * deltas and the variance-reduction share (= ρ², the whole point
    * of the method). */
  private val eventsCuped: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("user_id"),
      floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
    val split = ev.agg(
      ((min("day") + max("day")) / 2).cast("long").as("mid"))
    val arm = pmod(Hashing.md5Long(
      concat(col("user_id").cast("string"), lit(":ab")).cast("binary")), lit(2))
    val users = ev.crossJoin(broadcast(split))
      .groupBy("user_id")
      .agg(sum(when(col("day") <= col("mid"), col("v")).otherwise(0L)).as("pre"),
        sum(when(col("day") > col("mid"), col("v")).otherwise(0L)).as("post"))
      .select(col("user_id"), arm.as("arm"), col("pre"), col("post"))
    def d38(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val pooled = users.agg(
      count(lit(1)).as("n"),
      sum("pre").as("sp"), sum("post").as("so"),
      sum(d38(col("pre")) * col("pre")).as("spp"),
      sum(d38(col("post")) * col("post")).as("soo"),
      sum(d38(col("pre")) * col("post")).as("spo"))
    val arms = users.groupBy("arm").agg(
      count(lit(1)).as("na"), sum("pre").as("spa"), sum("post").as("soa"))
    val a = arms.filter(col("arm") === 0)
      .select(col("na").as("n_a"), col("spa").as("sp_a"), col("soa").as("so_a"))
    val b = arms.filter(col("arm") === 1)
      .select(col("na").as("n_b"), col("spa").as("sp_b"), col("soa").as("so_b"))
    def dbl(c: String) = col(c).cast("double")
    a.crossJoin(b).crossJoin(broadcast(pooled))
      .withColumn("mp", dbl("sp") / dbl("n"))
      .withColumn("cov",
        (dbl("spo") - dbl("sp") * dbl("so") / dbl("n")) / (dbl("n") - 1.0))
      .withColumn("varp",
        (dbl("spp") - dbl("sp") * dbl("sp") / dbl("n")) / (dbl("n") - 1.0))
      .withColumn("varo",
        (dbl("soo") - dbl("so") * dbl("so") / dbl("n")) / (dbl("n") - 1.0))
      .withColumn("theta", col("cov") / col("varp"))
      .withColumn("raw_delta",
        (dbl("so_a") / dbl("n_a") - dbl("so_b") / dbl("n_b")) / 1e6)
      .withColumn("cuped_delta",
        (dbl("so_a") / dbl("n_a") - col("theta") * (dbl("sp_a") / dbl("n_a") - col("mp"))
          - (dbl("so_b") / dbl("n_b") - col("theta") * (dbl("sp_b") / dbl("n_b") - col("mp"))))
          / 1e6)
      .withColumn("var_reduction",
        col("cov") * col("cov") / (col("varp") * col("varo")))
      .select(col("n_a"), col("n_b"),
        round(col("raw_delta"), 6).as("raw_delta"),
        round(col("cuped_delta"), 6).as("cuped_delta"),
        round(col("theta"), 6).as("theta"),
        round(col("var_reduction"), 6).as("var_reduction"))
  }

  private val eventsCupedOracle =
    """WITH ev AS (
      |  SELECT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |sp AS (SELECT CAST((MIN(day) + MAX(day)) // 2 AS BIGINT) AS mid FROM ev),
      |users AS (
      |  SELECT user_id,
      |    CAST(concat('0x', substr(md5(user_id || ':ab'), 1, 15)) AS BIGINT) % 2 AS arm,
      |    CAST(SUM(CASE WHEN day <= mid THEN v ELSE 0 END) AS BIGINT) AS pre,
      |    CAST(SUM(CASE WHEN day > mid THEN v ELSE 0 END) AS BIGINT) AS post
      |  FROM ev, sp GROUP BY 1, 2),
      |pooled AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(pre) AS BIGINT) AS sp, CAST(SUM(post) AS BIGINT) AS so,
      |    SUM(CAST(pre AS HUGEINT) * pre) AS spp,
      |    SUM(CAST(post AS HUGEINT) * post) AS soo,
      |    SUM(CAST(pre AS HUGEINT) * post) AS spo
      |  FROM users),
      |arms AS (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS na,
      |    CAST(SUM(pre) AS BIGINT) AS spa, CAST(SUM(post) AS BIGINT) AS soa
      |  FROM users GROUP BY 1),
      |ab AS (
      |  SELECT
      |    (SELECT na FROM arms WHERE arm = 0) AS n_a,
      |    (SELECT spa FROM arms WHERE arm = 0) AS sp_a,
      |    (SELECT soa FROM arms WHERE arm = 0) AS so_a,
      |    (SELECT na FROM arms WHERE arm = 1) AS n_b,
      |    (SELECT spa FROM arms WHERE arm = 1) AS sp_b,
      |    (SELECT soa FROM arms WHERE arm = 1) AS so_b),
      |calc AS (
      |  SELECT *,
      |    CAST(sp AS DOUBLE) / n AS mp,
      |    (CAST(spo AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(so AS DOUBLE) / n) / (n - 1.0) AS cov,
      |    (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n) / (n - 1.0) AS varp,
      |    (CAST(soo AS DOUBLE) - CAST(so AS DOUBLE) * CAST(so AS DOUBLE) / n) / (n - 1.0) AS varo
      |  FROM ab, pooled),
      |c2 AS (SELECT *, cov / varp AS theta FROM calc)
      |SELECT n_a, n_b,
      |  round((CAST(so_a AS DOUBLE) / n_a - CAST(so_b AS DOUBLE) / n_b) / 1e6, 6)
      |    AS raw_delta,
      |  round((CAST(so_a AS DOUBLE) / n_a - theta * (CAST(sp_a AS DOUBLE) / n_a - mp)
      |    - (CAST(so_b AS DOUBLE) / n_b - theta * (CAST(sp_b AS DOUBLE) / n_b - mp))) / 1e6, 6)
      |    AS cuped_delta,
      |  round(theta, 6) AS theta,
      |  round(cov * cov / (varp * varo), 6) AS var_reduction
      |FROM c2""".stripMargin

  // ---- profile_subgroups: deviation discovery over cells -------------

  /** Subgroup deviation: for every (lang, source) cell, the mean
    * stopword-quality score against the corpus mean, scored as
    * z = (cell − global) / (sd_global / sqrt(n_cell)) — which cells
    * pull the corpus and with what statistical weight. Per-doc scores
    * round to DECIMAL(18,6) before any sum (exact distributed
    * moments); one cell-keyed aggregate + broadcast of three global
    * scalars. The "where is the bad data coming from" read that turns
    * a global quality dip into a filter predicate. */
  private val profileSubgroups: Q = (s, dir) => {
    val toks = LlmPipeline.tokens(col("text"))
    val enStop = Seq("the", "and", "of", "to", "in", "is", "a", "that")
    val scored = Tables.load(s, dir, "documents")
      .select(col("lang"), col("source"),
        size(array_distinct(toks)).cast("bigint").as("ntok"),
        size(array_intersect(array_distinct(toks), typedLit(enStop)))
          .cast("bigint").as("hits"))
      .filter(col("ntok") > 0)
      .select(col("lang"), col("source"),
        round(col("hits").cast("double") / col("ntok").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("q"))
    val glob = scored.agg(
      count(lit(1)).as("n"), sum("q").as("sq"),
      sum((col("q") * col("q")).cast(DecimalType(38, 12))).as("sqq"))
    scored.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_cell"), sum("q").as("sq_cell"))
      .crossJoin(broadcast(glob))
      .withColumn("gmean", col("sq").cast("double") / col("n").cast("double"))
      .withColumn("gsd", sqrt(
        (col("sqq").cast("double") -
          col("sq").cast("double") * col("sq").cast("double") / col("n").cast("double"))
          / (col("n").cast("double") - 1.0)))
      .withColumn("cmean", col("sq_cell").cast("double") / col("n_cell").cast("double"))
      // exact half-up mean at 6 dp: integer arithmetic in micro-units so
      // both engines land on the same side of .5 boundaries
      .withColumn("sm", (col("sq_cell") * 1000000).cast("long"))
      .select(col("lang"), col("source"), col("n_cell"),
        (expr("(2 * sm + n_cell) div (2 * n_cell)").cast("double") / 1e6)
          .as("cell_mean"),
        round((col("cmean") - col("gmean")) /
          (col("gsd") / sqrt(col("n_cell").cast("double"))), 6).as("z"))
      .orderBy("lang", "source")
  }

  private val profileSubgroupsOracle =
    s"""WITH scored AS (
       |  SELECT lang, source,
       |    CAST(round(CAST(${LlmPipeline.duckHits("en")} AS DOUBLE)
       |      / len(list_distinct(${LlmPipeline.duckTokens})), 6) AS DECIMAL(18,6)) AS q
       |  FROM documents
       |  WHERE len(list_distinct(${LlmPipeline.duckTokens})) > 0),
       |gstats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, SUM(q) AS sq,
       |    SUM(CAST(q * q AS DECIMAL(38,12))) AS sqq
       |  FROM scored),
       |cells AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_cell,
       |    SUM(q) AS sq_cell
       |  FROM scored GROUP BY 1, 2)
       |SELECT lang, source, n_cell,
       |  CAST((2 * CAST(sq_cell * 1000000 AS BIGINT) + n_cell)
       |    // (2 * n_cell) AS DOUBLE) / 1e6 AS cell_mean,
       |  round((CAST(sq_cell AS DOUBLE) / n_cell - CAST(sq AS DOUBLE) / n)
       |    / (sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
       |        / (n - 1.0)) / sqrt(CAST(n_cell AS DOUBLE))), 6) AS z
       |FROM cells, gstats ORDER BY lang, source""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_cuped" -> eventsCuped,
    "profile_subgroups" -> profileSubgroups
  )

  val oracles: Map[String, String] = Map(
    "events_cuped" -> eventsCupedOracle,
    "profile_subgroups" -> profileSubgroupsOracle
  )
}
