package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 46: collinearity, bandit routing, and repeat budgeting —
  * variance-inflation factors over the lineitem numerics (the
  * feature-redundancy read), deterministic UCB1 + Beta-posterior arm
  * summaries per event type (which variant gets the next impression),
  * and Chinchilla-style epoch accounting per source (how many repeats
  * a token budget implies, flagging the >4-epoch diminishing-returns
  * zone).
  */
object Wave46 {

  private def d38(c: Column) = c.cast(DecimalType(38, 0))

  // ---- profile_vif: variance inflation over 3 numerics ---------------

  /** VIF for (quantity, extendedprice, discount): exact centi-unit
    * integer moments in ONE pass (6 sums + 3 squares), pairwise
    * correlations closed-form, and the three-variable R² identity
    * R²₁ = (r₁₂² + r₁₃² − 2·r₁₂·r₁₃·r₂₃)/(1 − r₂₃²), VIF = 1/(1−R²).
    * The "are these features redundant" read before any regression. */
  private val profileVif: Q = (s, dir) => {
    val m = Tables.load(s, dir, "lineitem")
      .select((col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("a"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("b"),
        (col("l_discount").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .agg(count(lit(1)).as("n"),
        sum("a").as("sa"), sum("b").as("sb"), sum("c").as("sc"),
        sum(d38(col("a")) * col("a")).as("saa"),
        sum(d38(col("b")) * col("b")).as("sbb"),
        sum(d38(col("c")) * col("c")).as("scc"),
        sum(d38(col("a")) * col("b")).as("sab"),
        sum(d38(col("a")) * col("c")).as("sac"),
        sum(d38(col("b")) * col("c")).as("sbc"))
    def dbl(c: String) = col(c).cast("double")
    def r(xy: String, x: String, y: String, xx: String, yy: String) =
      (dbl("n") * dbl(xy) - dbl(x) * dbl(y)) /
        sqrt((dbl("n") * dbl(xx) - dbl(x) * dbl(x)) *
          (dbl("n") * dbl(yy) - dbl(y) * dbl(y)))
    val c2 = m
      .withColumn("rab", r("sab", "sa", "sb", "saa", "sbb"))
      .withColumn("rac", r("sac", "sa", "sc", "saa", "scc"))
      .withColumn("rbc", r("sbc", "sb", "sc", "sbb", "scc"))
    def r2(r1: String, r2c: String, r3: String) =
      (col(r1) * col(r1) + col(r2c) * col(r2c) -
        col(r1) * col(r2c) * col(r3) * 2.0) /
        (lit(1.0) - col(r3) * col(r3))
    def vif(r2c: Column) = lit(1.0) / (lit(1.0) - r2c)
    def r6(c: Column) = floor(c * 1e6 + 0.5).cast("double") / 1e6
    val wide = c2.select(col("n"),
      r6(col("rab")).as("r_qty_price"), r6(col("rac")).as("r_qty_disc"),
      r6(col("rbc")).as("r_price_disc"),
      r6(vif(r2("rab", "rac", "rbc"))).as("vif_quantity"),
      r6(vif(r2("rab", "rbc", "rac"))).as("vif_price"),
      r6(vif(r2("rac", "rbc", "rab"))).as("vif_discount"))
    wide
  }

  private val profileVifOracle =
    """WITH q AS (
      |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS a,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS b,
      |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM lineitem),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
      |    CAST(SUM(c) AS BIGINT) AS sc,
      |    SUM(CAST(a AS HUGEINT) * a) AS saa, SUM(CAST(b AS HUGEINT) * b) AS sbb,
      |    SUM(CAST(c AS HUGEINT) * c) AS scc, SUM(CAST(a AS HUGEINT) * b) AS sab,
      |    SUM(CAST(a AS HUGEINT) * c) AS sac, SUM(CAST(b AS HUGEINT) * c) AS sbc
      |  FROM q),
      |r AS (
      |  SELECT n,
      |    (n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) /
      |      sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *
      |           (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS rab,
      |    (n * CAST(sac AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sc AS DOUBLE)) /
      |      sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *
      |           (n * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))) AS rac,
      |    (n * CAST(sbc AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sc AS DOUBLE)) /
      |      sqrt((n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) *
      |           (n * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))) AS rbc
      |  FROM m)
      |SELECT n,
      |  CAST(FLOOR(rab * 1e6 + 0.5) AS DOUBLE) / 1e6 AS r_qty_price,
      |  CAST(FLOOR(rac * 1e6 + 0.5) AS DOUBLE) / 1e6 AS r_qty_disc,
      |  CAST(FLOOR(rbc * 1e6 + 0.5) AS DOUBLE) / 1e6 AS r_price_disc,
      |  CAST(FLOOR(1.0 / (1.0 - (rab*rab + rac*rac - rab*rac*rbc*2.0) / (1.0 - rbc*rbc))
      |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS vif_quantity,
      |  CAST(FLOOR(1.0 / (1.0 - (rab*rab + rbc*rbc - rab*rbc*rac*2.0) / (1.0 - rac*rac))
      |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS vif_price,
      |  CAST(FLOOR(1.0 / (1.0 - (rac*rac + rbc*rbc - rac*rbc*rab*2.0) / (1.0 - rab*rab))
      |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS vif_discount
      |FROM r""".stripMargin

  // ---- events_bandit: UCB1 + Beta posterior per arm ------------------

  /** Treats each event type as a bandit arm with reward = (value above
    * the global micro-exact mean): reports the Beta(1+succ, 1+fail)
    * posterior and the UCB1 index mean + √(2·ln N / n) — the
    * deterministic "which arm gets the next pull" ranking. One
    * type-keyed aggregate + one broadcast global. */
  private val eventsBandit: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(col("event_type"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
    val glob = ev.agg(count(lit(1)).as("nn"), sum("v").as("sv"))
    def dbl(c: String) = col(c).cast("double")
    def r6(c: Column) = floor(c * 1e6 + 0.5).cast("double") / 1e6
    ev.crossJoin(broadcast(glob))
      .select(col("event_type"),
        when(col("v").cast("double") * col("nn").cast("double") >
          col("sv").cast("double"), 1L).otherwise(0L).as("succ"),
        col("nn"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("succ").as("succ"), max("nn").as("nn"))
      .select(col("event_type"), col("n"), col("succ"),
        (col("succ") + 1L).as("post_alpha"),
        (col("n") - col("succ") + 1L).as("post_beta"),
        r6((col("succ") + 1L).cast("double") / (col("n") + 2L).cast("double"))
          .as("post_mean"),
        r6(dbl("succ") / dbl("n") +
          sqrt(log(dbl("nn")) * 2.0 / dbl("n"))).as("ucb"))
      .orderBy("event_type")
  }

  private val eventsBanditOracle =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(SUM(v) AS BIGINT) AS sv FROM ev),
      |s AS (
      |  SELECT event_type,
      |    CASE WHEN CAST(v AS DOUBLE) * CAST(nn AS DOUBLE) > CAST(sv AS DOUBLE)
      |         THEN CAST(1 AS BIGINT) ELSE 0 END AS succ, nn
      |  FROM ev, g),
      |c AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(succ) AS BIGINT) AS succ, MAX(nn) AS nn
      |  FROM s GROUP BY 1)
      |SELECT event_type, n, succ,
      |  succ + 1 AS post_alpha, n - succ + 1 AS post_beta,
      |  CAST(FLOOR(CAST(succ + 1 AS DOUBLE) / (n + 2) * 1e6 + 0.5) AS DOUBLE) / 1e6
      |    AS post_mean,
      |  CAST(FLOOR((CAST(succ AS DOUBLE) / n + sqrt(ln(CAST(nn AS DOUBLE)) * 2.0 / n))
      |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS ucb
      |FROM c ORDER BY event_type""".stripMargin

  // ---- corpus_epochs: repeat accounting under a token budget ---------

  /** Epoch accounting: a training budget of 2× the corpus token count,
    * split uniformly over sources, implies budget/k/tokens_src epochs
    * of each source. Sources needing > 4 epochs are flagged (the
    * multi-epoch diminishing-returns regime); effective tokens cap at
    * 4 passes. One source aggregate + a broadcast scalar. */
  private val corpusEpochs: Q = (s, dir) => {
    val toks = Tables.load(s, dir, "documents")
      .groupBy("source")
      .agg(sum(size(LlmPipeline.tokens(col("text"))).cast("bigint")).as("tok"))
    val tot = toks.agg(sum("tok").as("tot"), count(lit(1)).as("k"))
    def dbl(c: String) = col(c).cast("double")
    def r6(c: Column) = floor(c * 1e6 + 0.5).cast("double") / 1e6
    toks.crossJoin(broadcast(tot))
      .withColumn("epochs", dbl("tot") * 2.0 / dbl("k") / dbl("tok"))
      .select(col("source"), col("tok"),
        r6(col("epochs")).as("epochs"),
        (col("epochs") > 4.0).as("over_replayed"),
        floor(least(col("epochs"), lit(4.0)) * dbl("tok")).cast("long")
          .as("effective_tokens"))
      .orderBy("source")
  }

  private val corpusEpochsOracle =
    s"""WITH toks AS (
       |  SELECT source, CAST(SUM(len(${LlmPipeline.duckTokens})) AS BIGINT) AS tok
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS tot,
       |  CAST(count(*) AS BIGINT) AS k FROM toks),
       |e AS (
       |  SELECT source, tok,
       |    CAST(tot AS DOUBLE) * 2.0 / k / tok AS epochs
       |  FROM toks, tot)
       |SELECT source, tok,
       |  CAST(FLOOR(epochs * 1e6 + 0.5) AS DOUBLE) / 1e6 AS epochs,
       |  epochs > 4.0 AS over_replayed,
       |  CAST(FLOOR(least(epochs, 4.0) * tok) AS BIGINT) AS effective_tokens
       |FROM e ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "profile_vif" -> profileVif,
    "events_bandit" -> eventsBandit,
    "corpus_epochs" -> corpusEpochs
  )

  val oracles: Map[String, String] = Map(
    "profile_vif" -> profileVifOracle,
    "events_bandit" -> eventsBanditOracle,
    "corpus_epochs" -> corpusEpochsOracle
  )
}
