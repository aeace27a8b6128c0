package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 35: model-evaluation and robustness operators a
  * curation pipeline reads before shipping a classifier or a filter —
  * distributed ROC AUC (rank-sum form), a calibration (reliability)
  * table, asymmetric containment dedup (doc-inside-doc near-dups that
  * symmetric Jaccard misses), and the Welch t read-out for value
  * metrics whose variances differ across arms.
  */
object Wave35 {

  /** The langid-as-ranker score both eval queries grade: the English
    * stopword hit ratio over distinct tokens — an integer/integer
    * division, so both engines derive bit-identical doubles and ties
    * group identically. Empty-token docs are excluded (no ratio). */
  private val enStop = Seq("the", "and", "of", "to", "in", "is", "a", "that")

  private def scored(s: SparkSession, dir: String): DataFrame = {
    val toks = array_distinct(LlmPipeline.tokens(col("text")))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), toks.as("tk"))
      .withColumn("ntok", size(col("tk")).cast("bigint"))
      .filter(col("ntok") > 0)
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"),
        (size(array_intersect(col("tk"), typedLit(enStop))).cast("double") /
          col("ntok").cast("double")).as("score"))
  }

  private val duckScored =
    s"""SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |    CAST(${LlmPipeline.duckHits("en")} AS DOUBLE)
       |      / len(list_distinct(${LlmPipeline.duckTokens})) AS score
       |  FROM documents
       |  WHERE len(list_distinct(${LlmPipeline.duckTokens})) > 0""".stripMargin

  // ---- eval_auc: distributed ROC AUC via the rank-sum identity -------

  /** ROC AUC of the stopword-ratio score at predicting lang = 'en',
    * by the Mann-Whitney identity AUC = P(s+ > s-) + P(s+ = s-)/2:
    * group docs by exact score (one hash aggregate), prefix-sum the
    * negative counts in score order through Ranks.perGroupPrefixSum
    * (range partition + broadcast offsets — no single-partition
    * window even when the score grid is large), then one scalar
    * aggregate folds Σ pos_s · (2·neg_below + neg_s) — kept in exact
    * integers; the only float op is the final division. The
    * sort-free form every distributed AUC job uses: nothing ever
    * ranks individual rows, only distinct score values. */
  private val evalAuc: Q = (s, dir) => {
    val g = scored(s, dir).groupBy("score")
      .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("n"))
    val cum = Ranks.perGroupPrefixSum(g, Seq.empty, Seq(col("score").asc),
      col("n"), "cumneg", ConfScope.shufflePartitions(s))
    cum.agg(sum("p").as("n_pos"), sum("n").as("n_neg"),
        sum(col("p") * (lit(2L) * (col("cumneg") - col("n")) + col("n"))).as("num2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("num2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  private val evalAucOracle =
    s"""WITH scored AS (
       |  $duckScored),
       |g AS (
       |  SELECT score, CAST(SUM(pos) AS BIGINT) AS p,
       |    CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n
       |  FROM scored GROUP BY score),
       |c AS (
       |  SELECT *, SUM(n) OVER (ORDER BY score
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumneg
       |  FROM g)
       |SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n_neg,
       |  round(CAST(SUM(p * (2 * (cumneg - n) + n)) AS DOUBLE)
       |    / (2.0 * SUM(p) * SUM(n)), 6) AS auc
       |FROM c""".stripMargin

  // ---- eval_calibration: reliability table for the same score --------

  /** Calibration (reliability) table: the score bucketed into ten
    * equal-width bins, per bin the doc count, positive count, the
    * empirical positive rate, and the exact score range covered — the
    * "is 0.8 really 80%" read every score-thresholding filter needs
    * before its cut-off is trusted. One hash aggregate; every output
    * is exact integer arithmetic or an order statistic (min/max), so
    * no float summation order can differ between engines. */
  private val evalCalibration: Q = (s, dir) =>
    scored(s, dir)
      .withColumn("bin", least(floor(col("score") * 10), lit(9L)).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
        round(min("score"), 6).as("lo"), round(max("score"), 6).as("hi"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"),
        col("lo"), col("hi"))
      .orderBy("bin")

  private val evalCalibrationOracle =
    s"""WITH scored AS (
       |  $duckScored),
       |b AS (
       |  SELECT CAST(LEAST(FLOOR(score * 10), 9) AS INT) AS bin, pos, score
       |  FROM scored)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(pos) AS BIGINT) AS n_pos,
       |  round(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
       |  round(MIN(score), 6) AS lo, round(MAX(score), 6) AS hi
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  // ---- dedup_containment: asymmetric doc-inside-doc near-dups --------

  /** Containment dedup: pairs where the SMALLER token set is >= 80%
    * inside the union — |A∩B| / min(|A|,|B|) >= 0.8 — the asymmetric
    * criterion that catches a short doc quoted inside a long one,
    * which symmetric Jaccard scores near |A|/|B| and misses. No
    * size-ratio pruning — containment deliberately pairs very
    * different sizes, which is the point.
    *
    * Candidate stage is the Wave54 PPJoin prefix filter adapted to
    * the asymmetric threshold: tokens rank by ascending global
    * document frequency ((df, w) — a total order), and the SMALLER
    * doc of a qualifying pair must share one of its first
    * n − ⌈0.8n⌉ + 1 rarest tokens with the larger doc (containment
    * ≥ 0.8 leaves < 0.2n + 1 tokens of A outside B, so any
    * ⌊0.2n⌋ + 1 of A's tokens hit B). Candidates therefore come from
    * prefix(smaller) ⋈ all-tokens(larger) inside the (lang, source)
    * block — exact, and bounded per token by the df of PREFIX tokens,
    * which ascending-df ranking keeps small: the r06 form joined the
    * full token stream to itself, so one common token inside a block
    * went quadratic at corpus scale. The confirm stage recounts the
    * intersection over candidate pairs only (equi-join on (pair, w),
    * so only intersection tokens materialize), with exact integer
    * arithmetic (inter·5 >= 4·min). */
  private val dedupContainment: Q = (s, dir) => Codegen.materialized(s) {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(LlmPipeline.tokens(col("text"))).as("toks"))
    val tok = d.select(col("doc_id"), col("lang"), col("source"),
        size(col("toks")).cast("bigint").as("sz"), explode(col("toks")).as("w"))
      .localCheckpoint()
    val sizes = d.select(col("doc_id"), size(col("toks")).cast("bigint").as("sz"))
    val dfRank = tok.groupBy("w").agg(count(lit(1)).as("df"))
    // prefix length for tau = 0.8: n - ceil(4n/5) + 1
    val prefix = tok.join(dfRank, "w")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("w"))))
      .filter(col("rn") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("lang"), col("source"), col("sz"), col("w"))
    val cand = prefix.as("a").join(tok.as("b"),
        col("a.w") === col("b.w") && col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") &&
              col("a.doc_id") < col("b.doc_id"))))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("i"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("j"))
      .distinct()
    val inter = cand
      .join(tok.select(col("doc_id").as("i"), col("w")), "i")
      .join(tok.select(col("doc_id").as("j"), col("w")), Seq("j", "w"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "i").withColumnRenamed("sz", "szi"), "i")
      .join(sizes.withColumnRenamed("doc_id", "j").withColumnRenamed("sz", "szj"), "j")
      .filter(col("inter") * 5 >= least(col("szi"), col("szj")) * 4)
      .select(col("i"), col("j"), col("inter"),
        least(col("szi"), col("szj")).as("min_sz"),
        round(col("inter").cast("double") /
          least(col("szi"), col("szj")).cast("double"), 6).as("cont"))
      .orderBy("i", "j")
  }

  private val dedupContainmentOracle =
    s"""WITH d AS (
       |  SELECT doc_id, lang, source,
       |    list_distinct(${LlmPipeline.duckTokens}) AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, lang, source, unnest(toks) AS w FROM d),
       |sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS sz FROM d),
       |inter AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM tok a JOIN tok b
       |    ON a.w = b.w AND a.lang = b.lang AND a.source = b.source
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i, j, inter, LEAST(si.sz, sj.sz) AS min_sz,
       |  round(CAST(inter AS DOUBLE) / LEAST(si.sz, sj.sz), 6) AS cont
       |FROM inter
       |JOIN sizes si ON si.doc_id = i
       |JOIN sizes sj ON sj.doc_id = j
       |WHERE inter * 5 >= LEAST(si.sz, sj.sz) * 4
       |ORDER BY i, j""".stripMargin

  // ---- events_ttest_welch: unequal-variance mean comparison ----------

  /** Welch's t-test on per-event purchase value between the two md5
    * hash arms — the read-out for CONTINUOUS metrics where the
    * two-proportion z (events_ab_test) does not apply and variances
    * need not match. Moments are exact: value scales to decimal
    * micro-units, v² to decimal(38,12); each arm folds (n, Σv, Σv²)
    * in one aggregate, and mean/variance/t/df are a single double
    * expression over those exact sums (both engines IEEE-evaluate the
    * identical inputs). df is Welch–Satterthwaite. On the A/A hash
    * split the test should NOT fire — that property is the spec. */
  private val eventsTtestWelch: Q = (s, dir) => {
    val arm = pmod(Hashing.md5Long(
      concat(col("user_id").cast("string"), lit(":tt")).cast("binary")), lit(2))
    val v = col("value").cast("decimal(18,6)")
    val ev = Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(arm.as("arm"), v.as("v"), (v * v).cast("decimal(38,12)").as("v2"))
    val arms = ev.groupBy("arm").agg(
      count(lit(1)).as("n"), sum("v").as("sv"), sum("v2").as("sv2"))
    val a = arms.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("sv").as("sv_a"), col("sv2").as("sv2_a"))
    val b = arms.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("sv").as("sv_b"), col("sv2").as("sv2_b"))
    def mean(sv: Column, n: Column): Column = sv.cast("double") / n.cast("double")
    def vr(sv: Column, sv2: Column, n: Column): Column =
      (sv2.cast("double") - sv.cast("double") * sv.cast("double") / n.cast("double")) /
        (n.cast("double") - 1.0)
    a.crossJoin(b)
      .withColumn("m_a", mean(col("sv_a"), col("n_a")))
      .withColumn("m_b", mean(col("sv_b"), col("n_b")))
      .withColumn("se2_a", vr(col("sv_a"), col("sv2_a"), col("n_a")) / col("n_a").cast("double"))
      .withColumn("se2_b", vr(col("sv_b"), col("sv2_b"), col("n_b")) / col("n_b").cast("double"))
      .withColumn("tt", (col("m_a") - col("m_b")) / sqrt(col("se2_a") + col("se2_b")))
      .withColumn("df",
        pow(col("se2_a") + col("se2_b"), 2) /
          (pow(col("se2_a"), 2) / (col("n_a").cast("double") - 1.0) +
            pow(col("se2_b"), 2) / (col("n_b").cast("double") - 1.0)))
      .select(col("n_a"), col("n_b"),
        round(col("m_a"), 6).as("mean_a"), round(col("m_b"), 6).as("mean_b"),
        round(col("tt"), 6).as("t"), round(col("df"), 2).as("df"),
        (abs(col("tt")) > 1.96).as("significant"))
  }

  private val eventsTtestWelchOracle =
    """WITH ev AS (
      |  SELECT CAST(concat('0x', substr(md5(user_id || ':tt'), 1, 15)) AS BIGINT) % 2 AS arm,
      |    CAST(value AS DECIMAL(18,6)) AS v,
      |    CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
      |      AS DECIMAL(38,12)) AS v2
      |  FROM events WHERE event_type = 'purchase'),
      |arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
      |         SUM(v) AS sv, SUM(v2) AS sv2 FROM ev GROUP BY 1),
      |ab AS (
      |  SELECT
      |    (SELECT n FROM arms WHERE arm = 0) AS n_a,
      |    (SELECT sv FROM arms WHERE arm = 0) AS sv_a,
      |    (SELECT sv2 FROM arms WHERE arm = 0) AS sv2_a,
      |    (SELECT n FROM arms WHERE arm = 1) AS n_b,
      |    (SELECT sv FROM arms WHERE arm = 1) AS sv_b,
      |    (SELECT sv2 FROM arms WHERE arm = 1) AS sv2_b),
      |calc AS (
      |  SELECT *,
      |    CAST(sv_a AS DOUBLE) / n_a AS m_a,
      |    CAST(sv_b AS DOUBLE) / n_b AS m_b,
      |    (CAST(sv2_a AS DOUBLE) - CAST(sv_a AS DOUBLE) * CAST(sv_a AS DOUBLE) / n_a)
      |      / (n_a - 1.0) / n_a AS se2_a,
      |    (CAST(sv2_b AS DOUBLE) - CAST(sv_b AS DOUBLE) * CAST(sv_b AS DOUBLE) / n_b)
      |      / (n_b - 1.0) / n_b AS se2_b
      |  FROM ab)
      |SELECT n_a, n_b, round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
      |  round((m_a - m_b) / sqrt(se2_a + se2_b), 6) AS t,
      |  round(pow(se2_a + se2_b, 2) /
      |    (pow(se2_a, 2) / (n_a - 1.0) + pow(se2_b, 2) / (n_b - 1.0)), 2) AS df,
      |  ABS((m_a - m_b) / sqrt(se2_a + se2_b)) > 1.96 AS significant
      |FROM calc""".stripMargin

  val queries: Map[String, Q] = Map(
    "eval_auc" -> evalAuc,
    "eval_calibration" -> evalCalibration,
    "dedup_containment" -> dedupContainment,
    "events_ttest_welch" -> eventsTtestWelch
  )

  val oracles: Map[String, String] = Map(
    "eval_auc" -> evalAucOracle,
    "eval_calibration" -> evalCalibrationOracle,
    "dedup_containment" -> dedupContainmentOracle,
    "events_ttest_welch" -> eventsTtestWelchOracle
  )
}
