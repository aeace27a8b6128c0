package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-8 wave 95: the eval/release trio a training-data platform
  * still owed — the unbiased pass@k estimator (the code-eval metric),
  * an ε-differentially-private count release via the geometric
  * mechanism (exact integer noise, no libm in either engine), and
  * RLHF preference-pair mining (chosen/rejected by score margin).
  */
object Wave95 {

  // ---- eval_pass_at_k: unbiased pass@k over md5-derived samples -------

  /** pass@k (Chen et al., "Evaluating LLMs Trained on Code", 2021):
    * per task, n = 10 samples whose correctness is a deterministic
    * salted-md5 draw against a per-task difficulty, c = #correct, and
    * the unbiased estimator pass@k = 1 − C(n−c,k)/C(n,k). The whole
    * estimator table (k × c → pass micro-units) is computed ONCE in
    * exact BigInt rationals on the driver and inlined as identical
    * literals into both engines (the Wave94 trig-constant precedent),
    * so the query is: derive c per task (one aggregate over task×10
    * exploded samples), histogram c, join the literal table. Output:
    * one row per (k, c) with the task count and the exact estimator
    * value — the full pass@k surface, not just the mean. */
  private val PassN = 10
  private val PassKs = Seq(1, 5)

  /** C(n, k) in BigInt. */
  private def choose(n: Int, k: Int): BigInt =
    if (k < 0 || k > n) BigInt(0)
    else (BigInt(1) to BigInt(k)).foldLeft(BigInt(1))((a, i) =>
      a * (n - i.toInt + 1) / i)

  /** (k, c) → pass@k in micro-units, half-up. */
  private lazy val passTable: Seq[(Int, Int, Long)] =
    for (k <- PassKs; c <- 0 to PassN) yield {
      val num = choose(PassN - c, k)
      val den = choose(PassN, k)
      val failMicro = (2 * num * 1000000 + den) / (2 * den)
      (k, c, (1000000 - failMicro).toLong)
    }

  private val evalPassAtK: Q = (s, dir) => {
    import s.implicits._
    val correct = Hashing.md5Bucket(
      concat(col("doc_id").cast("string"), lit("#"), col("s").cast("string"),
        lit("#pass")).cast("binary"), 100) <
      (lit(20) + pmod(col("doc_id"), lit(7)) * 10)
    val perTask = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), lit(PassN - 1))).as("s"))
      .select(col("doc_id"), when(correct, 1L).otherwise(0L).as("ok"))
      .groupBy("doc_id").agg(sum("ok").cast("int").as("c"))
    val hist = perTask.groupBy("c").agg(count(lit(1)).as("n_tasks"))
    val table = passTable.toDF("k", "c", "pass_micro")
    hist.join(table, "c")
      .select(col("k"), col("c").cast("bigint").as("c"), col("n_tasks"),
        (col("pass_micro").cast("double") / 1e6).as("pass_at_k"))
      .orderBy("k", "c")
  }

  private val evalPassAtKOracle: String = {
    val rows = passTable.map { case (k, c, m) => s"($k, $c, $m)" }.mkString(", ")
    s"""WITH samp AS (
       |  SELECT doc_id, unnest(range(0, $PassN)) AS s FROM documents),
       |ok AS (
       |  SELECT doc_id,
       |    CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
       |        '#', CAST(s AS VARCHAR), '#pass')), 1, 15)) AS BIGINT) % 100
       |      < 20 + (doc_id % 7) * 10 THEN 1 ELSE 0 END AS ok
       |  FROM samp),
       |per_task AS (SELECT doc_id, CAST(SUM(ok) AS INT) AS c FROM ok GROUP BY 1),
       |hist AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_tasks FROM per_task GROUP BY 1),
       |pt AS (SELECT * FROM (VALUES $rows) AS t(k, c, pass_micro))
       |SELECT pt.k, CAST(hist.c AS BIGINT) AS c, hist.n_tasks,
       |  CAST(pt.pass_micro AS DOUBLE) / 1e6 AS pass_at_k
       |FROM hist JOIN pt ON pt.c = hist.c
       |ORDER BY k, c""".stripMargin
  }

  // ---- privacy_dp_geometric: ε-DP release, threshold-table sampler ----

  /** DP-SHAPED DETERMINISTIC-REPLAY release (Wave81's framing): the
    * geometric mechanism of Ghosh–Roughgarden–Sundararajan (discrete
    * Laplace, the universally-optimal count mechanism), with the noise
    * draw SEED-FIXED to md5(group key) so both engines replay the same
    * release bit-identically. The ε guarantee therefore holds for the
    * threshold table's DISTRIBUTION, not this deployed query: adjacent
    * datasets shift the released count by exactly the true-count delta
    * (the "noise" is a function of the key, not fresh randomness), so
    * this is the testable SHAPE of a DP release — a production caller
    * must swap the md5 residue for a fresh secret uniform draw per
    * release to obtain actual ε-DP. Sibling of Wave81's
    * privacy_dp_counts, which draws two-sided-geometric noise through
    * a continuous −ln(u) transform: THIS form is transcendental-free —
    * the entire sampler is an inlined integer threshold table, so no
    * libm call can ever split the engines. noisy = true + X with
    * P(X = x) ∝ α^|x|, α = e^(−ε), ε = 0.5, sensitivity 1. The noise
    * draw is a deterministic salted-md5 uniform inverse-CDF'd against
    * thresholds computed ONCE on the driver and inlined as an 81-row
    * literal (support truncated at ±40 — tail mass < 2e-9 folded into
    * the extremes), so NO transcendental function runs in either
    * engine and the release replays bit-identically. At 100 TB the
    * plan is one hash aggregate + an 81-row literal range join. */
  private val DpEps = 0.5
  private val DpB = 40
  private val DpM = 1000000000000L // uniform residue domain

  /** (k, lo, hi): noise k drawn when u ∈ [lo, hi). */
  private lazy val dpThresholds: Seq[(Int, Long, Long)] = {
    val alpha = math.exp(-DpEps)
    val weights = (-DpB to DpB).map(k => math.pow(alpha, math.abs(k)))
    val z = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / z)
    val his = cum.map(p => math.round(p * DpM))
      .zipWithIndex.map { case (h, i) => if (i == 2 * DpB) DpM else h }
    (-DpB to DpB).zip(0L +: his.dropRight(1)).zip(his).map {
      case ((k, lo), hi) => (k, lo, hi)
    }
  }

  /** Spec window: (noise value, probability mass on the 1e12 grid) —
    * Wave95Spec checks the e^ε adjacent-mass ratio and exact tiling. */
  private[graft] def thresholdWidthsForSpec: Seq[(Int, Long)] =
    dpThresholds.map { case (k, lo, hi) => (k, hi - lo) }

  private val privacyDpCounts: Q = (s, dir) => {
    import s.implicits._
    val truth = Tables.load(s, dir, "customer")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_true"))
    val u = pmod(Hashing.md5Long(
      concat(lit("dp#"), col("segment")).cast("binary")), lit(DpM))
    val noise = dpThresholds.toDF("k", "lo", "hi")
    truth.withColumn("u", u)
      .join(noise, col("u") >= col("lo") && col("u") < col("hi"))
      .select(col("segment"),
        (col("n_true") + col("k")).as("noisy_count"),
        lit(DpEps).as("epsilon"))
      .orderBy("segment")
  }

  private val privacyDpCountsOracle: String = {
    val rows = dpThresholds.map { case (k, lo, hi) => s"($k, $lo, $hi)" }
      .mkString(", ")
    s"""WITH truth AS (
       |  SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_true
       |  FROM customer GROUP BY 1),
       |nz AS (SELECT * FROM (VALUES $rows) AS t(k, lo, hi)),
       |drawn AS (
       |  SELECT segment, n_true,
       |    CAST(concat('0x', substr(md5(concat('dp#', segment)), 1, 15))
       |      AS BIGINT) % $DpM AS u
       |  FROM truth)
       |SELECT segment, n_true + nz.k AS noisy_count,
       |  CAST($DpEps AS DOUBLE) AS epsilon
       |FROM drawn JOIN nz ON drawn.u >= nz.lo AND drawn.u < nz.hi
       |ORDER BY segment""".stripMargin
  }

  // ---- eval_preference_pairs: RLHF chosen/rejected mining -------------

  /** Preference-pair construction (the RLHF/DPO data shape): within
    * each (lang, source) prompt group, pair the best-scoring document
    * against the worst by the integer-exact stopword-density score
    * (micro-units — ties break on doc_id, so both engines pick the
    * same pair), kept only when the margin clears 0.1. Group-keyed
    * windows (bounded groups at any scale: langs × sources); one
    * narrow scoring pass. */
  private val evalPreferencePairs: Q = (s, dir) => {
    val toks = array_distinct(LlmPipeline.tokens(col("text")))
    val enStop = Seq("the", "and", "of", "to", "in", "is", "a", "that")
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), toks.as("tk"))
      .withColumn("ntok", size(col("tk")).cast("bigint"))
      .filter(col("ntok") > 0)
      .withColumn("hits",
        size(array_intersect(col("tk"), typedLit(enStop))).cast("bigint"))
      .withColumn("score_micro",
        expr("(2 * hits * 1000000 + ntok) div (2 * ntok)"))
      .select("doc_id", "lang", "source", "score_micro")
    val wTop = Window.partitionBy("lang", "source")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    val wBot = Window.partitionBy("lang", "source")
      .orderBy(col("score_micro").asc, col("doc_id").asc)
    val top = d.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
      .select(col("lang"), col("source"), col("doc_id").as("chosen_id"),
        col("score_micro").as("chosen_micro"))
    val bot = d.withColumn("rn", row_number().over(wBot)).filter(col("rn") === 1)
      .select(col("lang"), col("source"), col("doc_id").as("rejected_id"),
        col("score_micro").as("rejected_micro"))
    top.join(bot, Seq("lang", "source"))
      .filter(col("chosen_micro") - col("rejected_micro") >= 100000L)
      .select(col("lang"), col("source"), col("chosen_id"), col("rejected_id"),
        (col("chosen_micro").cast("double") / 1e6).as("chosen_score"),
        (col("rejected_micro").cast("double") / 1e6).as("rejected_score"),
        ((col("chosen_micro") - col("rejected_micro")).cast("double") / 1e6)
          .as("margin"))
      .orderBy("lang", "source")
  }

  private val evalPreferencePairsOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(list_intersect(list_distinct(${LlmPipeline.duckTokens}),
       |      ['the','and','of','to','in','is','a','that'])) AS BIGINT) AS hits,
       |    CAST(len(list_distinct(${LlmPipeline.duckTokens})) AS BIGINT) AS ntok
       |  FROM documents
       |  WHERE len(list_distinct(${LlmPipeline.duckTokens})) > 0),
       |sc AS (
       |  SELECT doc_id, lang, source,
       |    (2 * hits * 1000000 + ntok) // (2 * ntok) AS score_micro
       |  FROM d),
       |top AS (
       |  SELECT lang, source, doc_id AS chosen_id, score_micro AS chosen_micro
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
       |          ORDER BY score_micro DESC, doc_id ASC) AS rn FROM sc)
       |  WHERE rn = 1),
       |bot AS (
       |  SELECT lang, source, doc_id AS rejected_id, score_micro AS rejected_micro
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
       |          ORDER BY score_micro ASC, doc_id ASC) AS rn FROM sc)
       |  WHERE rn = 1)
       |SELECT lang, source, chosen_id, rejected_id,
       |  CAST(chosen_micro AS DOUBLE) / 1e6 AS chosen_score,
       |  CAST(rejected_micro AS DOUBLE) / 1e6 AS rejected_score,
       |  CAST(chosen_micro - rejected_micro AS DOUBLE) / 1e6 AS margin
       |FROM top JOIN bot USING (lang, source)
       |WHERE chosen_micro - rejected_micro >= 100000
       |ORDER BY lang, source""".stripMargin

  val queries: Map[String, Q] = Map(
    "eval_pass_at_k" -> evalPassAtK,
    "privacy_dp_geometric" -> privacyDpCounts,
    "eval_preference_pairs" -> evalPreferencePairs
  )

  val oracles: Map[String, String] = Map(
    "eval_pass_at_k" -> evalPassAtKOracle,
    "privacy_dp_geometric" -> privacyDpCountsOracle,
    "eval_preference_pairs" -> evalPreferencePairsOracle
  )
}
