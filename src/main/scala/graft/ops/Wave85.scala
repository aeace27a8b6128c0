package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 85: the model speaks + ensembling — greedy decoding
  * from the corpus Kneser-Ney bigram LM (ten argmax supersteps over
  * the model-sized probability table: the smallest end-to-end proof
  * the trained LM is usable), and bagged decision stumps (8 hash-bag
  * stumps + majority vote: the variance-reduction demo that explains
  * why forests beat trees).
  */
object Wave85 {

  // ---- text_generate_greedy: decode from the bigram LM -------------------

  /** Greedy 10-token continuation of "the" under the interpolated KN
    * bigram model (the text_kneser_ney arithmetic over the SHARED
    * materialized bigram kernel, nano-quantized so the argmax is an
    * integer order): each step joins the 1-row state to the
    * model-sized probability table and takes the (p desc, token asc)
    * head. Greedy decode loops are expected and honest — the output
    * shows exactly where the bigram chain enters its attractor. */
  private val textGenerateGreedy: Q = (s, dir) => {
    val big = TextKernels.bigramCounts(s, dir)
    val left = big.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1fw"))
    val right = big.groupBy("w2").agg(count(lit(1)).as("n1bw"))
    val tt = big.agg(count(lit(1)).as("tt"))
    val probs = big.join(left, "w1").join(right, "w2").crossJoin(broadcast(tt))
      .withColumn("pn", round((
        greatest(col("c12").cast("double") - 0.75, lit(0.0)) / col("c1") +
          (lit(0.75) * col("n1fw") / col("c1")) *
            (col("n1bw").cast("double") / col("tt"))) * 1e9).cast("long"))
      .select(col("w1"), col("w2"), col("pn"))
      .localCheckpoint()
    var state = probs.sparkSession.range(1)
      .select(lit(0L).as("step"), lit("the").as("token"), lit(0L).as("pn"))
    var outRows = Vector(state)
    for (k <- 1 to 10) {
      state = probs.join(state.select(col("token").as("w1")), "w1")
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("pn"), asc("w2"))))
        .filter(col("rk") === 1)
        .select(lit(k.toLong).as("step"), col("w2").as("token"), col("pn"))
        .localCheckpoint()
      outRows = outRows :+ state
    }
    outRows.reduce(_.unionByName(_))
      .select(col("step"), col("token"),
        (col("pn").cast("double") / 1e9).as("p"))
      .orderBy("step")
  }

  private val textGenerateGreedyOracle: String = {
    def step(prev: String, cur: String, k: Int): String =
      s"""$cur AS (
         |  SELECT CAST($k AS BIGINT) AS step, w2 AS token, probs.pn AS pn
         |  FROM probs JOIN $prev p ON probs.w1 = p.token
         |  ORDER BY probs.pn DESC, w2 LIMIT 1)""".stripMargin
    val steps = (1 to 10).map(k =>
      step(if (k == 1) "s0" else s"s${k - 1}", s"s$k", k)).mkString(",\n")
    val sel = (0 to 10).map(k => s"SELECT * FROM s$k").mkString("\nUNION ALL ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT tk[i + 1] AS w1, tk[i + 2] AS w2 FROM (
       |    SELECT tk, unnest(generate_series(0, len(tk) - 2)) AS i
       |    FROM (SELECT ${LlmPipeline.duckTokens} AS tk FROM documents)
       |    WHERE len(tk) >= 2)),
       |big AS MATERIALIZED (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM pairs GROUP BY 1, 2),
       |lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |  CAST(count(*) AS BIGINT) AS n1fw FROM big GROUP BY 1),
       |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM big GROUP BY 1),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM big),
       |probs AS MATERIALIZED (
       |  SELECT w1, w2, CAST(round((
       |      GREATEST(CAST(c12 AS DOUBLE) - 0.75, 0.0) / c1 +
       |      (0.75 * n1fw / c1) * (CAST(n1bw AS DOUBLE) / tt)) * 1e9)
       |    AS BIGINT) AS pn
       |  FROM big JOIN lft USING (w1) JOIN rgt USING (w2), tt),
       |s0 AS (SELECT CAST(0 AS BIGINT) AS step, 'the' AS token,
       |  CAST(0 AS BIGINT) AS pn),
       |$steps
       |SELECT step, token, CAST(pn AS DOUBLE) / 1e9 AS p
       |FROM ($sel) ORDER BY step""".stripMargin
  }

  // ---- ml_bagged_stumps: bagging over the shared Gini kernel ------------

  /** Bagging: 8 deterministic md5 bags, one exact-Gini stump per bag
    * (the wave-84 bestSplits kernel with bag as the branch key), each
    * bag's leaves labeled by majority, ensemble prediction = strict
    * majority of the 8 stump votes on EVERY document (ties predict 0).
    * Per-bag rows report the bag's stump and its full-data accuracy;
    * the shared ensemble_accuracy column is the variance-reduction
    * read (ensemble ≥ most individual bags). */
  private val mlBaggedStumps: Q = (s, dir) => {
    val base = Tables.load(s, dir, "documents").select(
      (col("lang") === "en").cast("long").as("pos"),
      pmod(Hashing.md5Long(concat(col("text"), lit("#bag")).cast("binary")),
        lit(8)).cast("long").as("bag"),
      expr("length(text) div 100").as("len_b100"),
      expr("size(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')) div 10")
        .as("tok_b10"),
      expr("size(filter(split(lower(text), '[^a-z0-9]+'), x -> x = 'the'))")
        .as("the_hits"))
      .localCheckpoint()
    val cells = base
      .select(concat(lit("bag"), col("bag")).as("branch"), col("pos"),
        explode(array(Seq("len_b100", "tok_b10", "the_hits").map(f =>
          struct(lit(f).as("feature"), col(f).as("b"))): _*)).as("f"))
      .groupBy(col("branch"), col("f.feature").as("feature"), col("f.b").as("b"))
      .agg(count(lit(1)).as("n"), sum("pos").as("p"))
    val splits = Wave84.bestSplits(cells)
      .select(col("branch"), col("feature").as("bf"), col("b").as("bb"),
        col("g_micro"))
      .localCheckpoint()
    def sideOf = when(col("bf") === "len_b100", col("len_b100") <= col("bb"))
      .when(col("bf") === "tok_b10", col("tok_b10") <= col("bb"))
      .otherwise(col("the_hits") <= col("bb"))
    // leaf labels per (bag-model, side) from the bag's OWN rows
    val leafLabels = base
      .select(concat(lit("bag"), col("bag")).as("branch"), col("pos"),
        col("len_b100"), col("tok_b10"), col("the_hits"))
      .join(broadcast(splits), "branch")
      .withColumn("side", sideOf)
      .groupBy("branch", "side")
      .agg((sum("pos") * 2 > count(lit(1))).as("label"))
    // every model votes on every document
    val voted = base.crossJoin(broadcast(
        splits.join(leafLabels.filter(col("side")),
            Seq("branch"), "left")
          .select(col("branch"), col("bf"), col("bb"),
            coalesce(col("label"), lit(false)).as("left_label"))
          .join(leafLabels.filter(!col("side"))
            .select(col("branch"), coalesce(col("label"), lit(false))
              .as("right_label")), Seq("branch"), "left")
          .na.fill(false, Seq("right_label"))))
      .withColumn("vote",
        when(sideOf, col("left_label")).otherwise(col("right_label")))
    val perBagAcc = voted.filter(concat(lit("bag"), col("bag")) === col("branch"))
      .groupBy("branch")
      .agg(count(lit(1)).as("nb"),
        sum(when(col("vote") === (col("pos") === 1), 1L).otherwise(0L))
          .as("okb"))
    val perDoc = voted
      .groupBy("pos", "bag", "len_b100", "tok_b10", "the_hits")
      .agg(sum(when(col("vote"), 1L).otherwise(0L)).as("votes"),
        count(lit(1)).as("nmodels"))
    val ensemble = perDoc
      .agg(count(lit(1)).as("ndoc_groups"),
        sum(expr("nmodels div 8")).as("n"),
        sum(when((col("votes") * 2 > col("nmodels")) === (col("pos") === 1),
          expr("nmodels div 8")).otherwise(0L)).as("ok"))
      .select(expr("cast((2 * ok * 1000000 + n) div (2 * n) as double)")
        .divide(lit(1e6)).as("ensemble_accuracy"))
    splits.join(perBagAcc, "branch")
      .select(col("branch").as("bag"), col("bf").as("feature"),
        col("bb").as("threshold_bucket"),
        (col("g_micro").cast("double") / 1e6).as("gini_split"),
        expr("cast((2 * okb * 1000000 + nb) div (2 * nb) as double)")
          .divide(lit(1e6)).as("bag_accuracy"))
      .crossJoin(broadcast(ensemble))
      .orderBy("bag")
  }

  private val mlBaggedStumpsOracle = {
    val gExpr =
      """(2 * ((nl::HUGEINT * nl - pl::HUGEINT * pl
        |        - (nl - pl)::HUGEINT * (nl - pl)) * nr
        |    + (nr::HUGEINT * nr - pr::HUGEINT * pr
        |        - (nr - pr)::HUGEINT * (nr - pr)) * nl) * 1000000
        |  + nl::HUGEINT * nr * nn) // (2 * nl::HUGEINT * nr * nn)"""
        .stripMargin.replace("\n", " ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT CAST(lang = 'en' AS BIGINT) AS pos,
       |    CAST(concat('0x', substr(md5(text || '#bag'), 1, 15)) AS BIGINT) % 8
       |      AS bag,
       |    length(text) // 100 AS len_b100,
       |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |        x -> x <> '')) // 10 AS tok_b10,
       |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |        x -> x = 'the')) AS the_hits
       |  FROM documents),
       |cells AS MATERIALIZED (
       |  SELECT 'bag' || CAST(bag AS VARCHAR) AS branch, feature, b,
       |    CAST(count(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS p
       |  FROM (
       |    SELECT bag, pos, 'len_b100' AS feature, len_b100 AS b FROM base
       |    UNION ALL SELECT bag, pos, 'tok_b10', tok_b10 FROM base
       |    UNION ALL SELECT bag, pos, 'the_hits', the_hits FROM base)
       |  GROUP BY 1, 2, 3),
       |splits AS MATERIALIZED (
       |  SELECT branch, feature AS bf, b AS bb, g_micro FROM (
       |    SELECT branch, feature, b, g_micro,
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
       |        FROM cells c JOIN (
       |          SELECT branch, feature, CAST(SUM(n) AS BIGINT) AS nn,
       |            CAST(SUM(p) AS BIGINT) AS pp
       |          FROM cells GROUP BY 1, 2) t USING (branch, feature))
       |      WHERE nl < nn))
       |  WHERE rk = 1),
       |sided AS MATERIALIZED (
       |  SELECT b.*, s.branch, s.bf, s.bb, s.g_micro,
       |    CASE WHEN s.bf = 'len_b100' THEN b.len_b100 <= s.bb
       |      WHEN s.bf = 'tok_b10' THEN b.tok_b10 <= s.bb
       |      ELSE b.the_hits <= s.bb END AS side
       |  FROM base b, splits s),
       |labels AS (
       |  SELECT branch, side, SUM(pos) * 2 > count(*) AS label
       |  FROM sided WHERE 'bag' || CAST(bag AS VARCHAR) = branch
       |  GROUP BY 1, 2),
       |voted AS MATERIALIZED (
       |  SELECT sided.*, COALESCE(l.label, false) AS vote
       |  FROM sided LEFT JOIN labels l
       |    ON l.branch = sided.branch AND l.side = sided.side),
       |bagacc AS (
       |  SELECT branch, CAST(count(*) AS BIGINT) AS nb,
       |    CAST(SUM(CASE WHEN vote = (pos = 1) THEN 1 ELSE 0 END) AS BIGINT)
       |      AS okb
       |  FROM voted WHERE 'bag' || CAST(bag AS VARCHAR) = branch
       |  GROUP BY 1),
       |perdoc AS (
       |  SELECT pos, bag, len_b100, tok_b10, the_hits,
       |    CAST(SUM(CASE WHEN vote THEN 1 ELSE 0 END) AS BIGINT) AS votes,
       |    CAST(count(*) AS BIGINT) AS nmodels
       |  FROM voted GROUP BY 1, 2, 3, 4, 5),
       |ens AS (
       |  SELECT CAST((2 * SUM(CASE WHEN (votes * 2 > nmodels) = (pos = 1)
       |      THEN nmodels // 8 ELSE 0 END) * 1000000 + SUM(nmodels // 8))
       |      // (2 * SUM(nmodels // 8)) AS DOUBLE) / 1e6 AS ensemble_accuracy
       |  FROM perdoc)
       |SELECT s.branch AS bag, s.bf AS feature, s.bb AS threshold_bucket,
       |  CAST(s.g_micro AS DOUBLE) / 1e6 AS gini_split,
       |  CAST((2 * b.okb * 1000000 + b.nb) // (2 * b.nb) AS DOUBLE) / 1e6
       |    AS bag_accuracy,
       |  ensemble_accuracy
       |FROM splits s JOIN bagacc b USING (branch), ens
       |ORDER BY bag""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "text_generate_greedy" -> textGenerateGreedy,
    "ml_bagged_stumps" -> mlBaggedStumps
  )

  val oracles: Map[String, String] = Map(
    "text_generate_greedy" -> textGenerateGreedyOracle,
    "ml_bagged_stumps" -> mlBaggedStumpsOracle
  )
}
