package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 fifth wave: estimator calibration, schema evolution as a
  * gated query, and the chi-squared independence profiler.
  *
  * - `eval_minhash`: per-candidate-pair calibration of the portable
  *   MinHash similarity estimate against the TRUE shingle-set Jaccard —
  *   the companion evaluator to eval_ann (trust the estimator before
  *   thresholding it at 100 TB).
  * - `sink_evolve`: Delta-mergeSchema-style column addition through the
  *   versioned store's MERGE, end to end as an oracle-checked query
  *   (the capability existed with specs; now a user-visible query pins
  *   it cross-engine).
  * - `profile_chisq`: chi-squared independence of event type × weekday
  *   — the frequentist twin of profile_mutual_info's MI, on the same
  *   one-pass contingency-table plan.
  */
object Wave12 {

  // ---- eval_minhash: MinHash estimate vs true shingle Jaccard ----------

  /** 3-word shingle set, identical to the minhash pipelines' (distinct,
    * max(size-2, 1) windows). */
  private def shingles(c: Column): Column = {
    val tk = LlmPipeline.tokens(c)
    array_distinct(transform(
      sequence(lit(0), greatest(size(tk) - 3, lit(0))),
      i => concat_ws(" ", slice(tk, i + 1, lit(3)))))
  }
  private val duckShingles =
    s"list_distinct(list_transform(range(0, greatest(len(toks)-2,1)), " +
      "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))"

  /** Calibration table for the shipped portable MinHash: for every LSH
    * candidate pair of dedup_minhash_md5 (same query, same materialized
    * pair table), the 32-perm signature-agreement estimate next to the
    * TRUE Jaccard of the two 3-shingle sets, plus the absolute error —
    * the evidence that a 0.8 signature threshold means what the dedup
    * policy thinks it means.
    *
    * Scale shape: the candidate list is the banded join's output
    * (bounded by near-dup density, never all-pairs); true Jaccard is
    * computed ONLY for candidates via a shingle equi-join keyed on
    * (pair, shingle) — the corpus's shingle table shuffles once on the
    * shingle string, exactly like decontaminate's probe join. est_sim
    * is an exact multiple of 1/32 and the Jaccard is an exact integer
    * ratio, so both engines agree bit-for-bit after round(…, 6). */
  private val evalMinhash: Q = (s, dir) => {
    val pairs = LlmPipeline.queries("dedup_minhash_md5")(s, dir)
    val d = Tables.load(s, dir, "documents").select(col("doc_id"), shingles(col("text")).as("shs"))
    val ssz = d.select(col("doc_id"), size(col("shs")).cast("long").as("sz"))
    val sh = d.select(col("doc_id"), explode(col("shs")).as("sh"))
    val inter = pairs.select("i", "j")
      .join(sh.as("a"), col("a.doc_id") === col("i"))
      .join(sh.as("b"), col("b.doc_id") === col("j") && col("a.sh") === col("b.sh"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("i", "j"), "left")
      .join(ssz.withColumnRenamed("doc_id", "i").withColumnRenamed("sz", "szi"), "i")
      .join(ssz.withColumnRenamed("doc_id", "j").withColumnRenamed("sz", "szj"), "j")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("jacc", round(col("inter").cast("double") /
        (col("szi") + col("szj") - col("inter")).cast("double"), 6))
      .select(col("i"), col("j"), col("est_sim"), col("jacc"),
        round(abs(col("est_sim") - col("jacc")), 6).as("abs_err"))
      .orderBy("i", "j")
  }

  private def evalMinhashOracle: String = {
    val mh = LlmPipeline.oracles("dedup_minhash_md5")
    s"""WITH pairs AS ($mh),
       |d AS (SELECT doc_id, $duckShingles AS shs
       |      FROM (SELECT doc_id, ${LlmPipeline.duckTokens} AS toks FROM documents)),
       |ssz AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS sz FROM d),
       |sh AS (SELECT doc_id, unnest(shs) AS sh FROM d),
       |inter AS (
       |  SELECT p.i, p.j, CAST(count(*) AS BIGINT) AS inter
       |  FROM pairs p
       |  JOIN sh a ON a.doc_id = p.i
       |  JOIN sh b ON b.doc_id = p.j AND b.sh = a.sh
       |  GROUP BY p.i, p.j)
       |SELECT p.i, p.j, p.est_sim,
       |  round(CAST(COALESCE(n.inter, 0) AS DOUBLE) /
       |    CAST(si.sz + sj.sz - COALESCE(n.inter, 0) AS DOUBLE), 6) AS jacc,
       |  round(ABS(p.est_sim - round(CAST(COALESCE(n.inter, 0) AS DOUBLE) /
       |    CAST(si.sz + sj.sz - COALESCE(n.inter, 0) AS DOUBLE), 6)), 6) AS abs_err
       |FROM pairs p
       |LEFT JOIN inter n ON n.i = p.i AND n.j = p.j
       |JOIN ssz si ON si.doc_id = p.i
       |JOIN ssz sj ON sj.doc_id = p.j
       |ORDER BY p.i, p.j""".stripMargin
  }

  // ---- sink_evolve: MERGE with schema evolution through the store ------

  /** Delta `mergeSchema` semantics as a gated query: v1 stores a
    * 3-column customer slice; v2 MERGEs a source carrying a NEW column
    * (`segment`) with `evolveSchema = true` — matched rows update,
    * their new column fills, untouched rows surface NULL in it (never a
    * default, never an error). The read-back aggregates per segment so
    * the oracle pins exactly which rows evolved. The store's
    * copy-on-write MERGE makes this one keyed rewrite of hit files
    * only; the schema change itself is a manifest-header edit — zero
    * data movement for the unmatched majority, which is what makes
    * column addition free at 100 TB. */
  private val sinkEvolve: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "evolve")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(18,2)").as("acctbal"))
    store.write(base.repartitionByRange(4, col("c_custkey")), "cust") // v1
    val source = Tables.load(s, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(3)) === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal").cast("decimal(18,2)") + lit(1000))
          .cast("decimal(18,2)").as("acctbal"),
        col("c_mktsegment").as("segment"))
    store.upsert(s, "cust", source, Seq("c_custkey"), evolveSchema = true) // v2
    store.read(s, "cust")
      .groupBy(coalesce(col("segment"), lit("__unevolved")).as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("acctbal")).cast("double").as("bal_sum"))
      .orderBy("segment")
  }

  private val sinkEvolveOracle =
    """WITH merged AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 3 = 0
      |         THEN CAST(c_acctbal AS DECIMAL(18,2)) + 1000
      |         ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS acctbal,
      |    CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment END AS segment
      |  FROM customer)
      |SELECT COALESCE(segment, '__unevolved') AS segment,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(acctbal) AS DOUBLE) AS bal_sum
      |FROM merged GROUP BY 1 ORDER BY segment""".stripMargin

  // ---- profile_chisq: type x weekday independence --------------------

  /** Pearson chi-squared contribution of each event type against the
    * weekday marginal — "does this event type keep the fleet-wide
    * weekly rhythm?" — the frequentist twin of profile_mutual_info on
    * the same plan: ONE contingency-table aggregation (type × dow),
    * marginals re-aggregated from the model-sized cell table, expected
    * counts as exact integer products divided once, addends
    * round-then-decimal-summed. Reported per type with the cell count
    * (dof = cells − 1 under a fixed weekday marginal). */
  private val profileChisq: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), dayofweek(to_date(col("ts"))).as("dow"))
    // UNPINNED (r11): the contingency table feeds four consumers, but the
    // r11 clean-window A/B — the same one that dropped the cramersPair
    // pin — showed the localCheckpoint pin never wins here either
    // (unpinned warm 0.67-0.77 s vs pinned 0.69-0.89 s over 4 cycles
    // each): AQE stage reuse covers the replayed consumers at runtime,
    // and the checkpoint's materialization job is one extra scheduler
    // round-trip. In-plan scan counts are not runtime evidence; A/B
    // wall-clock decides.
    val cells = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy("event_type").agg(sum("o").as("rt"))
    val colTot = cells.groupBy("dow").agg(sum("o").as("ct"))
    val n = cells.agg(sum("o").as("n"))
    cells
      .join(broadcast(rowTot), "event_type")
      .join(broadcast(colTot), "dow")
      .crossJoin(broadcast(n))
      .select(col("event_type"),
        round(
          pow(col("o").cast("double") -
            (col("rt") * col("ct")).cast("double") / col("n").cast("double"), 2)
            / ((col("rt") * col("ct")).cast("double") / col("n").cast("double")),
          9).cast(DecimalType(18, 9)).as("addend"))
      .groupBy("event_type")
      .agg(round(sum("addend").cast("double"), 6).as("chi2_part"),
        count(lit(1)).as("n_cells"))
      .orderBy("event_type")
  }

  private val profileChisqOracle =
    """WITH ev AS (
      |  SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dow FROM events),
      |cells AS (
      |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
      |  FROM ev GROUP BY 1, 2),
      |rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
      |SELECT c.event_type,
      |  round(CAST(SUM(CAST(round(
      |    POW(CAST(c.o AS DOUBLE) - CAST(r.rt * t.ct AS DOUBLE) / CAST(n.n AS DOUBLE), 2)
      |      / (CAST(r.rt * t.ct AS DOUBLE) / CAST(n.n AS DOUBLE)), 9)
      |    AS DECIMAL(18,9))) AS DOUBLE), 6) AS chi2_part,
      |  CAST(count(*) AS BIGINT) AS n_cells
      |FROM cells c JOIN rt r USING (event_type) JOIN ct t USING (dow)
      |CROSS JOIN n
      |GROUP BY c.event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "eval_minhash" -> evalMinhash,
    "sink_evolve" -> sinkEvolve,
    "profile_chisq" -> profileChisq)

  val oracles: Map[String, String] = Map(
    "eval_minhash" -> evalMinhashOracle,
    "sink_evolve" -> sinkEvolveOracle,
    "profile_chisq" -> profileChisqOracle)
}
