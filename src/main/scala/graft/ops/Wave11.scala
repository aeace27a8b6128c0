package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 fourth wave: index-quality evaluation + the AQE skew lever.
  *
  * - `eval_ann`: recall@10 and nDCG@10 of the SHIPPED multi-probe
  *   md5-plane LSH index against exact brute-force ground truth, per
  *   query vector — the measurement a platform runs before trusting an
  *   ANN index for semdedup / retrieval at 100 TB. Every discount
  *   constant is a driver-computed literal inlined identically into the
  *   Spark plan and the DuckDB oracle, so the metric pipeline carries
  *   ZERO libm calls in either engine.
  * - `join_skew_aqe`: the hot-key join computed under AQE skew-join
  *   handling — the automatic complement of join_salted_skew's manual
  *   salting; Wave11Spec pins that AQE actually splits the skewed
  *   partition (`skew=true`) under shuffle-join settings.
  */
object Wave11 {

  // ---- eval_ann: recall@10 / nDCG@10 of the shipped LSH index ----------

  /** Number of evaluation queries (vec_id < NQ) and result depth. */
  private val NQ = 8
  private val K = 10
  /** Multi-probe cells: the home bucket + the four radius-1 flips —
    * exactly sim_ann_lsh_multiprobe_md5's probe set. */
  private val Masks: Seq[Int] = 0 +: (0 until 4).map(1 << _)

  /** round(1/log2(k+1), 9) for k = 1..K, computed ONCE driver-side and
    * inlined as the same decimal literals into both engines — rank
    * discounts carry no runtime log anywhere. */
  private lazy val discounts: IndexedSeq[BigDecimal] =
    (1 to K).map(k => BigDecimal(1.0 / (math.log(k + 1.0) / math.log(2.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP))
  private lazy val idcg: BigDecimal = discounts.sum

  /** Recall@10 and nDCG@10 per evaluation query of the multi-probe
    * md5-plane LSH pipeline (Wave9's shipped index, same plane bank)
    * against exact-cosine ground truth. Ground truth and the ANN side
    * both rank by round(cos, 6) desc with vec_id ties — total orders,
    * so both engines pick identical top-10 sets.
    *
    * Scale shape: ground truth is the sim_knn_join plan (broadcast
    * NQ-row query set, narrow per-row scoring, bounded two-phase
    * top-k — never a per-query window over the corpus); the ANN side
    * buckets the corpus once (8 tables × 4 planes), candidates come
    * from a broadcast (qid, table, cell) equi-join of NQ·8·|Masks|
    * probe cells, and only candidates pay the exact cosine. The metric
    * join compares two ≤ NQ·K row frames — model-sized. At 100 TB the
    * evaluator costs one corpus bucketing pass + one brute-force pass
    * over the (sampled) query set: exactly what "measure recall before
    * you trust the index" costs on any engine. */
  /** Shared batched-ANN pipeline: (corpus table, broadcast NQ-row
    * query set, one corpus bucketing pass, broadcast probe-cell join,
    * exact cosine on candidates only, bounded two-phase top-K).
    * Returns (qs, scored, cand, ann): the query set, the brute-force
    * scores, the candidate pairs and the ANN top-K with ranks — reused
    * by eval_ann (metrics) and sim_ann_batch (the served results). */
  private[ops] def annPipeline(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("v"))
    val qs = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // exact ground truth: brute-force cosine top-K per query
    val scored = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6).as("cos"))
    // ANN side: the shipped md5-plane bucket bank (Wave9.lshW)
    def dot(tb: Int, p: Int): Column =
      aggregate(zip_with(col("v"), typedLit(Wave9.lshW(tb)(p)), (x, y) => x * y),
        lit(0.0), (a, x) => a + x)
    def bucket(tb: Int): Column =
      (0 until 4).map(p => when(dot(tb, p) >= 0, lit(1 << p)).otherwise(lit(0)))
        .reduce(_ + _)
    val buckets = e.select(col("vec_id"),
      posexplode(array((0 until 8).map(bucket): _*)).as(Seq("table", "bucket")))
    val qCells = buckets.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("table").as("qt"),
        explode(typedLit(Masks)).as("mask"), col("bucket"))
      .select(col("qid"), col("qt"), col("bucket").bitwiseXOR(col("mask")).as("qb"))
      .distinct()
    val cand = buckets
      .join(broadcast(qCells),
        col("table") === col("qt") && col("bucket") === col("qb") &&
          col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val annScored = cand.join(e, "vec_id")
      .join(broadcast(qs), "qid")
      .select(col("qid"), col("vec_id"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6).as("cos"))
    val ann = Ranks.perGroupTopK(annScored, Seq("qid"),
      Seq(desc("cos"), asc("vec_id")), K)
    (qs, scored, cand, ann)
  }

  private val evalAnn: Q = (s, dir) => {
    val (_, scored, cand, ann) = annPipeline(s, dir)
    val truth = Ranks.perGroupTopK(scored, Seq("qid"),
      Seq(desc("cos"), asc("vec_id")), K)
      .select(col("qid"), col("vec_id"), lit(1).as("rel"))
    val nCand = cand.groupBy("qid").agg(count(lit(1)).as("n_cand"))
    // metrics: inlined-literal rank discounts, decimal-summed DCG
    val disc = typedLit(discounts.map(_.toString)) // decimal-exact strings
    val hit = ann.join(truth, Seq("qid", "vec_id"), "left")
      .select(col("qid"),
        coalesce(col("rel"), lit(0)).as("rel"),
        element_at(disc, col("rn").cast("int")).cast(DecimalType(18, 9))
          .as("disc"))
    hit.groupBy("qid")
      .agg(sum("rel").cast("long").as("n_hits"),
        sum(when(col("rel") === 1, col("disc"))
          .otherwise(lit(BigDecimal(0).setScale(9)).cast(DecimalType(18, 9))))
          .as("dcg"))
      .join(broadcast(nCand), Seq("qid"))
      .select(col("qid"), col("n_cand"),
        col("n_hits"),
        round(col("n_hits").cast("double") / lit(K.toDouble), 6).as("recall"),
        round(col("dcg").cast("double") / lit(idcg.toDouble), 6).as("ndcg"))
      .orderBy("qid")
  }

  /** Shared oracle CTE chain (e → q → scored → b → qb → cand → ann) —
    * the SQL twin of [[annPipeline]], reused by both oracles. */
  private def annCtes: String = {
    val bCols = (0 until 8).map(tb => s"${Wave9.duckBucketSql(tb)} AS b$tb")
      .mkString(",\n  ")
    val orPred = (0 until 8).map { tb =>
      val cells = Masks.map(m => s"xor(qb.b$tb, $m)").mkString(", ")
      s"x.b$tb IN ($cells)"
    }.mkString(" OR ")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NQ),
       |scored AS (
       |  SELECT q.qid, e.vec_id,
       |    ROUND(list_aggregate(list_transform(list_zip(v, qv), x -> x[1]*x[2]), 'sum')
       |      / (SQRT(list_aggregate(list_transform(v, x -> x*x), 'sum'))
       |         * SQRT(list_aggregate(list_transform(qv, x -> x*x), 'sum'))), 6) AS cos
       |  FROM e, q WHERE e.vec_id <> q.qid),
       |b AS MATERIALIZED (SELECT vec_id, $bCols FROM e),
       |qb AS (SELECT * FROM b WHERE vec_id < $NQ),
       |cand AS (
       |  SELECT DISTINCT qb.vec_id AS qid, x.vec_id
       |  FROM b x, qb WHERE x.vec_id <> qb.vec_id AND ($orPred)),
       |ann AS (
       |  SELECT qid, vec_id, cos, rn FROM (
       |    SELECT s.qid, s.vec_id, s.cos,
       |      row_number() OVER (PARTITION BY s.qid ORDER BY s.cos DESC, s.vec_id) AS rn
       |    FROM scored s JOIN cand c ON s.qid = c.qid AND s.vec_id = c.vec_id)
       |  WHERE rn <= $K)""".stripMargin
  }

  private def evalAnnOracle: String = {
    val discList = discounts.map(_.toString).mkString("[", ", ", "]")
    s"""WITH $annCtes,
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |    FROM scored) WHERE rn <= $K),
       |ncand AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY qid),
       |hit AS (
       |  SELECT a.qid,
       |    CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS rel,
       |    CAST(list_extract($discList, CAST(a.rn AS INT)) AS DECIMAL(18,9)) AS disc
       |  FROM ann a LEFT JOIN truth t ON a.qid = t.qid AND a.vec_id = t.vec_id)
       |SELECT h.qid, n.n_cand,
       |  CAST(SUM(h.rel) AS BIGINT) AS n_hits,
       |  round(CAST(SUM(h.rel) AS DOUBLE) / ${K.toDouble}, 6) AS recall,
       |  round(CAST(SUM(CASE WHEN h.rel = 1 THEN h.disc
       |                      ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE)
       |    / ${idcg.toDouble}, 6) AS ndcg
       |FROM hit h JOIN ncand n USING (qid)
       |GROUP BY h.qid, n.n_cand ORDER BY qid""".stripMargin
  }

  // ---- sim_ann_batch: batched ANN serving -----------------------------

  /** Batched ANN serving: the multi-probe md5-plane index answering a
    * BATCH of queries in one plan — the offline-inference shape
    * (retrieval for a whole eval set / dedup candidate wave), versus
    * sim_ann_lsh_md5's single-query form. One corpus bucketing pass
    * amortizes across all queries; probe cells join broadcast; only
    * candidates pay the exact cosine; per-query top-K is the bounded
    * two-phase rank. Fully hash-checked (the md5 plane bank), serving
    * the (qid, neighbor, cos, rank) table eval_ann grades. */
  private val simAnnBatch: Q = (s, dir) => {
    val (_, _, _, ann) = annPipeline(s, dir)
    ann.select(col("qid"), col("vec_id"), col("cos"), col("rn"))
      .orderBy("qid", "rn")
  }

  private def simAnnBatchOracle: String =
    s"""WITH $annCtes
       |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn
       |FROM ann ORDER BY qid, rn""".stripMargin

  // ---- join_skew_aqe: hot-key join under AQE skew splitting ------------

  /** The AQE answer to join skew: a deliberately hot-keyed fact
    * (user_id % 97 == 0 inflated ×200) shuffle-joined to a per-user
    * dimension, executed with broadcast disabled and the skew
    * thresholds at fixture scale — AQE's OptimizeSkewedJoin splits the
    * hot partition into parallel sub-reads instead of serializing it on
    * one task (Wave11Spec pins `skew=true` in the executed plan). This
    * is the zero-code-change lever against the same cliff
    * join_salted_skew solves by hand: at 100 TB you salt what you can
    * model and let AQE catch what you couldn't. The result aggregate is
    * skew-invariant, so the oracle checks the join itself while the
    * spec checks the split. Conf overrides are scoped to the eager
    * execution and restored before returning. */
  private val joinSkewAqe: Q = (s, dir) => {
    val overrides = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    graft.engine.ConfScope.withConf(s, overrides.toSeq) {
      val out = graft.engine.Fs.freshScratch(s, "skewaqe")
      skewJoinFrame(s, dir).write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("band")
    }
  }

  /** The skewed join itself (shared with Wave11Spec's plan assert):
    * events inflated ×200 on the hot user joined to the per-user event
    * dimension, aggregated to a skew-invariant per-band summary. */
  private[graft] def skewJoinFrame(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    // spread the pre-join fact over 8 map outputs: AQE splits a skewed
    // reduce partition at MAP-OUTPUT boundaries, so a single-mapper
    // fixture file would leave it nothing to cut (a real 100 TB scan has
    // thousands of mappers and never hits this)
    val fact = ev.repartition(8, col("event_id")).withColumn("rep",
        explode(sequence(lit(1),
          when(pmod(col("user_id"), lit(97)) === 0, lit(200)).otherwise(lit(1)))))
    // materialize the dimension as a stored table (its production shape):
    // OptimizeSkewedJoin only rewrites an SMJ whose Sorts sit DIRECTLY on
    // ENSURE_REQUIREMENTS shuffle stages — an aggregate pipelined between
    // the dim's own shuffle and the join defeats the pattern match
    val dimPath = graft.engine.Fs.freshScratch(s, "skewdim")
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        sum(col("value").cast("decimal(18,6)")).as("v_sum"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = s.read.parquet(dimPath)
    fact.join(dim, "user_id")
      .groupBy(pmod(col("user_id"), lit(10)).as("band"))
      .agg(count(lit(1)).as("n"),
        sum("rep").cast("long").as("rep_sum"),
        sum("n_ev").cast("long").as("nev_sum"),
        round(sum(col("v_sum")).cast("double"), 4).as("vsum_sum"))
  }

  private val joinSkewAqeOracle =
    """WITH ev AS (SELECT event_id, user_id, value FROM events),
      |fact AS (
      |  SELECT user_id, unnest(generate_series(1,
      |    CASE WHEN user_id % 97 = 0 THEN 200 ELSE 1 END)) AS rep
      |  FROM ev),
      |dim AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
      |    SUM(CAST(value AS DECIMAL(18,6))) AS v_sum
      |  FROM ev GROUP BY user_id)
      |SELECT CAST(f.user_id % 10 AS BIGINT) AS band,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(f.rep) AS BIGINT) AS rep_sum,
      |  CAST(SUM(d.n_ev) AS BIGINT) AS nev_sum,
      |  round(CAST(SUM(d.v_sum) AS DOUBLE), 4) AS vsum_sum
      |FROM fact f JOIN dim d USING (user_id)
      |GROUP BY 1 ORDER BY band""".stripMargin

  val queries: Map[String, Q] = Map(
    "eval_ann" -> evalAnn,
    "sim_ann_batch" -> simAnnBatch,
    "join_skew_aqe" -> joinSkewAqe)

  val oracles: Map[String, String] = Map(
    "eval_ann" -> evalAnnOracle,
    "sim_ann_batch" -> simAnnBatchOracle,
    "join_skew_aqe" -> joinSkewAqeOracle)
}
