package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 23: hybrid retrieval (reciprocal-rank fusion of the
  * lexical BM25 ranking with the dense cosine ranking), late-interaction
  * multi-vector scoring (the MaxSim shape), hour-of-day seasonality
  * indices, and exact integer-weighted EWMA smoothing.
  */
object Wave23 {

  // ---- rank_rrf: hybrid lexical + dense retrieval --------------------

  /** Reciprocal-rank fusion of the two retrieval channels every RAG
    * stack runs side by side: BM25 top-50 (shared [[Wave4.bm25Scores]]
    * pipeline — one scoring definition) and dense cosine top-50 against
    * the query vector (vec_id 0), fused as
    * rrf = 1/(60+r_lex) + 1/(60+r_dense) (Cormack et al.'s k=60).
    * Each channel is a global TakeOrderedAndProject (per-partition
    * heaps); the rank windows run over the <= 50 surviving rows —
    * bounded by the literal k, never corpus-sized. The fusion join is
    * 50x50 row-bounded. Missing-channel docs contribute 0 from that
    * channel (full outer join + coalesce). */
  private val rankRrf: Q = (s, dir) => {
    val topB = Wave4.bm25Scores(s, dir)
      .orderBy(desc("bm25"), asc("doc_id")).limit(50)
      .withColumn("r_lex", row_number()
        .over(Window.orderBy(desc("bm25"), asc("doc_id"))).cast("bigint"))
      .select(col("doc_id"), col("r_lex"))
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val topC = e.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6).as("cos"))
      .orderBy(desc("cos"), asc("doc_id")).limit(50)
      .withColumn("r_dense", row_number()
        .over(Window.orderBy(desc("cos"), asc("doc_id"))).cast("bigint"))
      .select(col("doc_id"), col("r_dense"))
    topB.join(topC, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_dense"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)), 9).as("rrf"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(20)
  }

  private val rankRrfOracle =
    s"""WITH ${Wave4.duckBm25Prelude},
       |bm AS (${Wave4.duckBm25Body}),
       |top_b AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex
       |  FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |scored AS (
       |  SELECT vec_id AS doc_id,
       |    ROUND(list_aggregate(list_transform(list_zip(v, qv), x -> x[1] * x[2]), 'sum')
       |      / (SQRT(list_aggregate(list_transform(v, x -> x*x), 'sum'))
       |         * SQRT(list_aggregate(list_transform(qv, x -> x*x), 'sum'))), 6) AS cos
       |  FROM e CROSS JOIN q WHERE vec_id <> 0),
       |top_c AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS r_dense
       |  FROM scored ORDER BY cos DESC, doc_id LIMIT 50)
       |SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, b.r_lex, c.r_dense,
       |  round(COALESCE(1.0 / (60 + b.r_lex), 0.0)
       |      + COALESCE(1.0 / (60 + c.r_dense), 0.0), 9) AS rrf
       |FROM top_b b FULL OUTER JOIN top_c c ON b.doc_id = c.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  // ---- sim_maxsim: late-interaction multi-vector scoring -------------

  /** MaxSim late interaction (the ColBERT scoring shape): the query is
    * a SET of vectors (vec_id 0-3), each candidate group (label) is a
    * set of vectors, and score(group) = sum over query vectors of the
    * max cosine against any group vector. The query set broadcasts; the
    * corpus scans ONCE with a fused-loop cosine per (row, query vector);
    * two hash aggregations (max per (label, qid), then the sum) — no
    * pairwise corpus join at any scale. Per-query maxima are rounded
    * then summed in DECIMAL (order-independent, exact). */
  private val simMaxsim: Q = (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    e.filter(col("vec_id") >= 4).crossJoin(broadcast(q))
      .select(col("label"), col("qid"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6).as("cos"))
      .groupBy("label", "qid").agg(max("cos").as("maxcos"))
      .groupBy("label")
      .agg(round(sum(col("maxcos").cast("decimal(18,6)")), 6).cast("double")
        .as("maxsim"),
        count(lit(1)).as("n_q"))
      .orderBy(desc("maxsim"), asc("label"))
  }

  private val simMaxsimOracle =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
      |scored AS (
      |  SELECT e.label, q.qid,
      |    ROUND(list_aggregate(list_transform(list_zip(e.v, q.qv), x -> x[1] * x[2]), 'sum')
      |      / (SQRT(list_aggregate(list_transform(e.v, x -> x*x), 'sum'))
      |         * SQRT(list_aggregate(list_transform(q.qv, x -> x*x), 'sum'))), 6) AS cos
      |  FROM e CROSS JOIN q WHERE e.vec_id >= 4),
      |mx AS (SELECT label, qid, MAX(cos) AS maxcos FROM scored GROUP BY 1, 2)
      |SELECT label, CAST(round(SUM(CAST(maxcos AS DECIMAL(18,6))), 6) AS DOUBLE) AS maxsim,
      |  CAST(count(*) AS BIGINT) AS n_q
      |FROM mx GROUP BY label ORDER BY maxsim DESC, label""".stripMargin

  // ---- profile_seasonality: hour-of-day occupancy index --------------

  /** Hour-of-day seasonality per event type: idx(type, h) =
    * (type's share of hour h) / (type's overall share) — 1.0 means the
    * type follows the global daily rhythm, >1 means over-indexed at
    * that hour. All counts exact; the index is one rounded division of
    * exact integer products (cnt*total vs type_tot*hour_tot). Three
    * aggregations over the same scan, the marginals broadcast back —
    * the contingency shape of profile_chisq, keyed by derived time. */
  private val profileSeasonality: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), hour(col("ts")).cast("bigint").as("hod"))
    val cell = ev.groupBy("event_type", "hod").agg(count(lit(1)).as("cnt"))
    val typeTot = ev.groupBy("event_type").agg(count(lit(1)).as("type_tot"))
    val hourTot = ev.groupBy("hod").agg(count(lit(1)).as("hour_tot"))
    val total = ev.agg(count(lit(1)).as("total"))
    cell.join(broadcast(typeTot), "event_type")
      .join(broadcast(hourTot), "hod")
      .crossJoin(broadcast(total))
      .select(col("event_type"), col("hod"), col("cnt"),
        round((col("cnt") * col("total")).cast("double") /
          (col("type_tot") * col("hour_tot")).cast("double"), 6).as("idx"))
      .orderBy("event_type", "hod")
  }

  private val profileSeasonalityOracle =
    """WITH ev AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod FROM events),
      |cell AS (SELECT event_type, hod, CAST(count(*) AS BIGINT) AS cnt FROM ev GROUP BY 1, 2),
      |tt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS type_tot FROM ev GROUP BY 1),
      |ht AS (SELECT hod, CAST(count(*) AS BIGINT) AS hour_tot FROM ev GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM ev)
      |SELECT c.event_type, c.hod, c.cnt,
      |  round(CAST(c.cnt * t.total AS DOUBLE) /
      |        CAST(tt.type_tot * ht.hour_tot AS DOUBLE), 6) AS idx
      |FROM cell c JOIN tt USING (event_type) JOIN ht USING (hod) CROSS JOIN tot t
      |ORDER BY event_type, hod""".stripMargin

  // ---- ewma_user: exact integer-weighted exponential smoothing -------

  /** Per-(user, type) EWMA over the last 20 observations with
    * half-life-1 weights 2^(19-i): because the weights are powers of
    * two, numerator and denominator are EXACT longs (value-micro x
    * 2^19 max ~ 3e14) and the smoothed value is one rounded division —
    * no accumulation-order float drift, engine-portable. The window
    * partitions on (user_id, event_type) — high-cardinality, balanced;
    * all 20 lags share one window spec, one sort. The streaming twin is
    * the same recurrence in mapGroupsWithState; at 100 TB this batch
    * form backfills the feature store the stream maintains. */
  private val ewmaUser: Q = (s, dir) => {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(asc("ts"), asc("event_id"))
    val ev = Tables.load(s, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"), col("ts"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
    val terms = (0 until 20).map { i =>
      val weight = 1L << (19 - i)
      val v = if (i == 0) col("v") else lag(col("v"), i).over(w)
      (when(v.isNotNull, v * weight).otherwise(0L),
       when(v.isNotNull, lit(weight)).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    ev.withColumn("ewma",
        round(num.cast("double") / den.cast("double") / 1000000d, 6))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ewma"))
      .orderBy("event_id")
  }

  private val ewmaUserOracle = {
    val terms = (0 until 20).map { i =>
      val weight = 1L << (19 - i)
      val v = if (i == 0) "v" else s"lag(v, $i) OVER w"
      (s"COALESCE($v * $weight, 0)",
       s"CASE WHEN $v IS NOT NULL THEN $weight ELSE 0 END")
    }
    val num = terms.map(_._1).mkString(" + ")
    val den = terms.map(_._2).mkString(" + ")
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, ts,
       |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
       |  FROM events)
       |SELECT event_id, user_id, event_type,
       |  round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE) / 1000000.0, 6) AS ewma
       |FROM ev WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
       |ORDER BY event_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "rank_rrf" -> rankRrf,
    "sim_maxsim" -> simMaxsim,
    "profile_seasonality" -> profileSeasonality,
    "ewma_user" -> ewmaUser
  )

  val oracles: Map[String, String] = Map(
    "rank_rrf" -> rankRrfOracle,
    "sim_maxsim" -> simMaxsimOracle,
    "profile_seasonality" -> profileSeasonalityOracle,
    "ewma_user" -> ewmaUserOracle
  )
}
