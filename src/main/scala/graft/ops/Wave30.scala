package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 30: triangle counting with the degree-ordered
  * orientation (the canonical distributed graph-motif plan), a
  * nearest-centroid classifier over the embedding space (completing the
  * classifier family: Naive Bayes for text, centroids for vectors), and
  * the tokenize→detokenize integrity audit.
  */
object Wave30 {

  // ---- graph_triangles: degree-ordered triangle counting -------------

  /** Triangle count of the brand co-purchase graph (edges = brand pairs
    * co-ordered in >= 2% of orders — mining_assoc's support filter).
    * The plan is the canonical distributed motif count: orient every
    * edge from the lower-degree endpoint to the higher (ties by name),
    * join oriented wedges (a->b, a->c with b<c under the SAME order) to
    * closing edges — orientation bounds each vertex's out-degree by
    * O(sqrt(|E|)), so the wedge fan-out never explodes on hubs (the
    * trick that makes triangle counting feasible at web scale; here the
    * graph is catalog-sized but the plan is the 100 TB one). Exact
    * integer degrees and counts throughout. The edge list and the
    * oriented wedge closure live in the shared [[BrandGraph]] kernel
    * (materialized once per session, also feeding the per-node
    * clustering coefficients). */
  private val graphTriangles: Q = (s, dir) => {
    val edges = BrandGraph.edges(s, dir)
    val deg = BrandGraph.degrees(s, dir)
    val tri = BrandGraph.triangles(s, dir).agg(count(lit(1)).as("n_triangles"))
    tri.crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select("n_triangles", "n_edges", "n_nodes")
  }

  private val graphTrianglesOracle =
    """WITH basket AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM basket),
      |edges AS (
      |  SELECT a.brand AS u, b.brand AS v
      |  FROM basket a JOIN basket b ON a.ok = b.ok AND a.brand < b.brand
      |  GROUP BY 1, 2
      |  HAVING count(*) * 50 >= (SELECT n_orders FROM tot)),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM edges e1
      |  JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
      |  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
      |deg AS (SELECT x, count(*) AS d FROM (
      |  SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges) GROUP BY 1)
      |SELECT CAST(tri.n_triangles AS BIGINT) AS n_triangles,
      |  (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
      |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes
      |FROM tri""".stripMargin

  // ---- sim_nearest_centroid: embedding-space classification ----------

  /** Nearest-centroid classification over the embedding table: per-label
    * mean vectors (ONE native vector-sum aggregation — the shuffle
    * carries dim-sized buffers per (label, partition), not rows),
    * every vector scored against the broadcast centroid set by cosine,
    * argmax with deterministic tie-break, and the confusion-style
    * accuracy sheet per true label. Scores round to 6 before the
    * argmax so both engines pick identical winners. */
  private val simNearestCentroid: Q = (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    val cents = e.groupBy("label")
      .agg(graft.functions.Native.vecSumAgg(col("v")).as("vsum"),
        count(lit(1)).as("n"))
      .select(col("label").as("c_label"),
        transform(col("vsum"), x => x / col("n").cast("double")).as("centroid"))
    // HOF double cosine (the md5-LSH precedent): both engines fold the
    // zip sequentially, so the doubles agree bit-for-bit
    val vd = transform(col("v"), x => x.cast("double"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val cos = dot(vd, col("centroid")) /
      (sqrt(dot(vd, vd)) * sqrt(dot(col("centroid"), col("centroid"))))
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("c_label"),
        round(cos, 6).as("cos"))
    val best = Ranks.perGroupTopK(scored, Seq("vec_id"),
      Seq(col("cos").desc, col("c_label").asc), 1)
    best.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_label") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("label").cast("bigint").as("label"), col("n"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n").cast("double"), 6)
          .as("recall"))
      .orderBy("label")
  }

  private val simNearestCentroidOracle =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |flat AS (
      |  SELECT label, u.i, u.x FROM e,
      |    LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i) u),
      |cents AS (
      |  SELECT label AS c_label, list(avg_x ORDER BY i) AS centroid FROM (
      |    SELECT label, i, AVG(x) AS avg_x FROM flat GROUP BY 1, 2)
      |  GROUP BY label),
      |scored AS (
      |  SELECT e.vec_id, e.label, c.c_label,
      |    ROUND(list_aggregate(list_transform(list_zip(e.v, c.centroid), p -> p[1] * p[2]), 'sum')
      |      / (SQRT(list_aggregate(list_transform(e.v, p -> p*p), 'sum'))
      |         * SQRT(list_aggregate(list_transform(c.centroid, p -> p*p), 'sum'))), 6) AS cos
      |  FROM e CROSS JOIN cents c),
      |best AS (
      |  SELECT vec_id, label, c_label FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, c_label ASC) AS rn FROM scored)
      |  WHERE rn = 1)
      |SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  round(CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS recall
      |FROM best GROUP BY label ORDER BY label""".stripMargin

  // ---- tokenize_roundtrip: id stream integrity audit -----------------

  /** Detokenization integrity: numericize every document against the
    * top-256 vocabulary (tokenize_ids' exact semantics), map ids back
    * to tokens, and count per source how many documents survive the
    * round trip losslessly (docs containing an OOV token map through
    * id 0 and cannot) — the audit that catches vocab/id drift between
    * the tokenizer that wrote the shards and the one reading them.
    * The vocab is broadcast both directions; comparison is one string
    * equality per doc. */
  private val tokenizeRoundtrip: Q = (s, dir) => {
    val vocab = Wave4.vocabFrame(s, dir).select("token", "token_id")
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(LlmPipeline.tokens(col("text"))).as(Seq("pos", "token")))
    val ids = toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("source"), col("pos"),
        coalesce(col("token_id"), lit(0L)).as("id"), col("token"))
    val back = ids.join(broadcast(vocab.select(col("token_id").as("id"),
        col("token").as("detok"))), Seq("id"), "left")
    val perDoc = back.groupBy("doc_id", "source")
      .agg(sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("detok") <=> col("token"), 0L).otherwise(1L)).as("n_mismatch"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_oov") === 0L, 1L).otherwise(0L)).as("n_lossless"),
        sum(when(col("n_mismatch") === col("n_oov"), 1L).otherwise(0L))
          .as("n_consistent"))
      .orderBy("source")
  }

  private val tokenizeRoundtripOracle =
    s"""WITH vocab AS (
       |  SELECT token, token_id FROM (
       |    SELECT token, CAST(count(*) AS BIGINT) AS freq,
       |      CAST(row_number() OVER (ORDER BY count(*) DESC, token) AS BIGINT) AS token_id
       |    FROM (SELECT unnest(${LlmPipeline.duckTokens}) AS token FROM documents) GROUP BY token)
       |  WHERE token_id <= 256),
       |toks AS (
       |  SELECT doc_id, source, u.pos, u.token FROM documents,
       |    LATERAL (SELECT unnest(${LlmPipeline.duckTokens}) AS token,
       |              generate_subscripts(${LlmPipeline.duckTokens}, 1) AS pos) u),
       |ids AS (
       |  SELECT t.doc_id, t.source, t.pos, COALESCE(v.token_id, 0) AS id, t.token
       |  FROM toks t LEFT JOIN vocab v ON t.token = v.token),
       |back AS (
       |  SELECT i.*, v2.token AS detok
       |  FROM ids i LEFT JOIN vocab v2 ON i.id = v2.token_id),
       |per_doc AS (
       |  SELECT doc_id, source,
       |    CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |    CAST(SUM(CASE WHEN detok IS NOT DISTINCT FROM token THEN 0 ELSE 1 END) AS BIGINT) AS n_mismatch
       |  FROM back GROUP BY 1, 2)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN n_oov = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lossless,
       |  CAST(SUM(CASE WHEN n_mismatch = n_oov THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "graph_triangles" -> graphTriangles,
    "sim_nearest_centroid" -> simNearestCentroid,
    "tokenize_roundtrip" -> tokenizeRoundtrip
  )

  val oracles: Map[String, String] = Map(
    "graph_triangles" -> graphTrianglesOracle,
    "sim_nearest_centroid" -> simNearestCentroidOracle,
    "tokenize_roundtrip" -> tokenizeRoundtripOracle
  )
}
