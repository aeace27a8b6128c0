package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-7 wave 86: fully hash-checked ANN index twins. sim_ivf and
  * sim_pq stay rows-only (their k-means/xxhash training is engine-
  * specific), so — the sim_ann_lsh_md5 / dedup_minhash_md5 precedent —
  * each gets an md5-seeded, exact-integer twin whose ENTIRE index
  * pipeline (seeding → assignment/encoding → probe/ADC → top-k) is
  * reproducible in DuckDB SQL and therefore hash-checked end to end.
  *
  * Exactness contract: embeddings quantize to `floor(x_double * 1e6)`
  * longs (identical float→double promotion + floor in both engines),
  * every score is integer arithmetic (dot ≤ 64·(6e5)² ≈ 2.3e13,
  * L2² ≤ 8·(1.2e6)² ≈ 1.2e13 — far inside long), and every argmax/
  * argmin tie breaks to the lowest id — so no float boundary can flip
  * an assignment between engines. Scale shape matches the production
  * paths (Ivf.scala / Pq.scala): the codebook/centroid set is
  * model-sized driver state inlined as literals, assignment is one
  * narrow per-row map, only probed cells pay the exact rerank.
  */
object Wave86 {

  /** Quantized corpus: (vec_id, q = floor(x·1e6) longs). */
  private def qemb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1e6)).as("q"))

  private val duckQ =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"

  /** Exact integer dot of array column `v` against a literal. */
  private def dotLit(v: Column, c: Array[Long]): Column =
    aggregate(zip_with(v, typedLit(c.toSeq), (x, y) => x * y),
      lit(0L), (a, x) => a + x)

  /** md5-ordered seed rows: the k vectors with lexicographically
    * smallest md5(vec_id || salt); index in that order = cell/code id.
    * Model-sized driver collect, the standard trained-model contract. */
  private def md5Seeds(e: DataFrame, salt: String, k: Int): Array[Array[Long]] =
    e.withColumn("h",
        md5(concat(col("vec_id").cast("string"), lit(salt)).cast("binary")))
      .orderBy("h").limit(k)
      .select("q").collect()
      .map(_.getSeq[Long](0).toArray)

  // ---- sim_ivf_md5: hash-checked IVF probe path --------------------------

  /** IVF with md5-seeded centroids (k=16, nprobe=4) over the quantized
    * corpus: assign every vector to its max-integer-dot centroid
    * (ties → lowest cell), probe the 4 cells whose centroids score
    * highest against the query (vec 0), exact integer-dot top-10
    * inside the probed cells. Same probe shape as Ivf.simIvf —
    * centroid literals ride the plan, assignment is a narrow map, the
    * probe filter keeps (nprobe/k)·corpus rows — but every number is
    * an exact long, so the DuckDB twin hash-matches. */
  private val simIvfMd5: Q = (s, dir) => {
    val e = qemb(s, dir)
    val cents = md5Seeds(e, "#ivf", 16)
    // all 16 centroid dots in ONE bound array column (each dot
    // evaluates exactly once per row — a flat 16×64-term expression
    // tree or a when-chain over unbound dots both blow codegen past
    // the JIT limit and run slower interpreted); argmax via
    // array_position(first max) keeps the ties-to-lowest-cell rule
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val assigned = e
      .withColumn("ds", transform(centsLit,
        c => aggregate(zip_with(col("q"), c, (x, y) => x * y),
          lit(0L), (a, x) => a + x)))
      .withColumn("cell",
        (array_position(col("ds"), array_max(col("ds"))) - 1).cast("int"))
      .select("vec_id", "q", "cell")
    val qv = e.filter(col("vec_id") === 0).select("q").collect()(0)
      .getSeq[Long](0).toArray
    // probe set: exact driver-side integer argmax over k model rows
    val probe = cents.zipWithIndex
      .map { case (c, i) =>
        (c.zip(qv).map { case (a, b) => BigInt(a) * b }.sum, i) }
      .sortBy { case (d, i) => (-d, i) }.take(4).map(_._2)
    assigned.filter(col("cell").isin(probe: _*))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), dotLit(col("q"), qv).as("dot"))
      .orderBy(desc("dot"), asc("vec_id"))
      .limit(10)
  }

  private val simIvfMd5Oracle: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, $duckQ AS q FROM embeddings),
       |seeds AS MATERIALIZED (
       |  SELECT q AS c,
       |    row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR) || '#ivf')) - 1 AS cell
       |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR) || '#ivf') LIMIT 16),
       |dots AS MATERIALIZED (
       |  SELECT e.vec_id, s.cell,
       |    list_aggregate(list_transform(list_zip(e.q, s.c),
       |      x -> x[1] * x[2]), 'sum') AS d
       |  FROM e, seeds s),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell)
       |        AS rk
       |    FROM dots) WHERE rk = 1),
       |probe AS (
       |  SELECT cell FROM dots WHERE vec_id = 0
       |  ORDER BY d DESC, cell LIMIT 4),
       |qv AS (SELECT q AS qq FROM e WHERE vec_id = 0)
       |SELECT e.vec_id,
       |  CAST(list_aggregate(list_transform(list_zip(e.q, qq),
       |    x -> x[1] * x[2]), 'sum') AS BIGINT) AS dot
       |FROM e JOIN asg USING (vec_id) JOIN probe USING (cell), qv
       |WHERE e.vec_id <> 0
       |ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin

  // ---- sim_pq_md5: hash-checked PQ ADC path ------------------------------

  /** Product quantization with md5-seeded codebooks (m=8 subspaces of
    * dim 8, k=16 codes = the 16 md5-lowest vectors' subvectors):
    * encode every vector per-subspace to its min-L2² codeword
    * (ties → lowest code), then rank by ADC — the query's exact
    * integer distance-table entry for each stored code, summed over
    * subspaces (Jégou et al., TPAMI 2011; same shape as Pq.scala's
    * production path). The distance table is 8×16 driver longs baked
    * into a chained-when lookup, so scoring a row touches only its 8
    * stored codes — never the raw corpus vector. */
  private val simPqMd5: Q = (s, dir) => {
    val e = qemb(s, dir)
    val seeds = md5Seeds(e, "#pq", 16)
    val cw: Array[Array[Array[Long]]] =
      Array.tabulate(8)(sub => seeds.map(_.slice(8 * sub, 8 * sub + 8)))
    val qv = e.filter(col("vec_id") === 0).select("q").collect()(0)
      .getSeq[Long](0).toArray
    // ADC distance table: exact driver-side longs, 8×16 model state
    val qdt: Array[Array[Long]] = Array.tabulate(8) { sub =>
      val qs = qv.slice(8 * sub, 8 * sub + 8)
      cw(sub).map(c => qs.zip(c).map { case (a, b) =>
        (a - b) * (a - b) }.sum)
    }
    // Per subspace, all 16 codeword L2²s live in ONE bound array
    // column, so each evaluates exactly once per row (the naive form —
    // 16 unbound L2 expressions re-read by least() and every when()
    // branch — re-evaluated each ~40× per row, shipped 76 MiB task
    // binaries, and ran 77 s at sf0.1; this form runs ~2 s). The
    // stored code is argmin = array_position(first min), ties to the
    // lowest code; the ADC contribution is one element_at into the
    // 16-entry literal distance table.
    val bound = (0 until 8).foldLeft(e) { (df, sub) =>
      val cwLit = typedLit(cw(sub).map(_.toSeq).toSeq)
      df.withColumn(s"l2_$sub", transform(cwLit,
        c => aggregate(
          zip_with(slice(col("q"), 8 * sub + 1, 8), c,
            (x, y) => (x - y) * (x - y)),
          lit(0L), (a, x) => a + x)))
    }
    val adist = (0 until 8).map { sub =>
      element_at(typedLit(qdt(sub).toSeq),
        array_position(col(s"l2_$sub"), array_min(col(s"l2_$sub")))
          .cast("int"))
    }.reduce(_ + _)
    bound.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), adist.as("adist"))
      .orderBy(asc("adist"), asc("vec_id"))
      .limit(10)
  }

  private val simPqMd5Oracle: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, $duckQ AS q FROM embeddings),
       |seeds AS MATERIALIZED (
       |  SELECT q AS c,
       |    row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR) || '#pq')) - 1 AS j
       |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR) || '#pq') LIMIT 16),
       |subs AS (SELECT unnest(range(8)) AS s),
       |sub AS MATERIALIZED (
       |  SELECT vec_id, s, q[8 * s + 1 : 8 * s + 8] AS v FROM e, subs),
       |cw AS MATERIALIZED (
       |  SELECT j, s, c[8 * s + 1 : 8 * s + 8] AS w FROM seeds, subs),
       |d AS MATERIALIZED (
       |  SELECT sub.vec_id, sub.s, cw.j,
       |    list_aggregate(list_transform(list_zip(v, w),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS l2
       |  FROM sub JOIN cw USING (s)),
       |enc AS (
       |  SELECT vec_id, s, j AS code FROM (
       |    SELECT vec_id, s, j,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY l2, j) AS rk
       |    FROM d) WHERE rk = 1),
       |qdt AS (SELECT s, j, l2 FROM d WHERE vec_id = 0)
       |SELECT enc.vec_id, CAST(SUM(qdt.l2) AS BIGINT) AS adist
       |FROM enc JOIN qdt ON qdt.s = enc.s AND qdt.j = enc.code
       |WHERE enc.vec_id <> 0
       |GROUP BY enc.vec_id
       |ORDER BY adist, vec_id LIMIT 10""".stripMargin

  val queries: Map[String, Q] = Map(
    "sim_ivf_md5" -> simIvfMd5,
    "sim_pq_md5" -> simPqMd5
  )

  val oracles: Map[String, String] = Map(
    "sim_ivf_md5" -> simIvfMd5Oracle,
    "sim_pq_md5" -> simPqMd5Oracle
  )
}
