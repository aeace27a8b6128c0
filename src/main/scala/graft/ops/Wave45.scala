package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 45: spectral structure + ranking quality — the top
  * principal direction of the embedding space by distributed power
  * iteration (PCA whitening / anisotropy removal is a standard
  * embedding post-process), with every superstep quantized to exact
  * integers so the iteration is bit-identical across engines; and
  * NDCG@100 of the heuristic quality score against an is-English
  * relevance label (the standard ranking-eval read).
  */
object Wave45 {

  private val Iters = 12

  // ---- embed_pca_power: top principal direction ----------------------

  /** Power iteration for the dominant eigenvector of the (uncentered)
    * second-moment matrix of the embeddings. The ONLY data-sized work
    * is the one pass building the dims² Gram cells (pair-exploded —
    * dims²·rows products; at web scale this pass samples or
    * mapPartitions-accumulates, the iteration itself never re-reads
    * data). Everything else runs on the 64×64 cell table: 12 supersteps
    * of matvec → truncate → normalize → requantize, all in exact
    * integer arithmetic (vectors live as nano-unit longs, sums as
    * DECIMAL(38,0)), so both engines walk the same orbit bit for bit.
    * Output: the 64 loadings of v* and the Rayleigh-quotient
    * eigenvalue, both from exact rational rounding. */
  private val embedPcaPower: Q = (s, dir) => {
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    // Gram cells from a per-partition ACCUMULATOR (the mapPartitions
    // kernel the r06 Scaladoc promised for web scale): each task folds
    // its rows into a fixed 64×64 hi/lo long pair (quantized magnitudes
    // are asserted < 2^31 so each product stays < 4.6e18 — inside Long;
    // hi/lo increments are then ≤ ~4.6e9 per row, so cross-row sums stay
    // exact out to ~1e9 rows per task before a Long could saturate),
    // emits exactly 4096 cells, and one dims²-sized decimal
    // aggregate recombines tasks. No join, no explode — the r06 plan
    // self-joined the exploded table (two rows×64 shuffles); the first
    // r07 form exploded rows×4096 products through the hash aggregate.
    // Quantization floor(x·1e9 + 0.5) is the same IEEE expression,
    // evaluated in Scala.
    import s.implicits._
    val cellsRaw = Tables.load(s, dir, "embeddings")
      .select(col("embedding")).as[Seq[Float]]
      .mapPartitions { it =>
        val hi = new Array[Long](64 * 64)
        val lo = new Array[Long](64 * 64)
        var any = false
        it.foreach { emb =>
          val xq = new Array[Long](64)
          var d = 0
          while (d < 64) {
            xq(d) = math.floor(emb(d).toDouble * 1e9 + 0.5).toLong
            // overflow guard: the Long-product kernel is only exact while
            // |xq| < 2^31 (|x| ≲ 2.1); the old DECIMAL(38,0) Gram join was
            // overflow-proof, so fail loudly rather than wrap silently
            require(math.abs(xq(d)) < 2147483648L,
              s"embed_pca_power: |embedding| ${emb(d)} exceeds the exact " +
                "Long-product bound (|x| < ~2.1); widen to BigInt cells")
            d += 1
          }
          any = true
          var i = 0
          while (i < 64) {
            val xi = xq(i); var j = 0
            while (j < 64) {
              val p = xi * xq(j); val k = i * 64 + j
              hi(k) += p / 1000000000L; lo(k) += p % 1000000000L
              j += 1
            }
            i += 1
          }
        }
        if (!any) Iterator.empty
        else (0 until 64).iterator.flatMap { i =>
          (0 until 64).iterator.map { j =>
            val k = i * 64 + j
            val v = BigInt(hi(k)) * 1000000000L + lo(k)
            (i, j, v.toString)
          }
        }
      }
      .toDF("i", "j", "praw")
    val cells = cellsRaw
      .groupBy("i", "j")
      .agg(sum(d38(col("praw"))).as("m_raw"))
      .withColumn("m", signum(col("m_raw")).cast(DecimalType(38, 0)) *
        expr("abs(m_raw) div 1000000000"))
      .select("i", "j", "m")
    // The Gram matrix is dims² = 64×64 — MODEL-sized — so the 12
    // power-iteration supersteps run on the DRIVER in exact BigInt
    // (the Ivf.train trained-model contract): identical integer
    // arithmetic to the r06 distributed loop (which paid ~24 tiny
    // checkpoint/broadcast jobs for 4096-row inputs — pure scheduler
    // overhead), and still bit-identical to the DuckDB oracle's CTE
    // chain. Data-sized work is exactly two jobs: the Gram pass and
    // the row count.
    import s.implicits._
    val m: Map[(Int, Int), BigInt] = cells.collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        BigInt(r.getDecimal(2).toBigInteger))).toMap
    val dims = m.keys.map(_._1).toSeq.distinct.sorted
    def matvec(v: Map[Int, Long]): Map[Int, BigInt] =
      dims.map(i => i ->
        dims.map(j => m.getOrElse((i, j), BigInt(0)) * v(j)).sum).toMap
    var v: Map[Int, Long] = dims.map(_ -> 1000000000L).toMap
    for (_ <- 1 to Iters) {
      val wq = matvec(v).map { case (i, x) =>
        i -> x.signum * (x.abs / BigInt(1000000000000L)) }
      val n2 = wq.values.map(x => x * x).sum
      v = dims.map(i => i ->
        math.floor(wq(i).toDouble * 1e9 / math.sqrt(n2.toDouble) + 0.5)
          .toLong).toMap
    }
    // Rayleigh quotient λ = (v·Mq·v)/(v·v), in original units: divide
    // by (1e9·n_rows); exact rational half-up at 6 dp
    val wFin = matvec(v)
    val numRaw = dims.map(i => wFin(i) * v(i)).sum
    val vv = dims.map(i => BigInt(v(i)) * v(i)).sum
    val nRows = Tables.load(s, dir, "embeddings").count()
    val num2 = numRaw.signum * (numRaw.abs / 1000000L)
    val den2 = vv * nRows * 1000L
    val lamMicro = num2.signum *
      ((2 * num2.abs * 1000000L + den2) / (2 * den2))
    val eigenvalue = lamMicro.toDouble / 1e6
    dims.map(i => (i, v(i).toDouble / 1e9, eigenvalue))
      .toDF("dim", "loading", "eigenvalue")
      .orderBy("dim")
  }

  private val embedPcaPowerOracle: String = {
    val iterCtes = (1 to Iters).map { k =>
      val pv = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS MATERIALIZED (
         |  SELECT c.i AS wd,
         |    CASE WHEN SUM(c.m * v.v) < 0 THEN -1 ELSE 1 END *
         |      (abs(SUM(c.m * v.v)) // 1000000000000) AS wq
         |  FROM cells c JOIN $pv v ON c.j = v.dim GROUP BY c.i),
         |n$k AS MATERIALIZED (SELECT SUM(wq * wq) AS n2 FROM w$k),
         |v$k AS MATERIALIZED (
         |  SELECT wd AS dim,
         |    CAST(FLOOR(CAST(wq AS DOUBLE) * 1e9 / sqrt(CAST(n2 AS DOUBLE)) + 0.5)
         |      AS BIGINT) AS v
         |  FROM w$k, n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, u.dim AS dim,
       |    CAST(FLOOR(CAST(u.x AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS xn
       |  FROM embeddings,
       |    unnest(list_transform(range(len(embedding)),
       |      i -> {'dim': i, 'x': embedding[i+1]})) AS t(u)),
       |cells AS MATERIALIZED (
       |  SELECT a.dim AS i, b.dim AS j,
       |    CASE WHEN SUM(CAST(a.xn AS HUGEINT) * b.xn) < 0 THEN -1 ELSE 1 END *
       |      (abs(SUM(CAST(a.xn AS HUGEINT) * b.xn)) // 1000000000) AS m
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT i AS dim, CAST(1000000000 AS BIGINT) AS v FROM cells),
       |$iterCtes,
       |wf AS (
       |  SELECT c.i AS wd, SUM(c.m * v.v) AS w
       |  FROM cells c JOIN v$Iters v ON c.j = v.dim GROUP BY c.i),
       |vw AS (
       |  SELECT SUM(w.w * v.v) AS num_raw, SUM(CAST(v.v AS HUGEINT) * v.v) AS vv
       |  FROM wf w JOIN v$Iters v ON w.wd = v.dim),
       |nr AS (SELECT CAST(count(*) AS HUGEINT) AS n_rows FROM embeddings),
       |lam AS (
       |  SELECT CAST(
       |    CASE WHEN num_raw < 0 THEN -1 ELSE 1 END *
       |      ((2 * (abs(num_raw) // 1000000) * 1000000 + vv * n_rows * 1000)
       |        // (2 * (vv * n_rows * 1000))) AS DOUBLE) / 1e6 AS eigenvalue
       |  FROM vw, nr)
       |SELECT dim, CAST(v AS DOUBLE) / 1e9 AS loading, eigenvalue
       |FROM v$Iters, lam ORDER BY dim""".stripMargin
  }

  // ---- eval_ndcg: ranking quality of the heuristic score -------------

  /** NDCG@100 of the stopword/punctuation quality score against
    * rel = (lang = 'en'): DCG from the top-100 ranking (deterministic
    * doc_id tie-break), IDCG from the ideal prefix of the n_en
    * relevant docs. Per-position gains quantize to pico-unit longs
    * with the same IEEE ops on both engines, so the 100-term sums are
    * exact and order-free. Global top-k is TakeOrdered-shaped;
    * everything after runs on 100 rows. */
  private val evalNdcg: Q = (s, dir) => {
    val toks = LlmPipeline.tokens(col("text"))
    val enStop = Seq("the", "and", "of", "to", "in", "is", "a", "that")
    val nTok = size(toks).cast("bigint")
    val nChars = length(col("text")).cast("bigint")
    val nClean = length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")).cast("bigint")
    val stopHits = size(array_intersect(array_distinct(toks), typedLit(enStop)))
      .cast("bigint")
    val scored = Tables.load(s, dir, "documents")
      .filter(nTok > 0 && nChars > 0)
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("rel"),
        ((lit(1.0) - (nChars - nClean).cast("double") / nChars.cast("double")) * 0.5 +
          (stopHits.cast("double") / nTok.cast("double")) * 0.5).as("q"))
    val nen = scored.agg(sum("rel").as("n_en"))
    val top = scored.orderBy(desc("q"), col("doc_id")).limit(100)
      .withColumn("pos",
        row_number().over(Window.orderBy(desc("q"), col("doc_id"))).cast("long"))
      .crossJoin(broadcast(nen))
    // picogain quantization with identical IEEE ops on both engines
    def gain(relc: Column) = floor(
      relc.cast("double") / (log(col("pos").cast("double") + 1.0) / math.log(2.0))
        * 1e12 + 0.5).cast("long")
    top.agg(
      max("n_en").as("n_en"),
      sum(gain(col("rel"))).as("dcg_p"),
      sum(gain(when(col("pos") <= col("n_en"), 1L).otherwise(0L))).as("idcg_p"))
      .select(col("n_en"),
        (col("dcg_p").cast("double") / 1e12).as("dcg"),
        (col("idcg_p").cast("double") / 1e12).as("idcg"),
        (floor(col("dcg_p").cast("double") / col("idcg_p").cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6).as("ndcg"))
  }

  private val evalNdcgOracle =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT) ELSE 0 END AS rel,
       |    (1.0 - CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
       |        AS DOUBLE) / LENGTH(text)) * 0.5 +
       |      (CAST(${LlmPipeline.duckHits("en")} AS DOUBLE)
       |        / len(${LlmPipeline.duckTokens})) * 0.5 AS q
       |  FROM documents
       |  WHERE len(${LlmPipeline.duckTokens}) > 0 AND LENGTH(text) > 0),
       |nen AS (SELECT CAST(SUM(rel) AS BIGINT) AS n_en FROM scored),
       |top AS (
       |  SELECT rel, CAST(ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS pos
       |  FROM scored ORDER BY q DESC, doc_id LIMIT 100),
       |g AS (
       |  SELECT n_en,
       |    CAST(FLOOR(CAST(rel AS DOUBLE) / (ln(pos + 1.0) / ln(2.0)) * 1e12 + 0.5)
       |      AS BIGINT) AS dg,
       |    CAST(FLOOR(CASE WHEN pos <= n_en THEN 1.0 ELSE 0.0 END
       |      / (ln(pos + 1.0) / ln(2.0)) * 1e12 + 0.5) AS BIGINT) AS ig
       |  FROM top, nen),
       |agg AS (
       |  SELECT MAX(n_en) AS n_en, CAST(SUM(dg) AS BIGINT) AS dcg_p,
       |    CAST(SUM(ig) AS BIGINT) AS idcg_p FROM g)
       |SELECT n_en, CAST(dcg_p AS DOUBLE) / 1e12 AS dcg,
       |  CAST(idcg_p AS DOUBLE) / 1e12 AS idcg,
       |  CAST(FLOOR(CAST(dcg_p AS DOUBLE) / CAST(idcg_p AS DOUBLE) * 1e6 + 0.5)
       |    AS DOUBLE) / 1e6 AS ndcg
       |FROM agg""".stripMargin

  val queries: Map[String, Q] = Map(
    "embed_pca_power" -> embedPcaPower,
    "eval_ndcg" -> evalNdcg
  )

  val oracles: Map[String, String] = Map(
    "embed_pca_power" -> embedPcaPowerOracle,
    "eval_ndcg" -> evalNdcgOracle
  )
}
