package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 tenth wave: deterministic multi-source training order.
  *
  * `corpus_interleave` assigns every document a global training
  * position that round-robins across sources — the "stream the mixture,
  * don't exhaust one source first" ordering a multi-corpus training run
  * needs, fully deterministic (content-hash order within source, no
  * RNG) so a resumed or re-sharded job re-derives the identical stream.
  */
object Wave17 {

  /** Round-robin interleave: within each source, documents order by
    * (md5(doc_id), doc_id) — shuffle_global's deterministic permutation
    * — taking per-source rank r; sources take a stable index si out of
    * k = |sources|; the global position is (r−1)·k + si. While every
    * source still has documents the stream cycles source 1..k; when a
    * source exhausts, its later slots are gaps (positions stay a total
    * order, which is all a reader needs).
    *
    * Scale shape: the per-source rank is the two-phase kernel (a
    * dominant source never serializes into one window task); the source
    * index is a DRIVER-BOUNDED dimension (sources are a catalog-sized
    * set — the same envelope as Ivf's centroids) collected once and
    * broadcast back; position arithmetic is a narrow map. No global
    * sort anywhere — the reader ORDER BYs pos per shard at read time. */
  private val corpusInterleave: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
    val ranked = Ranks.perGroupRank(d, Seq("source"),
      Seq(col("h"), col("doc_id")), rankCol = "r", nCol = "n_src",
      partitions = ConfScope.shufflePartitions(s))
    val sources = d.select("source").distinct().collect()
      .map(_.getString(0)).sorted
    val k = sources.length.toLong
    val idxRows = sources.zipWithIndex.map { case (src, i) =>
      Row(src, (i + 1).toLong) }
    val idxDf = s.createDataFrame(
      java.util.Arrays.asList(idxRows: _*),
      StructType(Seq(StructField("source", StringType, nullable = false),
        StructField("si", LongType, nullable = false))))
    ranked.join(broadcast(idxDf), "source")
      .select(col("doc_id"), col("source"), col("r"),
        ((col("r") - 1L) * lit(k) + col("si")).as("pos"))
      .orderBy("pos")
  }

  private val corpusInterleaveOracle =
    """WITH d AS (
      |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS r
      |  FROM d),
      |s AS (
      |  SELECT source,
      |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS si,
      |    CAST((SELECT count(DISTINCT source) FROM documents) AS BIGINT) AS k
      |  FROM (SELECT DISTINCT source FROM documents))
      |SELECT r.doc_id, r.source, r.r, (r.r - 1) * s.k + s.si AS pos
      |FROM r JOIN s USING (source)
      |ORDER BY pos""".stripMargin

  val queries: Map[String, Q] = Map("corpus_interleave" -> corpusInterleave)
  val oracles: Map[String, String] = Map("corpus_interleave" -> corpusInterleaveOracle)
}
