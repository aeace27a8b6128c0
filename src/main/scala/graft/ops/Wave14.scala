package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 seventh wave: schema semantics discovery + packing economics.
  *
  * - `profile_fd`: functional-dependency discovery over a declared
  *   candidate set — the profiler step that finds the hidden keys and
  *   denormalizations (A → B holds iff |distinct A| = |distinct (A,B)|).
  * - `corpus_pack_efficiency`: the padding/truncation budget of
  *   corpus_pack's 512-token windows per stream — the sheet that says
  *   what the context-window choice actually costs in wasted tokens.
  */
object Wave14 {

  // ---- profile_fd: functional-dependency discovery ---------------------

  /** Candidate (table, lhs, rhs) triples worth testing: declared keys,
    * suspected denormalizations, and two expected failures so the query
    * demonstrates both verdicts. */
  private val fdCandidates: Seq[(String, String, String)] = Seq(
    ("nation", "n_nationkey", "n_name"),
    ("nation", "n_regionkey", "n_name"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("part", "p_partkey", "p_brand"),
    ("part", "p_brand", "p_type"))

  /** A → B holds iff the distinct count of A equals the distinct count
    * of (A, B): each determinant value maps to exactly one dependent
    * value. One aggregation per table computes every candidate pair on
    * that table in a single pass (Spark plans the multi-distinct via
    * one expand — table count, not candidate count, bounds the scans).
    * Candidate columns are NOT NULL by schema: Spark's multi-column
    * countDistinct drops rows with a NULL in ANY argument while a
    * SELECT DISTINCT pair-count keeps them, so nullable candidates
    * would need a sentinel coalesce first. At 100 TB the same query
    * swaps countDistinct for the HLL sketch (agg_approx_distinct's
    * rewrite) — FD *discovery* tolerates approximation; FD *proof*
    * runs this exact form on the narrowed candidates. */
  private val profileFd: Q = (s, dir) => {
    val perTable = fdCandidates.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (tbl, cands) =>
        val aggs = cands.zipWithIndex.flatMap { case ((_, a, b), i) =>
          Seq(countDistinct(col(a)).as(s"l$i"),
            countDistinct(col(a), col(b)).as(s"p$i"))
        }
        val row = Tables.load(s, dir, tbl).agg(aggs.head, aggs.tail: _*)
        row.select(explode(array(cands.zipWithIndex.map { case ((_, a, b), i) =>
          struct(lit(tbl).as("tbl"), lit(a).as("lhs"), lit(b).as("rhs"),
            col(s"l$i").as("n_lhs"), col(s"p$i").as("n_pairs"),
            (col(s"l$i") === col(s"p$i")).as("holds"))
        }: _*)).as("fd")).select("fd.*")
    }
    perTable.reduce(_ union _).orderBy("tbl", "lhs", "rhs")
  }

  private val profileFdOracle: String =
    fdCandidates.sortBy(_._1).map { case (tbl, a, b) =>
      s"""SELECT '$tbl' AS tbl, '$a' AS lhs, '$b' AS rhs,
         |  CAST(COUNT(DISTINCT $a) AS BIGINT) AS n_lhs,
         |  CAST((SELECT COUNT(*) FROM (SELECT DISTINCT $a, $b FROM $tbl)) AS BIGINT) AS n_pairs,
         |  COUNT(DISTINCT $a) = (SELECT COUNT(*) FROM (SELECT DISTINCT $a, $b FROM $tbl)) AS holds
         |FROM $tbl""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, lhs, rhs")

  // ---- corpus_pack_efficiency: the padding/truncation budget -----------

  /** Packing economics for corpus_pack's contiguous 512-token windows:
    * per (lang, source) stream — pack count, token total, padding mass
    * (tokens short of 512 in under-full packs) and overflow mass
    * (tokens past 512 in packs whose last document crossed the
    * boundary). This is the budget sheet that decides whether the
    * window size (or the doc-spanning policy) needs to change BEFORE a
    * 100 TB tokenization run pays for it.
    *
    * Rides corpus_pack's audited plan (the two-phase prefix sum) plus
    * two hash aggregations on its output — (stream, pack) then stream —
    * all exact integers. */
  private val corpusPackEfficiency: Q = (s, dir) => {
    val packed = Wave3.queries("corpus_pack")(s, dir)
    val packs = packed.groupBy("lang", "source", "pack_id")
      .agg(sum("n_tok").as("pack_tok"), count(lit(1)).as("n_docs"))
    packs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_packs"),
        sum("pack_tok").as("tok_total"),
        sum(greatest(lit(0L), lit(512L) - col("pack_tok"))).as("pad_total"),
        sum(greatest(lit(0L), col("pack_tok") - lit(512L))).as("overflow_total"),
        max("n_docs").as("max_docs_per_pack"))
      .orderBy("lang", "source")
  }

  private def corpusPackEfficiencyOracle: String = {
    val pack = Wave3.oracles("corpus_pack")
    s"""WITH packed AS ($pack),
       |packs AS (
       |  SELECT lang, source, pack_id,
       |    CAST(SUM(n_tok) AS BIGINT) AS pack_tok,
       |    CAST(count(*) AS BIGINT) AS n_docs
       |  FROM packed GROUP BY 1, 2, 3)
       |SELECT lang, source,
       |  CAST(count(*) AS BIGINT) AS n_packs,
       |  CAST(SUM(pack_tok) AS BIGINT) AS tok_total,
       |  CAST(SUM(GREATEST(0, 512 - pack_tok)) AS BIGINT) AS pad_total,
       |  CAST(SUM(GREATEST(0, pack_tok - 512)) AS BIGINT) AS overflow_total,
       |  MAX(n_docs) AS max_docs_per_pack
       |FROM packs GROUP BY 1, 2 ORDER BY lang, source""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "profile_fd" -> profileFd,
    "corpus_pack_efficiency" -> corpusPackEfficiency)

  val oracles: Map[String, String] = Map(
    "profile_fd" -> profileFdOracle,
    "corpus_pack_efficiency" -> corpusPackEfficiencyOracle)
}
