package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 66: observability histograms + script detection — an
  * HDR-style log-bucketed histogram with bucket-exact quantile reads
  * (how latency percentiles are actually served at scale: mergeable
  * integer buckets, never a global sort), and Unicode script-mix
  * profiling (the pre-langid read that catches mixed-script spam and
  * mislabeled CJK).
  */
object Wave66 {

  // ---- profile_hdr_latency: log-bucketed quantiles --------------------

  /** HDR-style histogram over positive event values (cents as a stand-in
    * for micros of latency): octave e = len(bin(c)) − 1 (INTEGER-exact —
    * no float log2 near power-of-two boundaries), 8 linear sub-buckets
    * per octave, so relative error is bounded by 12.5%. p50/p90/p99/p999
    * are the lower bound of the first bucket whose cumulative count
    * reaches ⌈p·n⌉ — computed on the model-sized bucket table (≤ 64·8
    * rows) with a triangular cumulative join. The histogram is one
    * integer aggregation: mergeable across shards/segments by
    * construction, the property that lets percentile dashboards
    * aggregate billions of points without a sort. */
  private val profileHdrLatency: Q = (s, dir) => {
    val c = Tables.load(s, dir, "events")
      .select(expr("cast(round(value * 100) as long)").as("c"))
      .filter(col("c") > 0)
    val bucketed = c
      .withColumn("e", (length(expr("bin(c)")) - 1).cast("long"))
      .withColumn("sub", expr("((c - shiftleft(cast(1 as bigint), cast(e as int))) * 8) div shiftleft(cast(1 as bigint), cast(e as int))"))
      .groupBy("e", "sub").agg(count(lit(1)).as("n"))
      .withColumn("lo", expr("(shiftleft(cast(1 as bigint), cast(e as int)) * (8 + sub)) div 8"))
      .localCheckpoint()
    val tot = bucketed.agg(sum("n").as("nt"))
    val cum = bucketed.as("a").join(bucketed.as("b"),
        col("b.e") < col("a.e") ||
          (col("b.e") === col("a.e") && col("b.sub") <= col("a.sub")))
      .groupBy(col("a.e").as("e"), col("a.sub").as("sub"), col("a.lo").as("lo"))
      .agg(sum(col("b.n")).as("cum"))
    val qs = Seq(("p50", 50L, 100L), ("p90", 90L, 100L), ("p99", 99L, 100L),
      ("p999", 999L, 1000L))
    val rows = qs.map { case (label, num, den) =>
      cum.crossJoin(broadcast(tot))
        .filter(col("cum") * den >= col("nt") * num)
        .agg(min("lo").as("bucket_lo_cents"))
        .select(lit(label).as("quantile"), col("bucket_lo_cents"))
    }
    rows.reduce(_.union(_))
      .crossJoin(broadcast(tot.select(col("nt").as("n_total"))))
      .select(col("quantile"), col("bucket_lo_cents"), col("n_total"))
      .orderBy("quantile")
  }

  private val profileHdrLatencyOracle = {
    val qs = Seq(("p50", 50, 100), ("p90", 90, 100), ("p99", 99, 100),
      ("p999", 999, 1000))
    val sel = qs.map { case (label, num, den) =>
      s"""SELECT '$label' AS quantile,
         |  (SELECT MIN(lo) FROM cum, tot WHERE cum * $den >= nt * $num)
         |    AS bucket_lo_cents,
         |  (SELECT nt FROM tot) AS n_total""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH c AS (
       |  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
       |  WHERE CAST(round(value * 100) AS BIGINT) > 0),
       |b AS MATERIALIZED (
       |  SELECT e, sub, CAST(count(*) AS BIGINT) AS n,
       |    ((1::BIGINT << CAST(e AS INT)) * (8 + sub)) // 8 AS lo
       |  FROM (
       |    SELECT e, ((c - (1::BIGINT << CAST(e AS INT))) * 8)
       |        // (1::BIGINT << CAST(e AS INT)) AS sub
       |    FROM (SELECT c, length(bin(c)) - 1 AS e FROM c))
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM b),
       |cum AS MATERIALIZED (
       |  SELECT a.e, a.sub, a.lo, CAST(SUM(bb.n) AS BIGINT) AS cum
       |  FROM b a JOIN b bb
       |    ON bb.e < a.e OR (bb.e = a.e AND bb.sub <= a.sub)
       |  GROUP BY 1, 2, 3)
       |SELECT quantile, bucket_lo_cents, n_total FROM ($sel)
       |ORDER BY quantile""".stripMargin
  }

  // ---- text_script_mix: Unicode script composition --------------------

  /** Script-mix profile per language label: every character classes as
    * latin (A–Z, a–z), han (CJK unified 0x4E00–0x9FFF), digit, space,
    * or other by CODEPOINT RANGE (integer comparisons — both engines
    * agree on BMP codepoints), aggregated to per-lang micro shares plus
    * the count of docs whose MAJORITY script is han — the cross-check
    * that catches text labeled `zh` that is actually latin (or spam
    * mixing scripts). Two aggregations, both data-sized once. */
  // NOT codegen-scoped: the r10 session-wide probe suggested 0.66 -> 0.25
  // here, but the r11 scoped A/B could never reproduce it — three
  // alternating clean-window cycles measured the scope WORSE (warm
  // 0.74-0.84 unscoped vs 0.81-1.02 scoped; cold +10%): the two-level
  // aggregate compiles several one-shot generated classes whose JIT the
  // single pass never amortizes. Scope dropped; A/B wall-clock decides.
  private val textScriptMix: Q = (s, dir) => {
    val chars = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .withColumn("cp", ascii(col("ch")))
      .withColumn("cls",
        when(col("cp").between(65, 90) || col("cp").between(97, 122), "latin")
          .when(col("cp").between(19968, 40959), "han")
          .when(col("cp").between(48, 57), "digit")
          .when(col("cp") === 32, "space")
          .otherwise("other"))
    val perDoc = chars.groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("nc"),
        sum(when(col("cls") === "latin", 1L).otherwise(0L)).as("lat"),
        sum(when(col("cls") === "han", 1L).otherwise(0L)).as("han"),
        sum(when(col("cls") === "digit", 1L).otherwise(0L)).as("dig"),
        sum(when(col("cls") === "space", 1L).otherwise(0L)).as("spc"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("nc").as("nc"), sum("lat").as("lat"), sum("han").as("han"),
        sum("dig").as("dig"), sum("spc").as("spc"),
        sum(when(col("han") * 2 > col("nc"), 1L).otherwise(0L))
          .as("n_majority_han"))
      .select(col("lang"), col("n_docs"),
        expr("(2 * lat * 1000000 + nc) div (2 * nc)").as("latin_micro"),
        expr("(2 * han * 1000000 + nc) div (2 * nc)").as("han_micro"),
        expr("(2 * dig * 1000000 + nc) div (2 * nc)").as("digit_micro"),
        expr("(2 * spc * 1000000 + nc) div (2 * nc)").as("space_micro"),
        col("n_majority_han"))
      .orderBy("lang")
  }

  private val textScriptMixOracle =
    """WITH chars AS MATERIALIZED (
      |  SELECT doc_id, lang, ord(ch) AS cp FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, '')) AS ch
      |    FROM documents)
      |  WHERE ch <> ''),
      |cl AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122) THEN 'latin'
      |         WHEN cp BETWEEN 19968 AND 40959 THEN 'han'
      |         WHEN cp BETWEEN 48 AND 57 THEN 'digit'
      |         WHEN cp = 32 THEN 'space'
      |         ELSE 'other' END AS cls
      |  FROM chars),
      |pd AS (
      |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS nc,
      |    CAST(SUM(CASE WHEN cls = 'latin' THEN 1 ELSE 0 END) AS BIGINT) AS lat,
      |    CAST(SUM(CASE WHEN cls = 'han' THEN 1 ELSE 0 END) AS BIGINT) AS han,
      |    CAST(SUM(CASE WHEN cls = 'digit' THEN 1 ELSE 0 END) AS BIGINT) AS dig,
      |    CAST(SUM(CASE WHEN cls = 'space' THEN 1 ELSE 0 END) AS BIGINT) AS spc
      |  FROM cl GROUP BY 1, 2)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST((2 * SUM(lat) * 1000000 + SUM(nc)) // (2 * SUM(nc)) AS BIGINT) AS latin_micro,
      |  CAST((2 * SUM(han) * 1000000 + SUM(nc)) // (2 * SUM(nc)) AS BIGINT) AS han_micro,
      |  CAST((2 * SUM(dig) * 1000000 + SUM(nc)) // (2 * SUM(nc)) AS BIGINT) AS digit_micro,
      |  CAST((2 * SUM(spc) * 1000000 + SUM(nc)) // (2 * SUM(nc)) AS BIGINT) AS space_micro,
      |  CAST(SUM(CASE WHEN han * 2 > nc THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_majority_han
      |FROM pd GROUP BY lang ORDER BY lang""".stripMargin

  val queries: Map[String, Q] = Map(
    "profile_hdr_latency" -> profileHdrLatency,
    "text_script_mix" -> textScriptMix
  )

  val oracles: Map[String, String] = Map(
    "profile_hdr_latency" -> profileHdrLatencyOracle,
    "text_script_mix" -> textScriptMixOracle
  )
}
