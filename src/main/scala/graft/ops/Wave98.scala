package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-9 wave 98: synchronous label propagation (the near-linear
  * community-detection workhorse — distinct from wave 3's min-label
  * connected components, which ignores weights, and wave 62's
  * single-phase Louvain move, which optimizes modularity) and banded
  * edit-distance dedup (the record-linkage classic: block, then
  * Levenshtein only within blocks — the missing EDIT-metric member of
  * the dedup family next to shingle-Jaccard, MinHash, SimHash and
  * embedding-cosine).
  */
object Wave98 {

  // ---- graph_label_prop: synchronous weighted LPA ---------------------

  private val LpaRounds = 6

  /** Sync LPA over the shared-customer supplier graph
    * ([[SupplierGraph.pairWeights]]): each round every node adopts the
    * label with the largest incident edge-weight sum among its
    * neighbours (tie → smallest label), all nodes updating from the
    * PREVIOUS round's labels — deterministic, so both engines replay
    * the same [[LpaRounds]] supersteps (unrolled as MATERIALIZED CTEs
    * in the oracle; symmetric constant per the fixture-pin ledger).
    * Output: each node's community plus its size. */
  private val graphLabelProp: Q = (s, dir) =>
    labelPropagation(SupplierGraph.pairWeights(s, dir))

  /** Sync LPA over a weighted pair list (p1, p2, w), on the
    * connected-components recipe ([[Wave3.connectedComponents]]):
    *  - The undirected edge list (each pair both ways, 2·ne rows) is the
    *    loop input of [[graft.engine.ConfScope.superstepOver]]: the
    *    data-sized pair-weight aggregate behind it — the one skew-prone
    *    shuffle here — runs in that pin, under the session conf.
    *  - In the superstep scope the edges are cached keyed by the join key
    *    `nb`, and a round is one SHUFFLE_HASH join of that layout against
    *    the node-sized label table (never broadcast: under the hint no
    *    round runs a broadcast job), one (node, label) weight aggregate
    *    and the per-node pick, pinned with [[graft.engine.ConfScope.pin]].
    *    At width 1 a round is one job of one stage.
    *  - The community sizes and the supplier order are built on the last
    *    pin inside the scope and pinned too, so the query's action reads
    *    one pin in one job.
    * The cached edge layout is released on every exit. */
  private[graft] def labelPropagation(e: DataFrame): DataFrame =
    ConfScope.superstepOver(
        e.select(expr("stack(2, p1, p2, w, p2, p1, w) AS (s, nb, w)"))) {
        (edges, _, width) =>
      val byNb = edges.repartition(width, col("nb")).persist()
      try {
        // the edge list is symmetric, so its nb values are the node set
        var lab = ConfScope.pin(byNb.select(col("nb").as("s")).distinct()
          .withColumn("lab", col("s"))).df
        for (_ <- 1 to LpaRounds) {
          val votes = byNb
            .join(lab.select(col("s").as("nb"), col("lab")).hint("shuffle_hash"), Seq("nb"))
            .groupBy("s", "lab").agg(sum("w").as("sw"))
          val pick = Window.partitionBy("s").orderBy(desc("sw"), asc("lab"))
          lab = ConfScope.pin(votes.withColumn("rn", row_number().over(pick))
            .filter(col("rn") === 1).select(col("s"), col("lab"))).df
        }
        val sizes = lab.groupBy("lab").agg(count(lit(1)).as("csize"))
        ConfScope.pin(lab.join(sizes.hint("shuffle_hash"), "lab")
          .select(col("s").as("supplier"), col("lab").as("community"), col("csize"))
          .orderBy("supplier")).df
      } finally byNb.unpersist(false)
    }

  private val graphLabelPropOracle: String = {
    def round(k: Int): String = {
      val prev = if (k == 1) "l0" else s"l${k - 1}"
      s"""l$k AS MATERIALIZED (
         |  SELECT s, lab FROM (
         |    SELECT s, lab, SUM(sw) AS sw,
         |      row_number() OVER (PARTITION BY s
         |        ORDER BY SUM(sw) DESC, lab ASC) AS rn
         |    FROM (
         |      SELECT e.p1 AS s, l.lab, SUM(e.w) AS sw
         |      FROM e JOIN $prev l ON l.s = e.p2 GROUP BY 1, 2
         |      UNION ALL
         |      SELECT e.p2, l.lab, SUM(e.w)
         |      FROM e JOIN $prev l ON l.s = e.p1 GROUP BY 1, 2)
         |    GROUP BY s, lab) WHERE rn = 1)""".stripMargin
    }
    s"""WITH ce AS MATERIALIZED (
       |  SELECT o_orderkey AS ok, o_custkey AS c FROM orders),
       |le AS MATERIALIZED (
       |  SELECT DISTINCT ce.c, l.l_suppkey AS p
       |  FROM ce JOIN lineitem l ON l.l_orderkey = ce.ok),
       |e AS MATERIALIZED (
       |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS w
       |  FROM le a JOIN le b ON a.c = b.c AND a.p < b.p
       |  GROUP BY 1, 2),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT s FROM (
       |    SELECT p1 AS s FROM e UNION ALL SELECT p2 FROM e)),
       |l0 AS MATERIALIZED (SELECT s, s AS lab FROM nodes),
       |${(1 to LpaRounds).map(round).mkString(",\n")},
       |sizes AS (SELECT lab, CAST(count(*) AS BIGINT) AS csize
       |  FROM l$LpaRounds GROUP BY 1)
       |SELECT l.s AS supplier, l.lab AS community, sizes.csize
       |FROM l$LpaRounds l JOIN sizes USING (lab)
       |ORDER BY supplier""".stripMargin
  }

  // ---- dedup_editdist: banded Levenshtein near-dup pairs ---------------

  /** Edit-distance near-dup pairs, blocked so Levenshtein — O(len²)
    * per pair — only ever runs INSIDE a block: normalize (lower/trim),
    * block on (lang, length div 32, 12-char prefix), pair i < j within
    * a block, keep full-text distance ≤ [[EditMax]]. Block keys bound
    * candidate cost to Σ block² with natural-text prefix cardinality;
    * a corpus whose prefixes collapse (boilerplate headers) should use
    * the shingle/PPJoin family instead (dedup_containment) — the
    * standard recall/cost trade of blocking, same as the length-band
    * edge loss, both documented by the blocking literature. Both
    * engines run their BUILT-IN levenshtein and the distances ride the
    * oracle hash, so any DP-implementation divergence fails the gate. */
  private val EditMax = 16

  private val dedupEditdist: Q = (s, dir) => {
    val n = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), lower(trim(col("text"))).as("t"))
      .withColumn("band", expr("length(t) div 32"))
      .withColumn("pfx", substring(col("t"), 1, 12))
    // abs(len diff) <= EditMax is a NECESSARY condition (edit distance
    // >= length difference), so the prefilter cannot change the result
    // set — it only spares the DP. The 3-arg threshold levenshtein runs
    // the banded O(len·k) DP instead of O(len²), returning -1 above the
    // bound; kept distances are identical to the full DP the oracle runs.
    n.as("a").join(n.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
          col("a.pfx") === col("b.pfx") && col("a.doc_id") < col("b.doc_id") &&
          abs(length(col("a.t")) - length(col("b.t"))) <= EditMax)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        levenshtein(col("a.t"), col("b.t"), EditMax).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= EditMax)
      .orderBy("i", "j")
  }

  private val dedupEditdistOracle: String =
    s"""WITH n AS MATERIALIZED (
       |  SELECT doc_id, lang, lower(trim(text)) AS t,
       |    len(lower(trim(text))) // 32 AS band,
       |    substr(lower(trim(text)), 1, 12) AS pfx
       |  FROM documents)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
       |FROM n a JOIN n b ON a.lang = b.lang AND a.band = b.band
       |  AND a.pfx = b.pfx AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.t, b.t) <= $EditMax
       |ORDER BY i, j""".stripMargin

  val queries: Map[String, Q] = Map(
    "graph_label_prop" -> graphLabelProp,
    "dedup_editdist" -> dedupEditdist)

  val oracles: Map[String, String] = Map(
    "graph_label_prop" -> graphLabelPropOracle,
    "dedup_editdist" -> dedupEditdistOracle)
}
