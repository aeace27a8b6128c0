package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 70: production dedup policy + version auditing — keep
  * the BEST document per duplicate cluster (production pipelines keep
  * by quality, not by smallest id — the policy difference decides what
  * the model trains on), and the version-to-version row audit of a
  * store table (what each commit actually changed — the review a data
  * steward runs before signing a release).
  */
object Wave70 {

  // ---- dedup_keep_best: quality-ranked cluster survivors --------------

  /** The kept corpus under the BEST-survivor policy: within each
    * near-dup cluster (the materialized Jaccard components
    * dedup_components already builds) the survivor is the doc with the
    * most DISTINCT tokens (lexical richness — an integer, so the
    * argmax is exact), ties by smallest doc_id. Cluster groups are
    * dup-family-sized, so the per-cluster argmax is a bounded
    * max_by — no global window. Reports the per-source keep counts and
    * how many survivors DIFFER from the min-id policy (the rows where
    * the policy choice actually changes the corpus). */
  private val dedupKeepBest: Q = (s, dir) => {
    val comp = Wave3.queries("dedup_components")(s, dir)
    val richness = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(array_distinct(filter(split(lower(col("text")), "[^a-z0-9]+"),
          x => x =!= ""))).cast("long").as("rich"))
    val ranked = comp.join(richness, "doc_id")
    val best = ranked.groupBy("component")
      .agg(max_by(col("doc_id"),
        struct(col("rich"), -col("doc_id"))).as("keep_id"))
    val minPolicy = comp.groupBy("component").agg(min("doc_id").as("min_id"))
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
    val inCluster = comp.select("doc_id").distinct()
    val kept = docs.join(inCluster, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .union(docs.join(best.select(col("keep_id").as("doc_id")), "doc_id")
        .select(col("doc_id"), col("source")))
    val changed = best.join(minPolicy, "component")
      .filter(col("keep_id") =!= col("min_id"))
    val nChanged = changed.agg(count(lit(1)).as("n")).select(col("n"))
    kept.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .crossJoin(broadcast(nChanged.select(col("n").as("n_policy_changed"))))
      .orderBy("source")
  }

  private val dedupKeepBestOracle = {
    val comp = Wave3.oracles("dedup_components")
    s"""WITH comp AS ($comp),
       |rich AS (
       |  SELECT doc_id,
       |    CAST(len(list_distinct(list_filter(
       |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS BIGINT)
       |      AS rich
       |  FROM documents),
       |best AS (
       |  SELECT component, doc_id AS keep_id FROM (
       |    SELECT c.component, c.doc_id,
       |      row_number() OVER (PARTITION BY c.component
       |        ORDER BY r.rich DESC, c.doc_id) AS rn
       |    FROM comp c JOIN rich r USING (doc_id))
       |  WHERE rn = 1),
       |minp AS (SELECT component, MIN(doc_id) AS min_id FROM comp GROUP BY 1),
       |chg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_policy_changed
       |  FROM best JOIN minp USING (component) WHERE keep_id <> min_id),
       |kept AS (
       |  SELECT d.doc_id, d.source FROM documents d
       |  WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
       |  UNION ALL
       |  SELECT d.doc_id, d.source FROM documents d
       |  JOIN best ON best.keep_id = d.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  (SELECT n_policy_changed FROM chg) AS n_policy_changed
       |FROM kept GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- sink_version_diff: commit-by-commit row audit ------------------

  /** Version audit of a store table through a known edit script
    * (create → merge upsert → delete): for every consecutive version
    * pair, rows before/after and the delta, via time-travel reads of
    * the pinned manifests. The audit itself is metadata + two counts
    * per transition; the oracle states the expected ledger in closed
    * form from the base table. */
  private val sinkVersionDiff: Q = (s, dir) => {
    import s.implicits._
    val root = graft.engine.Fs.freshScratch(s, "versiondiff")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "customer").select(col("c_custkey").as("k"),
      expr("cast(round(c_acctbal * 100) as long)").as("bal"))
    store.write(base.repartitionByRange(4, col("k")), "t")         // v1
    store.upsert(s, "t",                                           // v2: +100 new
      base.filter(col("k") < 100).select(col("k") + 1000000L, col("bal"))
        .toDF("k", "bal"), Seq("k"))
    store.delete(s, "t", pmod(col("k"), lit(10)) === 7)            // v3
    val counts = store.history("t").map { v =>
      v -> store.readVersion(s, "t", v).count()
    }
    counts.sliding(2).map { case Seq((v1, c1), (v2, c2)) =>
      (v2, c1, c2, c2 - c1)
    }.toSeq.toDF("to_version", "rows_before", "rows_after", "rows_delta")
      .orderBy("to_version")
  }

  private val sinkVersionDiffOracle =
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM customer),
      |d AS (SELECT CAST(count(*) AS BIGINT) AS dels FROM (
      |  SELECT c_custkey AS k FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000 FROM customer WHERE c_custkey < 100)
      |  WHERE k % 10 = 7)
      |SELECT * FROM (
      |  SELECT CAST(2 AS BIGINT) AS to_version, c AS rows_before,
      |    c + 100 AS rows_after, CAST(100 AS BIGINT) AS rows_delta FROM n
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), c + 100, c + 100 - dels, -dels FROM n, d)
      |ORDER BY to_version""".stripMargin

  val queries: Map[String, Q] = Map(
    "dedup_keep_best" -> dedupKeepBest,
    "sink_version_diff" -> sinkVersionDiff
  )

  val oracles: Map[String, String] = Map(
    "dedup_keep_best" -> dedupKeepBestOracle,
    "sink_version_diff" -> sinkVersionDiffOracle
  )
}
