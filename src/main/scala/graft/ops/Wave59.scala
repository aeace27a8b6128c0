package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 59: table branching + budgeted selection — git-style
  * branch / edit-both-sides / three-way merge on the VersionedStore
  * (the Nessie/Iceberg-branch workflow a lakehouse team actually runs),
  * and budget-constrained corpus selection as a DISTRIBUTED fractional
  * knapsack (greedy by value density — optimal for the fractional
  * relaxation — with the global prefix sum from the Ranks kernel, not
  * a single-partition window).
  */
object Wave59 {

  // ---- sink_branch_merge: branch, diverge, three-way merge ------------

  /** Branch workflow: snapshot `customer` balances into the store,
    * shallow-clone a branch at that base version, then diverge — the
    * branch raises balances for custkey % 6 == 0 and main applies a
    * discount for custkey % 10 == 0 and deletes custkey % 100 == 11.
    * Three-way merge applies the BRANCH DELTA (rows differing from the
    * base — computed relationally, a join not a diff-scan) onto main
    * with branch-wins conflict policy; keys changed on BOTH sides
    * (custkey % 30 == 0) take the branch value, and branch changes to
    * main-deleted keys reinsert them (upsert semantics — the documented
    * policy). Reports the merged table's audit row: row count, balance
    * sum, and the conflict/change counts that describe the merge. The
    * oracle restates the final state in closed form from the base
    * table. */
  private val sinkBranchMerge: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "branchmerge")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "customer").select(col("c_custkey").as("k"),
      expr("cast(round(c_acctbal * 100) as long)").as("bal"))
    store.write(base.repartitionByRange(4, col("k")), "t")
    val baseVersion = store.shallowClone("t", "t_branch")
    // branch edit: +1000 cents for k % 6 == 0
    val branchEdit = store.read(s, "t_branch").filter(pmod(col("k"), lit(6)) === 0)
      .withColumn("bal", col("bal") + 1000L)
    store.upsert(s, "t_branch", branchEdit, Seq("k"))
    // main edits: -500 cents for k % 10 == 0; delete k % 100 == 11
    val mainEdit = store.read(s, "t").filter(pmod(col("k"), lit(10)) === 0)
      .withColumn("bal", col("bal") - 500L)
    store.upsert(s, "t", mainEdit, Seq("k"))
    store.delete(s, "t", pmod(col("k"), lit(100)) === 11)
    // three-way merge: branch delta vs base, branch wins on conflict
    val baseDf = store.readVersion(s, "t_branch", baseVersion)
      .select(col("k").as("bk"), col("bal").as("bbal"))
    val branchDelta = store.read(s, "t_branch").as("br")
      .join(baseDf, col("k") === col("bk"), "left")
      .filter(col("bk").isNull || col("bal") =!= col("bbal"))
      .select(col("k"), col("bal"))
    val mainDelta = store.read(s, "t").as("m")
      .join(baseDf, col("k") === col("bk"), "left")
      .filter(col("bk").isNull || col("bal") =!= col("bbal"))
      .select(col("k"))
    val conflicts = branchDelta.join(mainDelta, Seq("k"), "left_semi").count()
    store.upsert(s, "t", branchDelta, Seq("k"))
    store.read(s, "t")
      .agg(count(lit(1)).as("n_rows"), sum("bal").as("bal_sum"))
      .select(col("n_rows"), col("bal_sum"), lit(conflicts).as("n_conflicts"))
  }

  private val sinkBranchMergeOracle =
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
      |  FROM customer),
      |fin AS (
      |  SELECT k,
      |    CASE WHEN k % 6 = 0 THEN bal + 1000
      |         WHEN k % 10 = 0 THEN bal - 500
      |         ELSE bal END AS bal
      |  FROM base
      |  WHERE NOT (k % 100 = 11 AND k % 6 <> 0)),
      |conf AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_conflicts FROM base
      |  WHERE k % 6 = 0 AND (k % 10 = 0 OR k % 100 = 11))
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(bal) AS BIGINT) AS bal_sum,
      |  (SELECT n_conflicts FROM conf) AS n_conflicts
      |FROM fin""".stripMargin

  // ---- corpus_knapsack: budgeted selection by value density -----------

  /** Budget-constrained corpus selection: every doc has weight = token
    * count and value = DISTINCT token count (lexical information mass);
    * greedy by value density (micro-rational value/weight, ties by
    * doc_id — the optimal order for the fractional knapsack) under a
    * budget of half the corpus tokens. Docs whose inclusive prefix
    * weight fits the budget are selected whole. The global prefix sum
    * over the density order comes from Ranks.perGroupPrefixSum (range
    * partition + broadcast offsets — no single-partition window), so
    * the selection scales like a sort, not a serial scan. Reports the
    * per-source selection: docs and tokens chosen — the "what does the
    * budget buy, from where" read of corpus curation. */
  private val corpusKnapsack: Q = (s, dir) => {
    val parts = ConfScope.shufflePartitions(s)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), LlmPipeline.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("w"),
        size(array_distinct(col("tk"))).cast("long").as("v"))
      .filter(col("w") > 0)
      .withColumn("dens", expr("(2 * v * 1000000 + w) div (2 * w)"))
      .localCheckpoint()
    // the budget (half the total token mass) rides the fused kernel as
    // its free total column — the r9 form ran a separate aggregate job
    // over the pinned frame plus a broadcast crossJoin to attach it
    val ranked = Ranks.perGroupRankAndPrefixSum(d, Seq.empty,
      Seq(col("dens").desc, col("doc_id")), col("w"),
      "__rk", "__n", "cumw", "__totw", parts)
    ranked
      .filter(col("cumw") <= expr("__totw div 2"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"), sum("w").as("tok_selected"),
        sum("v").as("value_selected"))
      .orderBy("source")
  }

  private val corpusKnapsackOracle =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(${LlmPipeline.duckTokens}) AS BIGINT) AS w,
       |    CAST(len(list_distinct(${LlmPipeline.duckTokens})) AS BIGINT) AS v
       |  FROM documents),
       |d2 AS (
       |  SELECT *, (2 * v * 1000000 + w) // (2 * w) AS dens
       |  FROM d WHERE w > 0),
       |b AS (SELECT CAST(SUM(w) // 2 AS BIGINT) AS b FROM d2),
       |r AS (
       |  SELECT *, SUM(w) OVER (ORDER BY dens DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cumw
       |  FROM d2)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
       |  CAST(SUM(w) AS BIGINT) AS tok_selected,
       |  CAST(SUM(v) AS BIGINT) AS value_selected
       |FROM r, b WHERE cumw <= b
       |GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "sink_branch_merge" -> sinkBranchMerge,
    "corpus_knapsack" -> corpusKnapsack
  )

  val oracles: Map[String, String] = Map(
    "sink_branch_merge" -> sinkBranchMergeOracle,
    "corpus_knapsack" -> corpusKnapsackOracle
  )
}
