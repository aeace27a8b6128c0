package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 eleventh wave: the three-clause MERGE (CDC apply) as one
  * atomic commit — Delta's
  * `WHEN MATCHED AND cond THEN DELETE / WHEN MATCHED THEN UPDATE /
  * WHEN NOT MATCHED THEN INSERT`, closing the last MERGE semantic the
  * store's surface lacked (update/insert rode `upsert`; deletes needed
  * a second commit until `VersionedStore.merge`).
  */
object Wave18 {

  /** CDC apply in ONE commit: the feed carries op = D (matched rows
    * vanish), op = U (matched rows update, +500 balance), and op = I
    * rows under fresh keys (insert); a D for an absent key is a no-op.
    * In-query REQUIREs pin atomicity (exactly one new version) and
    * that the source-side op flag never reached the table schema. The
    * read-back per-segment aggregate is hash-checked, so WHICH rows
    * each clause touched is oracle-proven. Scale: identical to
    * upsert's audited plan — stats-pruned hit files only are
    * rewritten; the delete clause adds zero passes. */
  private val sinkMergeConditional: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "mergecond")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("acctbal"))
    store.write(base.repartitionByRange(4, col("c_custkey")), "cust") // v1
    val shift = base.agg(max("c_custkey")).head().getLong(0) + 1L
    val feed = base.filter(pmod(col("c_custkey"), lit(4)) === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("acctbal") + lit(500)).cast("decimal(18,2)").as("acctbal"),
        when(pmod(col("c_custkey"), lit(8)) === 0, "D").otherwise("U").as("op"))
      .union(
        base.filter(col("c_mktsegment") === "MACHINERY")
          .select((col("c_custkey") + lit(shift)).as("c_custkey"),
            col("c_mktsegment"), col("acctbal"), lit("I").as("op")))
      .union( // deletes for keys that do not exist: must be no-ops
        base.limit(5)
          .select((col("c_custkey") + lit(2 * shift)).as("c_custkey"),
            col("c_mktsegment"), col("acctbal"), lit("D").as("op")))
    val v = store.merge(s, "cust", feed, Seq("c_custkey"),
      deleteWhen = f => f("op") === "D")                              // v2, atomic
    require(v == 2L, s"sink_merge_conditional: expected one atomic commit, got v$v")
    val outSchema = store.read(s, "cust").schema.fieldNames.toSet
    require(!outSchema.contains("op"),
      "sink_merge_conditional: the source-side op flag must not reach the table")
    store.read(s, "cust")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("c_custkey").as("key_sum"),
        sum("acctbal").cast("double").as("bal_sum"))
      .orderBy("c_mktsegment")
  }

  private val sinkMergeConditionalOracle =
    """WITH m AS (SELECT MAX(c_custkey) + 1 AS shift FROM customer),
      |merged AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE WHEN c_custkey % 4 = 0
      |         THEN CAST(c_acctbal AS DECIMAL(18,2)) + 500
      |         ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS acctbal
      |  FROM customer WHERE NOT (c_custkey % 8 = 0)
      |  UNION ALL
      |  SELECT c_custkey + shift, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2))
      |  FROM customer, m WHERE c_mktsegment = 'MACHINERY')
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(acctbal) AS DOUBLE) AS bal_sum
      |FROM merged GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // ---- sink_merge_guarded: WHEN MATCHED AND cond THEN UPDATE ----------

  /** The out-of-order-CDC guard (Delta's
    * `WHEN MATCHED AND s.ver > t.ver THEN UPDATE`): the feed carries
    * both FRESHER rows (key % 3 = 0, balance +700) and STALE replays
    * (key % 5 = 0, balance −999); the guard `source.acctbal >
    * target.acctbal` applies the fresh updates and drops the stale
    * ones on the floor — last-writer-wins by value, so replaying an
    * old feed is idempotent. One atomic commit; the read-back pins
    * exactly which rows the guard admitted. Beyond ordering safety the
    * guard is the no-op-update optimization: at 100 TB, unguarded
    * MERGEs rewrite every hit file even when nothing changed. */
  private val sinkMergeGuarded: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "mergeguard")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("acctbal"))
    store.write(base.repartitionByRange(4, col("c_custkey")), "cust") // v1
    val feed = base
      .filter(pmod(col("c_custkey"), lit(3)) === 0 ||
        pmod(col("c_custkey"), lit(5)) === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        when(pmod(col("c_custkey"), lit(3)) === 0, col("acctbal") + lit(700))
          .otherwise(col("acctbal") - lit(999))
          .cast("decimal(18,2)").as("acctbal"))
    val v = store.merge(s, "cust", feed, Seq("c_custkey"),
      deleteWhen = _ => lit(false),
      updateWhen = Some((tgt, src) => src("acctbal") > tgt("acctbal"))) // v2
    require(v == 2L, s"sink_merge_guarded: expected one atomic commit, got v$v")
    store.read(s, "cust")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("c_custkey").as("key_sum"),
        sum("acctbal").cast("double").as("bal_sum"))
      .orderBy("c_mktsegment")
  }

  private val sinkMergeGuardedOracle =
    """WITH merged AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE WHEN c_custkey % 3 = 0
      |         THEN CAST(c_acctbal AS DECIMAL(18,2)) + 700
      |         ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS acctbal
      |  FROM customer)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(acctbal) AS DOUBLE) AS bal_sum
      |FROM merged GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  val queries: Map[String, Q] = Map(
    "sink_merge_conditional" -> sinkMergeConditional,
    "sink_merge_guarded" -> sinkMergeGuarded)
  val oracles: Map[String, String] = Map(
    "sink_merge_conditional" -> sinkMergeConditionalOracle,
    "sink_merge_guarded" -> sinkMergeGuardedOracle)
}
