package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 34: incremental view maintenance for a JOIN view — the
  * delta-join refresh that keeps a materialized fact⋈dim view current
  * from both sides' change feeds without ever recomputing the join.
  */
object Wave34 {

  // ---- sink_ivm_join: delta-join view maintenance --------------------

  /** Incremental maintenance of the materialized join view
    * V = orders ⋈ customer under changes to BOTH base tables: new
    * orders arrive (inserts) and a slice of customers is reclassified
    * (updates). The refresh is the classic delta-join decomposition —
    * ΔV = (ΔO ⋈ C_now) ∪ (O_now ⋈ ΔC) — with each delta's keys taken
    * from the store's CDF (file-diff, churn-sized) and its rows from
    * the churn files only (newFileRows): the refresh cost tracks
    * commit churn on either side, never the view size. Rows touched by
    * both deltas are identical in the two branches (both join CURRENT
    * state), so the union dedupes exactly; the view upsert is keyed by
    * the view key (o_orderkey). The returned view is hash-checked
    * against a from-scratch join of the FINAL base states — the proof
    * the incremental path converges to the recompute. At 100 TB this
    * is the pattern that keeps wide reporting joins fresh: the
    * dim-side delta fans out to its fact rows through the key-indexed
    * read, the fact-side delta broadcasts against the dim. */
  private val sinkIvmJoin: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "ivmjoin")
    val store = new graft.engine.VersionedStore(root)
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val isBase = coalesce(pmod(col("o_orderkey"), lit(2)) === 0, lit(true))
    store.write(o.filter(isBase).repartitionByRange(4, col("o_orderkey")), "orders")
    store.write(c.repartitionByRange(4, col("c_custkey")), "customer")
    def joined(oDf: DataFrame, cDf: DataFrame): DataFrame =
      oDf.join(cDf, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          col("c_mktsegment").as("segment"))
    store.write(joined(store.read(s, "orders"), store.read(s, "customer"))
      .repartitionByRange(4, col("o_orderkey")), "vw")
    // day 2: new orders land; a slice of customers is reclassified
    store.upsert(s, "orders", o.filter(!isBase), Seq("o_orderkey"))
    store.upsert(s, "customer",
      c.filter(pmod(col("c_custkey"), lit(5)) === 0)
        .withColumn("c_mktsegment", lit("VIP")),
      Seq("c_custkey"))
    // delta-join refresh: ΔO ⋈ C_now
    val dOKeys = store.changesSince(s, "orders", 1L, Seq("o_orderkey"))
      .filter(col("change_type").isin("insert", "update"))
      .select("o_orderkey")
    val dORows = store.newFileRows(s, "orders", 1L)
      .join(dOKeys, Seq("o_orderkey"), "left_semi")
    val rowsA = joined(dORows, store.read(s, "customer"))
    // O_now ⋈ ΔC
    val dCKeys = store.changesSince(s, "customer", 1L, Seq("c_custkey"))
      .filter(col("change_type").isin("insert", "update"))
      .select("c_custkey")
    val dCRows = store.newFileRows(s, "customer", 1L)
      .join(dCKeys, Seq("c_custkey"), "left_semi")
    val rowsB = joined(store.read(s, "orders"), dCRows)
    // both branches reflect final state -> common keys carry identical
    // rows and distinct() is an exact dedup
    store.upsert(s, "vw", rowsA.unionByName(rowsB).distinct(), Seq("o_orderkey"))
    store.read(s, "vw").orderBy("o_orderkey")
  }

  private val sinkIvmJoinOracle =
    """SELECT o_orderkey, o_custkey, o_orderpriority,
      |  CASE WHEN c_custkey % 5 = 0 THEN 'VIP' ELSE c_mktsegment END AS segment
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "sink_ivm_join" -> sinkIvmJoin
  )

  val oracles: Map[String, String] = Map(
    "sink_ivm_join" -> sinkIvmJoinOracle
  )
}
