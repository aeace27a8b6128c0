package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 53: neighborhood similarity — item-item Jaccard over
  * shared customers (the classical collaborative-filtering / related-
  * items read), with candidate pairs generated through the shared
  * customer (cost ∝ Σ degree², the standard bound — never an
  * all-pairs supplier join) and the score rationally rounded in exact
  * integers.
  */
object Wave53 {

  /** Top-20 supplier pairs by customer-set Jaccard: distinct
    * (customer, supplier) edges once; pairs via the per-customer
    * self-join (s1 < s2); |A∩B| from the pair count, |A∪B| by
    * inclusion–exclusion with broadcast degrees. jaccard_micro =
    * round_half_up(10⁶·i/u) in integer arithmetic, so ordering and
    * values are engine-exact. */
  private val graphNodeJaccard: Q = (s, dir) => {
    val deg = SupplierGraph.edges(s, dir).groupBy("p").agg(count(lit(1)).as("d"))
    val inter = SupplierGraph.pairWeights(s, dir)
      .select(col("p1"), col("p2"), col("w").as("i"))
    inter
      // degree tables are supplier-sized (entity-scaled): no forced
      // broadcast - the optimizer picks one while they fit
      .join(deg.select(col("p").as("p1"), col("d").as("d1")), "p1")
      .join(deg.select(col("p").as("p2"), col("d").as("d2")), "p2")
      .withColumn("u", col("d1") + col("d2") - col("i"))
      .withColumn("jac_micro",
        expr("(2 * i * 1000000 + u) div (2 * u)"))
      .select(col("p1"), col("p2"), col("i").as("shared"), col("u").as("union_n"),
        (col("jac_micro").cast("double") / 1e6).as("jaccard"))
      .orderBy(desc("jac_micro"), col("p1"), col("p2"))
      .limit(20)
  }

  private val graphNodeJaccardOracle =
    """WITH edges AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
      |inter AS (
      |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS i
      |  FROM edges a JOIN edges b ON a.c = b.c AND a.p < b.p
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT p1, p2, i, d1.d + d2.d - i AS u
      |  FROM inter
      |  JOIN deg d1 ON d1.p = p1
      |  JOIN deg d2 ON d2.p = p2),
      |sc AS (
      |  SELECT p1, p2, i AS shared, u AS union_n,
      |    (2 * i * 1000000 + u) // (2 * u) AS jac_micro
      |  FROM j)
      |SELECT p1, p2, shared, union_n,
      |  CAST(jac_micro AS DOUBLE) / 1e6 AS jaccard
      |FROM sc ORDER BY jac_micro DESC, p1, p2 LIMIT 20""".stripMargin

  val queries: Map[String, Q] = Map(
    "graph_node_jaccard" -> graphNodeJaccard
  )

  val oracles: Map[String, String] = Map(
    "graph_node_jaccard" -> graphNodeJaccardOracle
  )
}
