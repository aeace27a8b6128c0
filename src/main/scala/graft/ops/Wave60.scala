package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 60: partition quality + compressibility — Newman
  * modularity of the nation partition over the shared-customer supplier
  * graph (the "is this grouping real structure" score every community
  * detection optimizes), and character-entropy compressibility
  * profiling (the cheap zlib-proxy quality signal: near-random and
  * near-constant text both flag bad training data).
  */
object Wave60 {

  // ---- graph_modularity: Newman Q of the nation partition -------------

  /** Modularity contribution per community: suppliers partition by
    * nation; edges are supplier pairs weighted by shared-customer count
    * (generated through the shared customer — Σ degree², never
    * all-pairs). Q = Σ_c (4·e_c·m − a_c²) / (4·m²) over intra-community
    * weight e_c and degree mass a_c; each community's contribution is
    * an exact DECIMAL rational quantized to micro, so the partition
    * verdict is engine-exact. The grand total Σ contrib is Newman's Q
    * for the nation partition — positive structure means nations truly
    * shop apart. */
  private val graphModularity: Q = (s, dir) => {
    val pairW = SupplierGraph.pairWeights(s, dir)
    val nat = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey").as("p"), col("s_nationkey").as("nation"))
    val withNat = pairW
      .join(nat.select(col("p").as("p1"), col("nation").as("n1")), "p1")
      .join(nat.select(col("p").as("p2"), col("nation").as("n2")), "p2")
      .localCheckpoint()
    val m = withNat.agg(sum("w").as("m"))
    // degree mass per community: each edge adds w to both endpoints
    val aC = withNat.select(col("n1").as("nation"), col("w"))
      .union(withNat.select(col("n2").as("nation"), col("w")))
      .groupBy("nation").agg(sum("w").as("a_c"))
    val eC = withNat.filter(col("n1") === col("n2"))
      .groupBy(col("n1").as("nation")).agg(sum("w").as("e_c"))
    aC.join(eC, Seq("nation"), "left")
      .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("num", expr(
        "4 * cast(e_c as decimal(38,0)) * m - cast(a_c as decimal(38,0)) * a_c"))
      .withColumn("den", expr("4 * cast(m as decimal(38,0)) * m"))
      .withColumn("q_mag", expr(
        "cast((2 * abs(num) * 1000000 + den) div (2 * den) as long)"))
      .withColumn("q_micro",
        when(col("num") < 0, -col("q_mag")).otherwise(col("q_mag")))
      .select(col("nation"), col("e_c"), col("a_c"),
        (col("q_micro").cast("double") / 1e6).as("q_contrib"))
      .orderBy("nation")
  }

  private val graphModularityOracle =
    """WITH edges AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |pw AS MATERIALIZED (
      |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS w
      |  FROM edges a JOIN edges b ON a.c = b.c AND a.p < b.p
      |  GROUP BY 1, 2),
      |wn AS MATERIALIZED (
      |  SELECT pw.w, s1.s_nationkey AS n1, s2.s_nationkey AS n2
      |  FROM pw
      |  JOIN supplier s1 ON s1.s_suppkey = pw.p1
      |  JOIN supplier s2 ON s2.s_suppkey = pw.p2),
      |m AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM wn),
      |ac AS (
      |  SELECT nation, CAST(SUM(w) AS BIGINT) AS a_c FROM (
      |    SELECT n1 AS nation, w FROM wn
      |    UNION ALL SELECT n2 AS nation, w FROM wn)
      |  GROUP BY 1),
      |ec AS (
      |  SELECT n1 AS nation, CAST(SUM(w) AS BIGINT) AS e_c
      |  FROM wn WHERE n1 = n2 GROUP BY 1),
      |j AS (
      |  SELECT ac.nation, COALESCE(ec.e_c, 0) AS e_c, ac.a_c,
      |    4 * COALESCE(ec.e_c, 0) * m.m - ac.a_c * ac.a_c AS num,
      |    4 * m.m * m.m AS den
      |  FROM ac LEFT JOIN ec USING (nation), m)
      |SELECT nation, e_c, a_c,
      |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(num) * 1000000 + den) // (2 * den)) AS DOUBLE) / 1e6
      |    AS q_contrib
      |FROM j ORDER BY nation""".stripMargin

  // ---- text_entropy_compress: char-entropy compressibility ------------

  /** Character-entropy compressibility per source: per doc, the
    * unigram character entropy H = ln(n) − (Σ c·ln c)/n in nano-nats
    * (all ln over integer counts — the nano-log discipline, so H is
    * engine-exact), then per source the doc count, mean/min/max
    * entropy and how many docs fall below 1.5 nats (repetitive junk)
    * or above 4.2 nats (near-random noise) — the two tails a quality
    * gate drops. One char-level aggregation, one doc-level reduce. */
  private val textEntropyCompress: Q = (s, dir) => {
    def lnq(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e9 + lit(0.5)).cast("long")
    val chars = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
    val cc = chars.groupBy("doc_id", "source", "ch").agg(count(lit(1)).as("c"))
    val docH = cc.groupBy("doc_id", "source")
      .agg(sum("c").as("n"), sum(col("c") * lnq(col("c"))).as("scl"))
      .withColumn("h_nano", lnq(col("n")) - expr("(2 * scl + n) div (2 * n)"))
    docH.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("(2 * sum(h_nano) + count(1)) div (2 * count(1))").as("mean_nano"),
        min("h_nano").as("min_nano"), max("h_nano").as("max_nano"),
        sum((col("h_nano") < 1500000000L).cast("long")).as("n_repetitive"),
        sum((col("h_nano") > 4200000000L).cast("long")).as("n_noisy"))
      .select(col("source"), col("n_docs"),
        (col("mean_nano").cast("double") / 1e9).as("mean_entropy"),
        (col("min_nano").cast("double") / 1e9).as("min_entropy"),
        (col("max_nano").cast("double") / 1e9).as("max_entropy"),
        col("n_repetitive"), col("n_noisy"))
      .orderBy("source")
  }

  private val textEntropyCompressOracle =
    """WITH chars AS MATERIALIZED (
      |  SELECT doc_id, source, ch FROM (
      |    SELECT doc_id, source, unnest(string_split(text, '')) AS ch
      |    FROM documents)
      |  WHERE ch <> ''),
      |cc AS (
      |  SELECT doc_id, source, ch, CAST(count(*) AS BIGINT) AS c
      |  FROM chars GROUP BY 1, 2, 3),
      |dh AS (
      |  SELECT doc_id, source, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS scl
      |  FROM cc GROUP BY 1, 2),
      |dh2 AS (
      |  SELECT doc_id, source,
      |    CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
      |      - (2 * scl + n) // (2 * n) AS h_nano
      |  FROM dh)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST((2 * SUM(h_nano) + count(*)) // (2 * count(*)) AS DOUBLE) / 1e9
      |    AS mean_entropy,
      |  CAST(MIN(h_nano) AS DOUBLE) / 1e9 AS min_entropy,
      |  CAST(MAX(h_nano) AS DOUBLE) / 1e9 AS max_entropy,
      |  CAST(SUM(CAST(h_nano < 1500000000 AS INT)) AS BIGINT) AS n_repetitive,
      |  CAST(SUM(CAST(h_nano > 4200000000 AS INT)) AS BIGINT) AS n_noisy
      |FROM dh2 GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "graph_modularity" -> graphModularity,
    "text_entropy_compress" -> textEntropyCompress
  )

  val oracles: Map[String, String] = Map(
    "graph_modularity" -> graphModularityOracle,
    "text_entropy_compress" -> textEntropyCompressOracle
  )
}
