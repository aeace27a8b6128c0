package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 62: reproducible builds + spatial-style joins — a
  * lineage-pinned derived table whose recompute from the recorded
  * input version must byte-agree (the reproducibility audit every
  * governed pipeline needs), and an ε-neighborhood 2-D join by the
  * grid method (cell size = ε + 3×3 probe — the standard spatial
  * equi-join reduction, PROVABLY complete, never a θ-join).
  */
object Wave62 {

  // ---- sink_reproducible_build: lineage-pinned derived table ----------

  /** Reproducible-build audit: a derived aggregate (balance stats per
    * segment) is committed with its INPUT VERSION pinned; the source
    * then moves on (an upsert commits v2). The audit recomputes the
    * derivation from the PINNED version via time travel and compares
    * content hashes — proving the derived table is reproducible from
    * recorded lineage even after the source changed, and that naive
    * recompute from HEAD would NOT match. Reports both comparisons
    * plus the derived stats; the oracle restates them from the base
    * table in closed form. */
  private val sinkReproducibleBuild: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "repro")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "customer").select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"),
      expr("cast(round(c_acctbal * 100) as long)").as("bal"))
    val v1 = store.write(base.repartitionByRange(4, col("k")), "src")
    def derive(df: DataFrame): DataFrame =
      df.groupBy("seg").agg(count(lit(1)).as("n"), sum("bal").as("bal_sum"))
    store.write(derive(store.readVersion(s, "src", v1)), "derived")
    // source moves on: everyone in AUTOMOBILE gets +1 cent
    store.upsert(s, "src",
      store.read(s, "src").filter(col("seg") === "AUTOMOBILE")
        .withColumn("bal", col("bal") + 1L), Seq("k"))
    def contentHash(df: DataFrame): Long =
      df.select(xxhash64(col("seg"), col("n"), col("bal_sum")).as("h"))
        .agg(expr("bit_xor(h)")).collect().head.getLong(0)
    val stored = store.read(s, "derived")
    val fromPinned = derive(store.readVersion(s, "src", v1))
    val fromHead = derive(store.read(s, "src"))
    val pinnedOk = contentHash(stored) == contentHash(fromPinned)
    val headOk = contentHash(stored) == contentHash(fromHead)
    stored
      .withColumn("pinned_reproduces", lit(pinnedOk))
      .withColumn("head_reproduces", lit(headOk))
      .orderBy("seg")
  }

  private val sinkReproducibleBuildOracle =
    """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_sum,
      |  TRUE AS pinned_reproduces, FALSE AS head_reproduces
      |FROM customer GROUP BY 1 ORDER BY seg""".stripMargin

  // ---- join_grid_neighbors: epsilon-neighborhood 2-D grid join --------

  /** ε-neighborhood pairs of one brand's lineitems in (price, ship-day)
    * space: |Δprice| ≤ $1000 AND |Δday| ≤ 14 days. The grid method: cell
    * size = ε in each dimension, left side probes its 3×3 neighbor
    * cells (explode of 9 offsets), candidates are a pure EQUI-join on
    * the cell key, and the ε-box confirm is exact — complete by
    * construction (a qualifying pair's cells differ by ≤ 1 in each
    * dimension), so the oracle can state the plain θ-join. Pairs are
    * deduplicated by strict total-order comparison on the full row
    * tuple (identical duplicate rows pair with nothing — stated
    * contract, identical in both engines). Reports the pair count and
    * exact distance-mass sums — the density read that decides whether
    * a spatial index is worth building. */
  private val joinGridNeighbors: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem")
      // the brand slice of part is ~4% of an entity-scaled table - still
      // linear in the data; size-chosen join, no forced broadcast
      .join(Tables.load(s, dir, "part")
        .filter(col("p_brand") === "Brand#2").select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        expr("cast(round(l_extendedprice * 100) as long)").as("pc"),
        expr("cast(floor(unix_timestamp(l_shipdate) / 86400) as long)").as("day"))
      .withColumn("cx", expr("pc div 100000"))
      .withColumn("cy", expr("day div 14"))
      .localCheckpoint()
    val probes = li.select(col("ok"), col("ln"), col("pc"), col("day"),
        explode(expr("sequence(-1, 1)")).as("dx"))
      .select(col("ok"), col("ln"), col("pc"), col("day"),
        (expr("pc div 100000") + col("dx")).as("cx"),
        explode(expr("sequence(-1, 1)")).as("dy"))
      .select(col("ok"), col("ln"), col("pc"), col("day"), col("cx"),
        (expr("day div 14") + col("dy")).as("cy"))
    probes.as("a").join(li.as("b"),
        col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy") &&
          struct(col("a.ok"), col("a.ln"), col("a.pc"), col("a.day")) <
            struct(col("b.ok"), col("b.ln"), col("b.pc"), col("b.day")) &&
          abs(col("a.pc") - col("b.pc")) <= 100000 &&
          abs(col("a.day") - col("b.day")) <= 14)
      .select(col("a.pc").as("pc"), col("a.day").as("day"),
        col("b.pc").as("bpc"), col("b.day").as("bday"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("pc") - col("bpc"))).as("price_diff_mass"),
        sum(abs(col("day") - col("bday"))).as("day_diff_mass"))
      .select(col("n_pairs"), col("price_diff_mass"), col("day_diff_mass"))
  }

  private val joinGridNeighborsOracle =
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey AS ok, l_linenumber AS ln,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
      |    CAST(FLOOR(epoch(l_shipdate) / 86400) AS BIGINT) AS day
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#2'),
      |pairs AS (
      |  SELECT a.pc AS apc, a.day AS aday, b.pc AS bpc, b.day AS bday
      |  FROM li a JOIN li b
      |    ON (a.ok, a.ln, a.pc, a.day) < (b.ok, b.ln, b.pc, b.day)
      |   AND abs(a.pc - b.pc) <= 100000 AND abs(a.day - b.day) <= 14)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(abs(apc - bpc)) AS BIGINT) AS price_diff_mass,
      |  CAST(SUM(abs(aday - bday)) AS BIGINT) AS day_diff_mass
      |FROM pairs""".stripMargin

  val queries: Map[String, Q] = Map(
    "sink_reproducible_build" -> sinkReproducibleBuild,
    "join_grid_neighbors" -> joinGridNeighbors
  )

  val oracles: Map[String, String] = Map(
    "sink_reproducible_build" -> sinkReproducibleBuildOracle,
    "join_grid_neighbors" -> joinGridNeighborsOracle
  )
}
