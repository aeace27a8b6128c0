package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 sixth wave: the retention/GC half of the table lifecycle.
  *
  * `sink_vacuum` closes the last operational gap in the registered sink
  * surface: every earlier sink query creates history; this one RECLAIMS
  * it and proves reclamation touched nothing live.
  */
object Wave13 {

  /** VACUUM as a gated query: build 3 versions (write → rewriting MERGE
    * → copy-on-write DELETE), vacuum to retention 1, then read the
    * survivor table. In-query REQUIREs pin the retention contract the
    * oracle cannot see: history collapses to the live version, the file
    * dir holds EXACTLY the live manifest's referenced files (orphans
    * from the rewritten versions are gone), and time travel to the
    * vacuumed version fails. The read-back aggregate is hash-checked,
    * so "vacuum deleted nothing live" is oracle-proven, not asserted.
    *
    * Scale: vacuum is metadata-sized — it lists manifests, unions their
    * file references (model-sized Sets), and unlinks unreferenced
    * names; it never opens a data file. Retention cost at 100 TB is
    * file-count-linear, the same law as OPTIMIZE's planning phase. */
  private val sinkVacuum: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "vac")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_size").cast("int").as("p_size"),
        col("p_retailprice").cast("decimal(18,2)").as("price"))
    store.write(base.repartitionByRange(4, col("p_partkey")), "p")      // v1
    val changed = base.filter(pmod(col("p_partkey"), lit(5)) === 0)
      .withColumn("price", (col("price") + lit(100)).cast("decimal(18,2)"))
    store.upsert(s, "p", changed, Seq("p_partkey"))                     // v2
    store.delete(s, "p", col("p_size") < 10)                           // v3
    store.vacuumVersions("p", keep = 1)
    require(store.history("p") == Seq(3L),
      s"sink_vacuum: retention must keep only the live version, got ${store.history("p")}")
    val live = store.manifestWithStats("p", 3L)._2
    val referenced = (live.map(_.file) ++ live.flatMap(_.dvs)).toSet
    val onDisk = new java.io.File(s"$root/p/files").listFiles.map(_.getName).toSet
    require(onDisk == referenced,
      s"sink_vacuum: file dir must hold exactly the live references " +
        s"(extra: ${onDisk -- referenced}, missing: ${referenced -- onDisk})")
    require(scala.util.Try(store.readVersion(s, "p", 1L)).isFailure,
      "sink_vacuum: time travel to a vacuumed version must fail")
    store.read(s, "p")
      .groupBy(pmod(col("p_partkey"), lit(7)).as("band"))
      .agg(count(lit(1)).as("n"), sum("p_size").cast("long").as("size_sum"),
        sum("price").cast("double").as("price_sum"))
      .orderBy("band")
  }

  private val sinkVacuumOracle =
    """WITH merged AS (
      |  SELECT p_partkey, CAST(p_size AS INT) AS p_size,
      |    CASE WHEN p_partkey % 5 = 0
      |         THEN CAST(p_retailprice AS DECIMAL(18,2)) + 100
      |         ELSE CAST(p_retailprice AS DECIMAL(18,2)) END AS price
      |  FROM part)
      |SELECT CAST(p_partkey % 7 AS BIGINT) AS band,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(p_size) AS BIGINT) AS size_sum,
      |  CAST(SUM(price) AS DOUBLE) AS price_sum
      |FROM merged WHERE NOT (p_size < 10)
      |GROUP BY 1 ORDER BY band""".stripMargin

  val queries: Map[String, Q] = Map("sink_vacuum" -> sinkVacuum)
  val oracles: Map[String, String] = Map("sink_vacuum" -> sinkVacuumOracle)
}
