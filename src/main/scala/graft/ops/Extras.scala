package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.SparkEntry.Q
import graft.engine.{Fs, Tables, VersionedStore}

/** Second-wave operators: schema drift (the reference README's open TODO),
  * extra window frames, cube rollups, and the sink/optimize round-trips
  * (SURVEY.md §2.1 sinks, §2.5, §2.7 setop_except rationale).
  */
object Extras {

  /** Schema drift between two profiler runs — detects added columns, the
    * reference's unimplemented TODO "remove databases and columns when
    * removed in catalog" (ref: dbc cmd1). Old snapshot = catalog without
    * events; drift = events' columns. */
  private val schemaDrift: Q = (s, dir) => {
    val now = Profiler.schemaInformation(s, dir)
    val before = Profiler.schemaInformation(s, dir,
      Tables.all.filterNot(_.name == "events"))
    now.except(before).orderBy("tableName", "columnName")
  }

  /** Value-RANGE frame: per-customer trailing-90-day order value, ordered
    * by order date expressed as days-since-epoch (complements the ROWS
    * frame in win_frame_agg; a value range over a DENSE axis — a trailing
    * time window — is RANGE's actual use, unlike a frame over sparse
    * surrogate keys which degenerates to the current row). */
  private val winRangeFrame: Q = (s, dir) => {
    val dayNo = datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
    val w = Window.partitionBy("o_custkey").orderBy(dayNo).rangeBetween(-90, 0)
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("range_sum"),
        count(lit(1)).over(w).as("range_n"))
      .orderBy("o_orderkey")
  }

  /** CUBE over the meta-key pair — completes the grouping-sets family
    * (SURVEY §2.4 agg_grouping_sets). */
  private val aggCube: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** sink_create_replace + scan round-trip (ref: `create or replace table`,
    * dbc cmd8/9): write the SchemaInformation meta-table into a store
    * and read it back, hash-checked against the declared-registry oracle
    * (a lossy write would diverge). */
  private val sinkRoundtrip: Q = (s, dir) => {
    val store = new VersionedStore(Fs.freshScratch(s, "sink"))
    store.write(Profiler.schemaInformation(s, dir), "SchemaInformation")
    store.read(s, "SchemaInformation").orderBy("tableName", "columnName")
  }

  /** The reference's maintenance pass (ref: OPTIMIZE/ZORDER, dbc
    * cmd16/17) on a fresh store under `root`: write `part` as 8 small
    * files, bin-pack to ceil(head bytes / 1 GiB) files, then Z-order
    * cluster over the head's file count. Returns one row per step in the
    * reference's OPTIMIZE metrics shape (SURVEY Appendix B.3): files
    * added and removed are the file-set differences between the
    * manifests before and after the step. */
  private def optimizePart(s: SparkSession, dir: String,
      root: String): Seq[(String, Long, Long, String)] = {
    val store = new VersionedStore(root)
    val v0 = store.write(Tables.load(s, dir, "part").repartition(8), "part")
    val files0 = store.manifest("part", v0)._2
    val headBytes = files0.map(f => new java.io.File(s"$root/part/files/$f").length).sum
    val v1 = store.optimize(s, "part",
      targetFiles = math.max(1, math.ceil(headBytes / 1073741824.0).toInt))
    val files1 = store.manifest("part", v1)._2
    val v2 = store.optimize(s, "part", targetFiles = files1.size,
      zorderBy = Seq("p_size", "p_partkey"), bits = 8)
    val files2 = store.manifest("part", v2)._2
    def step(op: String, before: Seq[String], after: Seq[String], strategy: String) =
      (op, after.diff(before).size.toLong, before.diff(after).size.toLong, strategy)
    Seq(step("compact", files0, files1, "binPack(1073741824)"),
      step("zorder", files1, files2, "zorder(p_size,p_partkey)"))
  }

  /** OPTIMIZE metrics of the maintenance pass. The file counts are
    * deterministic from the fixture geometry — repartition(8) writes 8
    * files, a 1 GiB bin-pack target folds any test-scale table to one
    * file, and the Z-order rewrite keeps that one file — so the full
    * metrics row hash-checks against a declared VALUES oracle (file
    * SIZES stay out of the result: byte counts are
    * compression-env-dependent). */
  private val maintenanceOptimize: Q = (s, dir) => {
    import s.implicits._
    optimizePart(s, dir, Fs.freshScratch(s, "opt"))
      .toDF("op", "numFilesAdded", "numFilesRemoved", "strategyName")
      .orderBy("op")
  }

  /** Content-preservation oracle for OPTIMIZE: compact + Z-ORDER the
    * part table, then read the store back — the result must be
    * byte-identical (modulo order) to the source table, proving the
    * maintenance pipeline rewrites layout, never data. This is the
    * DuckDB-checkable half of maintenance_optimize (whose file-count
    * metrics are engine-specific and stay rows-only). */
  private val maintenanceOptimizeContent: Q = (s, dir) => {
    val root = Fs.freshScratch(s, "optc")
    optimizePart(s, dir, root)
    new VersionedStore(root).read(s, "part")
      .select(col("p_partkey"), col("p_name"), col("p_size").cast("int").as("p_size"),
        col("p_retailprice").cast("double").as("p_retailprice"))
      .orderBy("p_partkey")
  }

  /** Two-phase salted aggregation: the skew-immune form of a groupBy on a
    * heavily-skewed key (3-value l_returnflag at 100 TB = 3 reducers doing
    * all the work). Phase 1 aggregates on (key, salt) — 16-way fan-out of
    * every hot key; phase 2 re-aggregates the 16 partials per key. Result
    * is identical to the direct groupBy (the oracle is exactly that). */
  private val aggSaltedSkew: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(16)))
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("pn"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("pq"))
      .groupBy("l_returnflag")
      .agg(sum(col("pn")).as("n"), sum(col("pq")).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")

  val queries: Map[String, Q] = Map(
    "agg_salted_skew" -> aggSaltedSkew,
    "schema_drift" -> schemaDrift,
    "win_range_frame" -> winRangeFrame,
    "agg_cube" -> aggCube,
    "sink_roundtrip" -> sinkRoundtrip,
    "maintenance_optimize" -> maintenanceOptimize,
    "maintenance_optimize_content" -> maintenanceOptimizeContent
  )

  val oracles: Map[String, String] = Map(
    "agg_salted_skew" ->
      "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "schema_drift" -> {
      val values = Tables.meta("events").cols
        .map(c => s"('graft','events','${c.name}','${c.sparkType}','')").mkString(",")
      s"SELECT * FROM (VALUES $values) AS t(databaseName, tableName, columnName, dataType, comments) ORDER BY tableName, columnName"
    },
    "win_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS range_sum,
        |CAST(COUNT(*) OVER w AS BIGINT) AS range_n
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) ORDER BY o_orderkey""".stripMargin,
    "agg_cube" ->
      "SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST",
    // the round-trip preserves SchemaInformation byte-for-byte, so the
    // sink read-back hash-checks against the same declared-registry
    // oracle the profiler uses (the write is the part under test)
    "sink_roundtrip" -> Profiler.schemaInformationOracle(),
    "maintenance_optimize" ->
      """SELECT * FROM (VALUES
        |  ('compact', CAST(1 AS BIGINT), CAST(8 AS BIGINT), 'binPack(1073741824)'),
        |  ('zorder',  CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'zorder(p_size,p_partkey)'))
        |  AS t(op, numFilesAdded, numFilesRemoved, strategyName) ORDER BY op""".stripMargin,
    "maintenance_optimize_content" ->
      "SELECT p_partkey, p_name, CAST(p_size AS INT) AS p_size, CAST(p_retailprice AS DOUBLE) AS p_retailprice FROM part ORDER BY p_partkey"
  )
}
