package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Core relational surface: scans, catalog introspection, filters,
  * projections, aggregation family, sorts/limits, set operations and the
  * scalar-function inventory (SURVEY.md §2.1, §2.2, §2.4, §2.6–2.8).
  *
  * Every query ends in a deterministic `orderBy` on a unique key and every
  * computed numeric column is rendered type-identically on the Spark and
  * DuckDB sides (counts → bigint, exact decimal sums → double) so the
  * driver's hash compare is stable (SURVEY.md §5.2, §7.3).
  */
object Relational {

  // ---- §2.1 scans & catalog -------------------------------------------

  /** Full scan (ref: `select * from {db}.{table}`, dbc cmd12/cmd18). */
  private val scanTable: Q = (s, dir) =>
    Tables.load(s, dir, "region").orderBy("r_regionkey")

  /** Catalog table enumeration (ref: `show tables`, dbc cmd7). */
  private val catalogListTables: Q = (s, dir) => {
    import s.implicits._
    Tables.all.map(m => ("graft", m.name, false))
      .toDF("database", "tableName", "isTemporary")
      .orderBy("tableName")
  }

  /** Per-column describe (ref: `describe {db}.{table}`, dbc cmd12) —
    * metadata-only, zero jobs. */
  private val catalogDescribe: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "lineitem").schema.fields.toSeq
      .map(f => (f.name, f.dataType.sql.toLowerCase, ""))
      .toDF("col_name", "data_type", "comment")
      .orderBy("col_name")
  }

  /** 1-row column probe (ref: `select * from {t} limit 1`, dbc cmd12) —
    * made deterministic with an explicit order key. */
  private val columnsProbe: Q = (s, dir) =>
    Tables.load(s, dir, "nation").orderBy("n_nationkey").limit(1)

  // ---- §2.2 filters & projections -------------------------------------

  /** Work-list exclusion filter (ref: dbc cmd7: `tableName not in (...) and
    * database != ''`). */
  private val filterNotIn: Q = (s, dir) => {
    import s.implicits._
    Tables.all.map(m => ("graft", m.name, false))
      .toDF("database", "tableName", "isTemporary")
      .filter(!col("tableName").isin("profiledata", "schemainformation", "tableoptimizations")
        && col("database") =!= "")
      .orderBy("tableName")
  }

  /** DESCRIBE-noise filter (ref: `instr(col_name,'#')=0`, dbc cmd12). */
  private val filterInstr: Q = (s, dir) =>
    Tables.load(s, dir, "part")
      .filter(instr(col("p_name"), "o") === 0)
      .select(col("p_partkey"), col("p_name"))
      .orderBy("p_partkey")

  /** Single-key equality lookup (ref: `where col_name = '{c}'`, dbc cmd12). */
  private val filterEqLookup: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .filter(col("l_returnflag") === lit("A"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Literal provenance tags (ref: `.withColumn('Tname', lit(table))`,
    * dbc cmd12). */
  private val projectAddLiterals: Q = (s, dir) =>
    Tables.load(s, dir, "nation")
      .withColumn("Tname", lit("nation"))
      .withColumn("DBname", lit("graft"))
      .orderBy("n_nationkey")

  /** Positional rename projection (ref: schemaSQL select, dbc cmd12). */
  private val projectRename: Q = (s, dir) =>
    Tables.load(s, dir, "region")
      .select(col("r_regionkey").as("regionKey"), col("r_name").as("regionName"))
      .orderBy("regionKey")

  /** The MERGE source guard (ref: `s.columnName not in ('','Not
    * partitioned')` in the ON clause, dbc cmd13/14): filter a
    * describe-shaped relation carrying the reference's noise rows. */
  private val predicateNotInMerge: Q = (s, dir) => {
    import s.implicits._
    val extras = Seq(("graft", "part", "", "", ""), ("graft", "part", "Not partitioned", "", ""))
      .toDF("databaseName", "tableName", "columnName", "dataType", "comments")
    Profiler.schemaInformation(s, dir, Seq(Tables.meta("part")))
      .union(extras)
      .filter(!col("columnName").isin("", "Not partitioned"))
      .orderBy("columnName")
  }

  // ---- §2.4 aggregation family ----------------------------------------

  /** Group cardinality (ref: `count(*) … group by {c}`, dbc cmd12). */
  private val aggCountStar: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Work-list materialization (ref: `collect_list(tableName)`, dbc cmd7)
    * — keyed, sort_array'd, and rendered as a joined string so the
    * differential gate compares scalars (pandas can't hash array cells). */
  private val aggCollectList: Q = (s, dir) =>
    Tables.load(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(array_join(sort_array(collect_list("c_name")), ",").as("names"))
      .orderBy("c_nationkey")

  /** SQL-`union` set dedup (ref: bare `union` accumulation, dbc cmd12). */
  private val aggDistinct: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  /** NDV via HLL++ sketch (SURVEY §2.4 agg_approx_distinct).
    * THIS REGISTERED FORM IS THE TEST-SCALE SHAPE: it computes the exact
    * counts alongside the sketch so the differential gate can hash-pin
    * the estimate within ±5% (rsd = 0.02, so the bound is 2.5σ) — a
    * drifting estimate flips a boolean and fails CORRECTNESS, and the
    * bench accordingly times sketch + exact together. The PRODUCTION
    * shape at 100 TB is the sketch ALONE (drop the two countDistinct
    * columns — exact NDV is the thing being avoided); the sketch stays
    * engine-specific and out of the oracle hash either way. Same
    * test-vs-production framing applies to agg_approx_percentile and
    * the ANN recall gates (their raw production forms are registered as
    * the `*_raw`/index variants and exercised in specs). */
  private val aggApproxDistinct: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .select(col("n_parts"), col("n_orders"),
        (abs(col("ap") - col("n_parts")).cast("double") <=
          col("n_parts").cast("double") * 0.05).as("parts_within_5pct"),
        (abs(col("ao") - col("n_orders")).cast("double") <=
          col("n_orders").cast("double") * 0.05).as("orders_within_5pct"))

  /** Exact-distinct twin of the sketch, oracle-checked at test scale. */
  private val aggDistinctCount: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  /** Multi-level rollup over the meta-table key hierarchy (SURVEY §2.4
    * agg_grouping_sets). */
  private val aggGroupingSets: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  // ---- §2.6 sorts / limits / top-k ------------------------------------

  private val limitProbe: Q = (s, dir) =>
    Tables.load(s, dir, "orders").orderBy("o_orderkey").limit(1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))

  private val limitPreview: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag").limit(1000)

  private val sortOrderBy: Q = (s, dir) =>
    Tables.load(s, dir, "supplier")
      .orderBy(desc("s_acctbal"), asc("s_suppkey"))

  /** Global top-k → TakeOrderedAndProject: no full sort, per-partition
    * heaps + single merge — the 100 TB-safe form of ORDER BY…LIMIT. */
  private val topkGlobal: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(100)

  // ---- §2.7 set operations --------------------------------------------

  private val setopUnionDistinct: Q = (s, dir) =>
    Tables.load(s, dir, "customer").select(col("c_nationkey").as("k"))
      .union(Tables.load(s, dir, "supplier").select(col("s_nationkey").as("k")))
      .distinct()
      .orderBy("k")

  private val setopUnionAll: Q = (s, dir) =>
    Tables.load(s, dir, "customer").select(col("c_nationkey").as("k"))
      .union(Tables.load(s, dir, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")

  private val setopIntersectAll: Q = (s, dir) =>
    Tables.load(s, dir, "customer").select(col("c_nationkey").as("k"))
      .intersectAll(Tables.load(s, dir, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")

  private val setopExceptAll: Q = (s, dir) =>
    Tables.load(s, dir, "supplier").select(col("s_nationkey").as("k"))
      .exceptAll(Tables.load(s, dir, "customer").filter(col("c_custkey") < 5)
        .select(col("c_nationkey").as("k")))
      .orderBy("k")

  private val setopIntersect: Q = (s, dir) =>
    Tables.load(s, dir, "customer").select(col("c_nationkey").as("k"))
      .intersect(Tables.load(s, dir, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")

  private val setopExcept: Q = (s, dir) =>
    Tables.load(s, dir, "customer").select(col("c_nationkey").as("k"))
      .except(Tables.load(s, dir, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")

  // ---- §2.8 scalar functions ------------------------------------------

  /** Core string functions the reference exercises: instr, length, lit,
    * cast-to-string (dbc cmd12). */
  private val fnStringCore: Q = (s, dir) =>
    Tables.load(s, dir, "part").select(
      col("p_partkey"),
      instr(col("p_name"), "a").cast("bigint").as("pos_a"),
      length(col("p_name")).cast("bigint").as("name_len"),
      col("p_size").cast("string").as("size_str"),
      lit("part").as("tag"))
    .orderBy("p_partkey")

  /** ref: `select current_database()` (dbc cmd5). */
  private val fnCurrentDatabase: Q = (s, dir) => {
    import s.implicits._
    Seq(s.catalog.currentDatabase).toDF("current_db")
  }

  private val fnStringExt: Q = (s, dir) =>
    Tables.load(s, dir, "customer").select(
      col("c_custkey"),
      lower(col("c_name")).as("lo"),
      upper(col("c_mktsegment")).as("up"),
      trim(lit("  pad  ")).as("trimmed"),
      substring(col("c_name"), 1, 8).as("sub"),
      split(col("c_name"), "#").getItem(1).as("num_part"),
      regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
      regexp_replace(col("c_name"), "[0-9]", "x").as("masked"),
      concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"))
    .orderBy("c_custkey")

  private val fnDate: Q = (s, dir) =>
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("bigint").as("y"),
      month(col("o_orderdate")).cast("bigint").as("m"),
      dayofmonth(col("o_orderdate")).cast("bigint").as("d"),
      col("o_orderdate").cast("date").as("odate"),
      date_trunc("month", col("o_orderdate")).cast("date").as("omonth"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
        .cast("bigint").as("days_since"))
    .orderBy("o_orderkey")

  /** Math functions chosen for bit-exact cross-engine determinism: abs,
    * floor/ceil, IEEE-exact sqrt, x*x (not pow), round on integral doubles
    * (SURVEY §7.3 float-parity risk). */
  private val fnMath: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_discount") - 0.05).as("abs_d"),
      floor(col("l_extendedprice")).cast("bigint").as("fl"),
      ceil(col("l_extendedprice")).cast("bigint").as("ce"),
      sqrt(col("l_quantity")).as("sq"),
      (col("l_tax") * col("l_tax")).as("tax2"),
      round(col("l_quantity")).cast("bigint").as("rq"))
    .orderBy("l_orderkey", "l_linenumber", "fl", "sq", "tax2", "abs_d")

  /** Higher-order array functions over the embeddings fixture (SURVEY
    * §2.8 fn_array): size, element access, HOF aggregate/transform. */
  private val fnArray: Q = (s, dir) =>
    Tables.load(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).cast("bigint").as("dim"),
      round(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double")), 4).as("sum4"),
      array_max(col("embedding")).cast("double").as("mx"),
      array_min(col("embedding")).cast("double").as("mn"),
      element_at(col("embedding"), 1).cast("double").as("e1"),
      element_at(col("embedding"), 2).cast("double").as("e2"),
      round(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x), 4).as("norm2_4"))
    .orderBy("vec_id")

  /** JSON/map extraction over events.props (SURVEY §2.8 fn_map_json,
    * §2.10 multimodal_cols). */
  private val fnMapJson: Q = (s, dir) =>
    Tables.load(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").as("k_str"),
      from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType))("k").as("k_num"),
      map_keys(from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType))).getItem(0).as("first_key"))
    .orderBy("event_id")

  private val fnConditional: Q = (s, dir) =>
    Tables.load(s, dir, "customer").select(
      col("c_custkey"),
      when(col("c_acctbal") < 0, lit("neg"))
        .when(col("c_acctbal") < 5000, lit("mid"))
        .otherwise(lit("high")).as("bucket"),
      coalesce(nullif(col("c_mktsegment"), lit("FURNITURE")), lit("OTHER")).as("seg"),
      when(col("c_nationkey") % 2 === 0, col("c_name")).as("maybe_name"))
    .orderBy("c_custkey")

  /** Bitwise function family over integer keys (SURVEY §2.8 extension). */
  private val fnBitwise: Q = (s, dir) =>
    Tables.load(s, dir, "part").select(
      col("p_partkey"),
      (col("p_partkey").bitwiseAND(lit(255L))).as("andv"),
      (col("p_partkey").bitwiseOR(lit(4096L))).as("orv"),
      (col("p_partkey").bitwiseXOR(col("p_size").cast("bigint"))).as("xorv"),
      shiftleft(col("p_size"), 3).cast("bigint").as("shl"),
      shiftright(col("p_partkey"), 2).as("shr"))
    .orderBy("p_partkey")

  /** Exact percentiles (interpolated): median and p90 per group — both
    * engines interpolate linearly over the same sorted values, so the
    * doubles match exactly (SURVEY §2.4 agg_stats extension). */
  private val aggPercentiles: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Quantiles at scale: the approx_percentile sketch (GK/KLL-style) —
    * the 100 TB path where exact percentile's full sort-per-group is
    * infeasible; sketch buffers merge map-side like any partial
    * aggregate. Differentially gated (r08): the row carries the exact
    * interpolated percentiles (oracle-hashed) plus booleans pinning each
    * sketch value inside the exact ±5-percentile RANK band (accuracy
    * 1000 ⇒ rank error ≤ 0.1%, so the 5% band has 50× headroom) — a
    * merge-order-dependent sketch value stays out of the hash, but a
    * rank-error regression flips a boolean. */
  private val aggApproxPercentile: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("am"),
        expr("approx_percentile(l_quantity, 0.9, 1000)").as("a90"),
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_quantity, 0.45)").as("lo50"),
        expr("percentile(l_quantity, 0.55)").as("hi50"),
        expr("percentile(l_quantity, 0.88)").as("lo90"),
        expr("percentile(l_quantity, 0.92)").as("hi90"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("median_qty"), col("p90_qty"), col("n"),
        (col("am") >= col("lo50") && col("am") <= col("hi50"))
          .as("median_in_band"),
        (col("a90") >= col("lo90") && col("a90") <= col("hi90"))
          .as("p90_in_band"))
      .orderBy("l_returnflag")

  /** Padding/slicing string family (SURVEY §2.8 extension). */
  private val fnStringPad: Q = (s, dir) =>
    Tables.load(s, dir, "region").select(
      col("r_regionkey"),
      lpad(col("r_name"), 12, ".").as("lp"),
      rpad(col("r_name"), 12, "_").as("rp"),
      reverse(col("r_name")).as("rev"),
      substring(col("r_name"), 1, 3).as("l3"),
      expr("right(r_name, 3)").as("r3"),
      translate(col("r_name"), "AEIOU", "aeiou").as("tr"))
    .orderBy("r_regionkey")

  /** Explicit cross join of two small dims (SURVEY §2.3 completeness). */
  private val joinCross: Q = (s, dir) =>
    Tables.load(s, dir, "region").crossJoin(Tables.load(s, dir, "nation"))
      .select(col("r_regionkey"), col("n_nationkey"))
      .orderBy("r_regionkey", "n_nationkey")

  /** Argument-extrema aggregates: the value of one column at another's
    * max/min — deterministic because the argument key is unique. */
  private val aggMinmaxBy: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(
        expr("max_by(o_orderstatus, o_orderkey)").as("latest_status"),
        expr("min_by(o_orderpriority, o_orderkey)").as("first_priority"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_custkey")

  /** Datetime part extraction over event time (SURVEY §2.8 fn_date ext);
    * dayofweek aligned across engines (Spark 1=Sunday, DuckDB 0=Sunday). */
  private val fnDatetimeParts: Q = (s, dir) =>
    Tables.load(s, dir, "events").select(
      col("event_id"),
      hour(col("ts")).cast("bigint").as("h"),
      minute(col("ts")).cast("bigint").as("mi"),
      second(col("ts")).cast("bigint").as("sec"),
      dayofweek(col("ts")).cast("bigint").as("dow"),
      weekofyear(col("ts")).cast("bigint").as("woy"))
    .orderBy("event_id")

  /** Array set algebra over token arrays (SURVEY §2.8 fn_array ext);
    * outputs sorted for cross-engine order independence and rendered as
    * joined strings (scalar cells keep the differential gate hashable). */
  private val fnArraySetops: Q = (s, dir) =>
    Tables.load(s, dir, "customer").select(
      col("c_custkey"),
      array_join(sort_array(array_distinct(split(lower(col("c_name")), "0"))), "|").as("dedup"),
      array_join(sort_array(array_union(split(col("c_mktsegment"), "I"), array(lit("x")))), "|").as("uni"),
      array_join(sort_array(split(col("c_mktsegment"), "I")), "|").as("joined"),
      array_join(flatten(array(split(col("c_mktsegment"), "I"), array(lit("z")))), "|").as("flat"))
    .orderBy("c_custkey")

  /** Ordered string aggregation per group (LISTAGG pattern). */
  private val aggStringagg: Q = (s, dir) =>
    Tables.load(s, dir, "nation")
      .groupBy("n_regionkey")
      .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"))
      .orderBy("n_regionkey")

  /** Portable cryptographic hashes (content addressing at any scale). */
  private val fnHash: Q = (s, dir) =>
    Tables.load(s, dir, "customer").select(
      col("c_custkey"),
      md5(col("c_name").cast("binary")).as("h_md5"),
      sha2(col("c_name").cast("binary"), 256).as("h_sha256"))
    .orderBy("c_custkey")

  // ---- registration ----------------------------------------------------

  val queries: Map[String, Q] = Map(
    "scan_table" -> scanTable,
    "catalog_list_tables" -> catalogListTables,
    "catalog_describe" -> catalogDescribe,
    "columns_probe" -> columnsProbe,
    "filter_not_in" -> filterNotIn,
    "filter_instr" -> filterInstr,
    "filter_eq_lookup" -> filterEqLookup,
    "project_add_literals" -> projectAddLiterals,
    "project_rename" -> projectRename,
    "predicate_not_in_merge" -> predicateNotInMerge,
    "agg_count_star" -> aggCountStar,
    "agg_collect_list" -> aggCollectList,
    "agg_distinct" -> aggDistinct,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_distinct_count" -> aggDistinctCount,
    "agg_grouping_sets" -> aggGroupingSets,
    "limit_probe" -> limitProbe,
    "limit_preview" -> limitPreview,
    "sort_orderby" -> sortOrderBy,
    "topk_global" -> topkGlobal,
    "setop_union_distinct" -> setopUnionDistinct,
    "setop_union_all" -> setopUnionAll,
    "setop_intersect" -> setopIntersect,
    "setop_intersect_all" -> setopIntersectAll,
    "setop_except_all" -> setopExceptAll,
    "setop_except" -> setopExcept,
    "fn_string_core" -> fnStringCore,
    "fn_current_database" -> fnCurrentDatabase,
    "fn_string_ext" -> fnStringExt,
    "fn_date" -> fnDate,
    "fn_math" -> fnMath,
    "fn_array" -> fnArray,
    "fn_map_json" -> fnMapJson,
    "fn_conditional" -> fnConditional,
    "fn_bitwise" -> fnBitwise,
    "fn_string_pad" -> fnStringPad,
    "fn_array_setops" -> fnArraySetops,
    "agg_stringagg" -> aggStringagg,
    "fn_hash" -> fnHash,
    "join_cross" -> joinCross,
    "agg_minmax_by" -> aggMinmaxBy,
    "fn_datetime_parts" -> fnDatetimeParts,
    "agg_percentiles" -> aggPercentiles,
    "agg_approx_percentile" -> aggApproxPercentile
  )

  private def tablesValues: String =
    Tables.all.map(m => s"('graft','${m.name}',false)").mkString(",")

  val oracles: Map[String, String] = Map(
    "scan_table" -> "SELECT * FROM region ORDER BY r_regionkey",
    "catalog_list_tables" ->
      s"SELECT * FROM (VALUES $tablesValues) AS t(database, tableName, isTemporary) ORDER BY tableName",
    "catalog_describe" -> {
      val values = Tables.meta("lineitem").cols
        .map(c => s"('${c.name}','${c.sparkType}','')").mkString(",")
      s"SELECT * FROM (VALUES $values) AS t(col_name, data_type, comment) ORDER BY col_name"
    },
    "columns_probe" -> "SELECT * FROM nation ORDER BY n_nationkey LIMIT 1",
    "filter_not_in" ->
      s"""SELECT * FROM (VALUES $tablesValues) AS t(database, tableName, isTemporary) WHERE tableName NOT IN ('profiledata','schemainformation','tableoptimizations') AND database <> '' ORDER BY tableName""",
    "filter_instr" ->
      "SELECT p_partkey, p_name FROM part WHERE strpos(p_name, 'o') = 0 ORDER BY p_partkey",
    "filter_eq_lookup" ->
      "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag = 'A' ORDER BY l_orderkey, l_linenumber",
    "project_add_literals" ->
      "SELECT n_nationkey, n_name, n_regionkey, 'nation' AS Tname, 'graft' AS DBname FROM nation ORDER BY n_nationkey",
    "project_rename" ->
      "SELECT r_regionkey AS regionKey, r_name AS regionName FROM region ORDER BY regionKey",
    "predicate_not_in_merge" -> {
      val cols = Tables.meta("part").cols
        .map(c => s"('graft','part','${c.name}','${c.sparkType}','')")
      val all = (cols ++ Seq("('graft','part','','','')", "('graft','part','Not partitioned','','')")).mkString(",")
      s"""SELECT * FROM (VALUES $all) AS t(databaseName, tableName, columnName, dataType, comments) WHERE columnName NOT IN ('','Not partitioned') ORDER BY columnName"""
    },
    "agg_count_star" ->
      "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1,2 ORDER BY 1,2",
    "agg_collect_list" ->
      "SELECT c_nationkey, array_to_string(list_sort(list(c_name)), ',') AS names FROM customer GROUP BY c_nationkey ORDER BY c_nationkey",
    "agg_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY 1,2",
    "agg_distinct_count" ->
      "SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lineitem",
    "agg_grouping_sets" ->
      "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST",
    "limit_probe" ->
      "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders ORDER BY o_orderkey LIMIT 1",
    "limit_preview" ->
      "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem ORDER BY l_orderkey, l_linenumber, l_returnflag LIMIT 1000",
    "sort_orderby" ->
      "SELECT * FROM supplier ORDER BY s_acctbal DESC NULLS LAST, s_suppkey",
    "topk_global" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey, l_linenumber LIMIT 100",
    "setop_union_distinct" ->
      "SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier ORDER BY k",
    "setop_union_all" ->
      "SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey FROM supplier ORDER BY k",
    "setop_intersect" ->
      "SELECT DISTINCT c_nationkey AS k FROM customer INTERSECT SELECT DISTINCT s_nationkey FROM supplier ORDER BY k",
    "setop_intersect_all" ->
      "SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier ORDER BY k",
    "setop_except_all" ->
      "SELECT s_nationkey AS k FROM supplier EXCEPT ALL SELECT c_nationkey FROM customer WHERE c_custkey < 5 ORDER BY k",
    "setop_except" ->
      "SELECT DISTINCT c_nationkey AS k FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier ORDER BY k",
    "fn_string_core" ->
      "SELECT p_partkey, CAST(strpos(p_name, 'a') AS BIGINT) AS pos_a, CAST(LENGTH(p_name) AS BIGINT) AS name_len, CAST(p_size AS VARCHAR) AS size_str, 'part' AS tag FROM part ORDER BY p_partkey",
    "fn_current_database" -> "SELECT 'default' AS current_db",
    "fn_string_ext" ->
      "SELECT c_custkey, LOWER(c_name) AS lo, UPPER(c_mktsegment) AS up, TRIM('  pad  ') AS trimmed, SUBSTRING(c_name, 1, 8) AS sub, string_split(c_name, '#')[2] AS num_part, regexp_extract(c_name, '([0-9]+)', 1) AS digits, regexp_replace(c_name, '[0-9]', 'x', 'g') AS masked, concat_ws('|', c_mktsegment, c_name) AS joined FROM customer ORDER BY c_custkey",
    "fn_date" ->
      "SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS y, CAST(MONTH(o_orderdate) AS BIGINT) AS m, CAST(DAYOFMONTH(o_orderdate) AS BIGINT) AS d, CAST(o_orderdate AS DATE) AS odate, CAST(date_trunc('month', o_orderdate) AS DATE) AS omonth, CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since FROM orders ORDER BY o_orderkey",
    "fn_math" ->
      "SELECT l_orderkey, l_linenumber, ABS(l_discount - 0.05) AS abs_d, CAST(FLOOR(l_extendedprice) AS BIGINT) AS fl, CAST(CEIL(l_extendedprice) AS BIGINT) AS ce, SQRT(l_quantity) AS sq, l_tax * l_tax AS tax2, CAST(ROUND(l_quantity) AS BIGINT) AS rq FROM lineitem ORDER BY l_orderkey, l_linenumber, fl, sq, tax2, abs_d",
    "fn_array" ->
      "SELECT vec_id, CAST(LEN(embedding) AS BIGINT) AS dim, ROUND(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 4) AS sum4, CAST(list_max(embedding) AS DOUBLE) AS mx, CAST(list_min(embedding) AS DOUBLE) AS mn, CAST(embedding[1] AS DOUBLE) AS e1, CAST(embedding[2] AS DOUBLE) AS e2, ROUND(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 4) AS norm2_4 FROM embeddings ORDER BY vec_id",
    "fn_map_json" ->
      "SELECT event_id, json_extract_string(props, '$.k') AS k_str, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num, 'k' AS first_key FROM events ORDER BY event_id",
    "fn_conditional" ->
      "SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bucket, COALESCE(NULLIF(c_mktsegment, 'FURNITURE'), 'OTHER') AS seg, CASE WHEN c_nationkey % 2 = 0 THEN c_name END AS maybe_name FROM customer ORDER BY c_custkey",
    "fn_array_setops" ->
      "SELECT c_custkey, array_to_string(list_sort(list_distinct(string_split(lower(c_name), '0'))), '|') AS dedup, array_to_string(list_sort(list_distinct(list_concat(string_split(c_mktsegment, 'I'), ['x']))), '|') AS uni, array_to_string(list_sort(string_split(c_mktsegment, 'I')), '|') AS joined, array_to_string(list_concat(string_split(c_mktsegment, 'I'), ['z']), '|') AS flat FROM customer ORDER BY c_custkey",
    "agg_stringagg" ->
      "SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names FROM nation GROUP BY n_regionkey ORDER BY n_regionkey",
    "fn_hash" ->
      "SELECT c_custkey, md5(c_name) AS h_md5, sha256(c_name) AS h_sha256 FROM customer ORDER BY c_custkey",
    "fn_string_pad" ->
      "SELECT r_regionkey, lpad(r_name, 12, '.') AS lp, rpad(r_name, 12, '_') AS rp, reverse(r_name) AS rev, substring(r_name, 1, 3) AS l3, right(r_name, 3) AS r3, translate(r_name, 'AEIOU', 'aeiou') AS tr FROM region ORDER BY r_regionkey",
    "join_cross" ->
      "SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation ORDER BY r_regionkey, n_nationkey",
    "agg_minmax_by" ->
      "SELECT o_custkey, arg_max(o_orderstatus, o_orderkey) AS latest_status, arg_min(o_orderpriority, o_orderkey) AS first_priority, CAST(MAX(o_orderkey) AS BIGINT) AS max_key FROM orders GROUP BY o_custkey ORDER BY o_custkey",
    "fn_datetime_parts" ->
      "SELECT event_id, CAST(hour(ts) AS BIGINT) AS h, CAST(minute(ts) AS BIGINT) AS mi, CAST(CAST(second(ts) AS INT) AS BIGINT) AS sec, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, CAST(weekofyear(ts) AS BIGINT) AS woy FROM events ORDER BY event_id",
    "fn_bitwise" ->
      "SELECT p_partkey, p_partkey & 255 AS andv, p_partkey | 4096 AS orv, xor(p_partkey, CAST(p_size AS BIGINT)) AS xorv, CAST(p_size << 3 AS BIGINT) AS shl, p_partkey >> 2 AS shr FROM part ORDER BY p_partkey",
    "agg_percentiles" ->
      "SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty, quantile_cont(l_quantity, 0.9) AS p90_qty, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "agg_approx_distinct" ->
      ("SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts, " +
        "CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders, " +
        "TRUE AS parts_within_5pct, TRUE AS orders_within_5pct FROM lineitem"),
    "agg_approx_percentile" ->
      ("SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty, " +
        "quantile_cont(l_quantity, 0.9) AS p90_qty, CAST(COUNT(*) AS BIGINT) AS n, " +
        "TRUE AS median_in_band, TRUE AS p90_in_band " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
  )
}
