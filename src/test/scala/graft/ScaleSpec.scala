package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.{Bucketing, Tables, VersionedStore}

/** Scale-mechanism proofs: the physical properties the 100 TB design
  * relies on, observed on real files/plans (SCALING.md). */
class ScaleSpec extends SparkSuite {

  test("z-order clustering narrows per-file min/max ranges (data skipping)") {
    val store = new VersionedStore(Files.createTempDirectory("graft-scale").toString)
    // per-file p_size [min, max] from the manifest stats: the statistics
    // data skipping reads
    def ranges(v: Long): Seq[(Double, Double)] =
      store.manifestWithStats("p", v)._2.map { e =>
        val (lo, hi) = e.stats("p_size")
        (lo.toDouble, hi.toDouble)
      }
    // unclustered: 4 round-robin files, each spanning ~the full p_size domain
    val before = ranges(store.write(Tables.load(spark, sf, "part").repartition(4), "p"))
    val globalSpan = before.map(_._2).max - before.map(_._1).min
    val avgBefore = before.map { case (lo, hi) => hi - lo }.sum / before.size
    val after = ranges(store.optimize(spark, "p", targetFiles = 4,
      zorderBy = Seq("p_size", "p_partkey"), bits = 8))
    val avgAfter = after.map { case (lo, hi) => hi - lo }.sum / after.size
    // round-robin files span nearly the whole domain; clustered files must
    // cover materially narrower slices - that narrowing IS what the
    // manifest stats skip on
    assert(avgBefore > 0.8 * globalSpan, s"unclustered spans: $before")
    assert(avgAfter < 0.6 * globalSpan, s"clustered spans: $after (global $globalSpan)")
  }

  test("bucketed join on co-bucketed tables plans without a shuffle") {
    // disable broadcast so the planner must pick the shuffle-family join -
    // bucketing then removes both exchanges (at 100 TB neither side
    // broadcasts anyway)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      bucketedJoinBody()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def bucketedJoinBody(): Unit = {
    Bucketing.writeBucketed(
      Tables.load(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")), "li_b", "l_orderkey", 8)
    Bucketing.writeBucketed(
      Tables.load(spark, sf, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
      "ord_b", "l_orderkey", 8)
    val joined = Bucketing.bucketedJoin(spark, "li_b", "ord_b", "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n${plan.take(1500)}")
    // and it still computes the right thing
    val n = joined.count()
    val expected = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(n === expected)
  }

  test("broadcast threshold honors the reference's 20 MiB setting") {
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") === "20971520")
    assert(spark.conf.get("spark.sql.join.prefersortmergejoin") === "false")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("partitioned source prunes to the filtered year at planning time") {
    val df = graft.sources.Formats.queries("source_partitioned")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("= 1996"),
      s"expected oyear partition pruning in:\n$plan")
    assert(df.count() > 0)
  }

  test("filters reach the parquet scan (PushedFilters)") {
    val df = Tables.load(spark, sf, "lineitem")
      .filter(col("l_quantity") > 30.0 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    // the plan string elides long filter lists; the leading pushed
    // predicates prove pushdown reached the scan
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity)") &&
      scan.contains("GreaterThan(l_quantity,30.0)"),
      s"expected pushed filters in:\n${scan.take(1500)}")
  }

  test("column pruning: a 2-column projection reads only those columns") {
    val df = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"scan reads more than the projection: $readSchema")
  }

  test("histogram aggregate is partial (map-side combine) under the exchange") {
    graft.engine.Materialize.invalidate()   // bypass the cache: plan the real pipeline
    val df = graft.ops.Profiler.histogramAgg(spark, sf, Seq(Tables.meta("orders")))
    val plan = df.queryExecution.executedPlan.toString
    graft.engine.Materialize.invalidate()
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange > firstAgg,
      s"expected partial HashAggregate above Exchange in:\n${plan.take(1500)}")
    assert(plan.contains("partial_count") || plan.contains("partial count") ||
      plan.split("HashAggregate").length > 2,
      s"expected a partial aggregation phase in:\n${plan.take(1500)}")
  }

  test("graph_hits half-step: cached edge layout joins in place, vector never broadcast") {
    // the HITS superstep contract (Wave47): the edge aggregate is cached
    // hash-partitioned by the join key, the entity-sized score vector is
    // SHUFFLE_HASH-joined into that layout - so the edge side reads from
    // cache with NO exchange and NOTHING data-sized is ever broadcast,
    // which is the plan that survives 100 TB (a broadcast vector is an
    // executor+driver OOM at one row per customer)
    val edges = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("c"))
      .groupBy("c").agg(count(lit(1)).as("w"))
      .repartition(col("c")).persist()
    try {
      edges.count()
      val vec = edges.select(col("c")).withColumn("v", lit(1000000000L))
      val half = edges.join(vec.withColumnRenamed("v", "hv").hint("shuffle_hash"), Seq("c"))
        .groupBy("c").agg(sum(col("w") * col("hv")).as("raw"))
      half.count()
      val plan = half.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"half-step must be a shuffled hash join:\n${plan.take(2000)}")
      assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"),
        s"half-step must not broadcast either side:\n${plan.take(2000)}")
      // the cached edge side must be consumed in place: no exchange may sit
      // between the join and the InMemoryTableScan
      val joinIdx = plan.indexOf("ShuffledHashJoin")
      val scanIdx = plan.indexOf("InMemoryTableScan", joinIdx)
      val between = plan.substring(joinIdx, math.max(scanIdx, joinIdx))
      assert(scanIdx > joinIdx && !between.contains("Exchange"),
        s"cached edge layout re-shuffled:\n${plan.take(2000)}")
    } finally { edges.unpersist(true); () }
  }

  test("graph_hits is broadcast-free under autoBroadcastJoinThreshold=-1, bit-identical") {
    // the 100 TB shape: with size-based broadcasts impossible, the query
    // must still execute (no hint forces a broadcast of anything
    // data-sized; the one broadcast() hint left in Wave47 carries a 1-row
    // norm aggregate) and walk the identical integer orbit
    val base = SparkEntry.queries("graph_hits")(spark, sf)
      .collect().map(_.toString).sorted
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val noB = SparkEntry.queries("graph_hits")(spark, sf)
        .collect().map(_.toString).sorted
      assert(noB === base)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
