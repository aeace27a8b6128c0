package graft

import org.apache.spark.sql.functions._

/** Wave-47 semantics: HITS vectors are unit-norm and replay a local
  * iteration; interval overlaps never exceed either interval's width;
  * code flags reconcile with their own reported inputs. */
class Wave47Spec extends SparkSuite {

  test("graph_hits: unit norms; authority ordering matches local replay") {
    val rows = SparkEntry.queries("graph_hits")(spark, sf).collect()
    val hubs = rows.filter(_.getString(0) == "hub").map(r => r.getLong(1) -> r.getDouble(2))
    val auths = rows.filter(_.getString(0) == "authority").map(r => r.getLong(1) -> r.getDouble(2))
    assert(hubs.nonEmpty && auths.nonEmpty)
    def norm(v: Array[(Long, Double)]) = math.sqrt(v.map(x => x._2 * x._2).sum)
    assert(math.abs(norm(hubs) - 1.0) < 1e-6)
    assert(math.abs(norm(auths) - 1.0) < 1e-6)
    // local replay of 8 double-precision HITS rounds on the same edges
    import graft.engine.Tables
    val edges = Tables.load(spark, sf, "orders").select("o_orderkey", "o_custkey")
      .join(Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
      .agg(count(lit(1)).as("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var h = edges.map(_._1).distinct.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 1 to 8) {
      val ar = edges.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => e._3 * h(e._1)).sum }
      val an = math.sqrt(ar.values.map(x => x * x).sum)
      a = ar.map { case (k, v) => k -> v / an }
      val hr = edges.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => e._3 * a(e._2)).sum }
      val hn = math.sqrt(hr.values.map(x => x * x).sum)
      h = hr.map { case (k, v) => k -> v / hn }
    }
    auths.foreach { case (id, sc) =>
      assert(math.abs(sc - a(id)) < 1e-3, s"authority $id: $sc vs ${a(id)}")
    }
    hubs.foreach { case (id, sc) =>
      assert(math.abs(sc - h(id)) < 1e-3, s"hub $id: $sc vs ${h(id)}")
    }
  }

  test("join_interval_overlap: overlap bounded by a day and a week") {
    val rows = SparkEntry.queries("join_interval_overlap")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nP = r.getLong(r.fieldIndex("n_pairs"))
      val mx = r.getLong(r.fieldIndex("max_overlap_s"))
      val tot = r.getLong(r.fieldIndex("total_overlap_s"))
      assert(nP > 0 && tot > 0)
      assert(mx <= 86400L, s"overlap exceeds a day: $mx")
      assert(tot <= nP * 86400L)
    }
  }

  test("text_code_detect: flag consistent with reported density and hits") {
    val rows = SparkEntry.queries("text_code_detect")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nc = r.getLong(r.fieldIndex("n_chars"))
      val ns = r.getLong(r.fieldIndex("n_sym"))
      val kw = r.getLong(r.fieldIndex("kw_hits"))
      val flag = r.getBoolean(r.fieldIndex("is_code"))
      assert(ns <= nc)
      assert(flag === (ns * 50.0 > nc && kw >= 2))
      val ratio = r.getDouble(r.fieldIndex("sym_ratio"))
      assert(math.abs(ratio - ns.toDouble / nc) < 1e-6 + 1e-9)
    }
  }

  test("graph_hits leaves no cached frame behind") {
    import spark.implicits._
    // checkpoints may stay (the result reads the last ones); both
    // cached edge layouts must go, also when a half-step fails: a
    // negative weight keeps the long path, and w * 1e9 then overflows
    // under ANSI in the first half-step, after the by-customer layout is
    // built
    def cached = org.apache.spark.graftspec.Pins.cached(spark.sparkContext)
    val before = cached
    assert(SparkEntry.queries("graph_hits")(spark, sf).collect().nonEmpty)
    assert(cached === before)
    val failing = Seq((1L, 1L, -1000000000000L)).toDF("c", "p", "w")
    intercept[Exception](graft.ops.Wave47.hits(failing).collect())
    assert(cached === before)
  }
}
