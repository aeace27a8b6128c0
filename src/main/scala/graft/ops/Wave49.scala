package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 49: mergeable set sketches + chain equilibrium — KMV
  * (k-minimum-values) distinct sketches with an inclusion–exclusion
  * intersection estimate (the mergeable "shared audience" read HLL
  * can't give), and the stationary distribution of the event-type
  * Markov chain by exact-integer power iteration (the long-run state
  * mix a transition snapshot implies).
  */
object Wave49 {

  private val SketchK = 64
  private val ChainIters = 12

  // ---- sketch_kmv_intersect: KMV distinct-intersection ---------------

  /** KMV sketches over the md5-hashed user space (60-bit, uniform,
    * PORTABLE): per event type keep the k = 64 smallest hashes — a
    * bounded, mergeable state. est(S) = (k−1)·2⁶⁰ / h₍ₖ₎ in exact
    * integer division; the union sketch merges the two k-sets, and
    * inclusion–exclusion gives the intersection estimate. The exact
    * distinct intersection rides along to score the sketch. Only the
    * per-type top-k (TakeOrdered-shaped) touches data. */
  private val sketchKmvIntersect: Q = (s, dir) => {
    val h = Hashing.md5Long(
      concat(col("user_id").cast("string"), lit(":kmv")).cast("binary"))
    val hashed = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("user_id"))
      .distinct()
      .select(col("event_type"), h.as("h"), col("user_id"))
    val ranked = hashed
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy("h")))
      .filter(col("rk") <= SketchK)
    // est = floordiv((k−1)·2⁶⁰, h_k) in exact decimal arithmetic
    // (the numerator overflows BIGINT; pmod-subtract-divide is exact)
    import org.apache.spark.sql.types.DecimalType
    val numer = (lit(SketchK - 1).cast(DecimalType(38, 0)) *
      lit(1152921504606846976L)).cast(DecimalType(38, 0))
    def est(kth: org.apache.spark.sql.Column) =
      ((numer - pmod(numer, kth)) / kth).cast("long")
    // standard KMV small-set fallback: with fewer than k items the
    // sketch holds the whole set and the estimate is the exact count
    def estOrExact(cnt: org.apache.spark.sql.Column,
        hk: org.apache.spark.sql.Column) =
      when(cnt < SketchK, cnt.cast("long")).otherwise(est(hk))
    val kthA = ranked.filter(col("event_type") === "click")
      .agg(max("rk").cast("long").as("cnt_a"), max("h").as("ka"))
    val kthB = ranked.filter(col("event_type") === "purchase")
      .agg(max("rk").cast("long").as("cnt_b"), max("h").as("kb"))
    // union sketch: k smallest of the MERGED k-sets (provably equal to
    // the k smallest of the union — model-sized, ≤ 2k rows)
    val kthU = ranked.select(col("h")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy("h")))
      .filter(col("rk") <= SketchK)
      .agg(max("rk").cast("long").as("cnt_u"), max("h").as("ku"))
    val exact = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("user_id").agg(count(lit(1)).as("nt"))
      .agg(sum(when(col("nt") === 2, 1L).otherwise(0L)).as("exact_intersection"),
        count(lit(1)).as("exact_union"))
    kthA.crossJoin(kthB).crossJoin(kthU).crossJoin(exact)
      .select(
        estOrExact(col("cnt_a"), col("ka")).as("est_click"),
        estOrExact(col("cnt_b"), col("kb")).as("est_purchase"),
        estOrExact(col("cnt_u"), col("ku")).as("est_union"),
        (estOrExact(col("cnt_a"), col("ka")) + estOrExact(col("cnt_b"), col("kb")) -
          estOrExact(col("cnt_u"), col("ku"))).as("est_intersection"),
        col("exact_union"), col("exact_intersection"))
  }

  private val sketchKmvIntersectOracle =
    s"""WITH hashed AS (
       |  SELECT DISTINCT event_type,
       |    CAST(concat('0x', substr(md5(user_id || ':kmv'), 1, 15)) AS BIGINT) AS h,
       |    user_id
       |  FROM events WHERE event_type IN ('click', 'purchase')),
       |ranked AS (
       |  SELECT event_type, h,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
       |  FROM hashed),
       |kept AS (SELECT * FROM ranked WHERE rk <= $SketchK),
       |ka AS (SELECT CAST(MAX(rk) AS BIGINT) AS cnt, MAX(h) AS h FROM kept
       |       WHERE event_type = 'click'),
       |kb AS (SELECT CAST(MAX(rk) AS BIGINT) AS cnt, MAX(h) AS h FROM kept
       |       WHERE event_type = 'purchase'),
       |ku AS (
       |  SELECT CAST(MAX(rk) AS BIGINT) AS cnt, MAX(h) AS h FROM (
       |    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk
       |    FROM (SELECT DISTINCT h FROM kept)) WHERE rk <= $SketchK),
       |ex AS (
       |  SELECT CAST(SUM(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_intersection,
       |    CAST(count(*) AS BIGINT) AS exact_union
       |  FROM (SELECT user_id, count(*) AS nt
       |        FROM (SELECT DISTINCT event_type, user_id FROM events
       |              WHERE event_type IN ('click', 'purchase'))
       |        GROUP BY 1)),
       |est AS (
       |  SELECT
       |    CASE WHEN ka.cnt < $SketchK THEN ka.cnt ELSE
       |      CAST(CAST(${SketchK - 1} AS HUGEINT) * 1152921504606846976 // ka.h
       |        AS BIGINT) END AS est_click,
       |    CASE WHEN kb.cnt < $SketchK THEN kb.cnt ELSE
       |      CAST(CAST(${SketchK - 1} AS HUGEINT) * 1152921504606846976 // kb.h
       |        AS BIGINT) END AS est_purchase,
       |    CASE WHEN ku.cnt < $SketchK THEN ku.cnt ELSE
       |      CAST(CAST(${SketchK - 1} AS HUGEINT) * 1152921504606846976 // ku.h
       |        AS BIGINT) END AS est_union
       |  FROM ka, kb, ku)
       |SELECT est_click, est_purchase, est_union,
       |  est_click + est_purchase - est_union AS est_intersection,
       |  exact_union, exact_intersection
       |FROM est, ex""".stripMargin

  // ---- events_markov_steady: stationary distribution -----------------

  /** Stationary distribution of the per-user event-type chain:
    * transition counts from consecutive events (one lag window), then
    * 12 exact-integer power-iteration steps of π ← πP on the
    * #types² count table — each term (πᵢ·cᵢⱼ·10⁶) div rᵢ is a
    * deterministic integer, renormalized to 10⁶ each round, so both
    * engines walk the identical orbit. The counts table is
    * model-sized; only the lag pass touches data. */
  private val eventsMarkovSteady: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val trans = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("c"))
    // The transition matrix is event-type × event-type — MODEL-sized —
    // so the 12 power-iteration supersteps run on the DRIVER in exact
    // integers (the r07 model-state pattern): identical per-edge
    // (p·c div r) shares, identical praw·1e6 div tot renormalization.
    // Data-sized work is the one lead()-window transition aggregate;
    // the r06 loop paid a broadcast + checkpoint job per superstep.
    import s.implicits._
    val pmRows = trans.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rowTot: Map[String, Long] =
      pmRows.groupBy(_._1).map { case (src, xs) => src -> xs.map(_._3).sum }
    var pi: Map[String, Long] = rowTot.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to ChainIters) {
      val stepped = pmRows
        .filter { case (src, _, _) => pi.contains(src) }
        .map { case (src, dst, c) => dst -> (pi(src) * c / rowTot(src)) }
        .groupBy(_._1).map { case (dst, xs) => dst -> xs.map(_._2).sum }
      val tot = stepped.values.sum
      pi = stepped.map { case (st, praw) => st -> praw * 1000000L / tot }
    }
    pi.toSeq.sortBy(_._1)
      .map { case (st, p) => (st, p.toDouble / 1e6) }
      .toDF("event_type", "steady_prob")
      .orderBy("event_type")
  }

  private val eventsMarkovSteadyOracle: String = {
    val steps = (1 to ChainIters).map { r =>
      val pp = if (r == 1) "pi0" else s"pi${r - 1}"
      s"""st$r AS MATERIALIZED (
         |  SELECT pm.dst AS state, SUM(p.p * pm.c // pm.r) AS praw
         |  FROM pm JOIN $pp p ON pm.src = p.state GROUP BY pm.dst),
         |tt$r AS MATERIALIZED (SELECT SUM(praw) AS tot FROM st$r),
         |pi$r AS MATERIALIZED (
         |  SELECT state, CAST(praw * 1000000 // tot AS BIGINT) AS p
         |  FROM st$r, tt$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type,
       |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
       |  FROM events),
       |tr AS (
       |  SELECT event_type AS src,
       |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS dst
       |  FROM ev),
       |trans AS MATERIALIZED (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS c
       |  FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
       |rt AS (SELECT src, CAST(SUM(c) AS BIGINT) AS r FROM trans GROUP BY 1),
       |pm AS MATERIALIZED (SELECT t.src, t.dst, t.c, rt.r FROM trans t JOIN rt USING (src)),
       |pi0 AS (SELECT src AS state, CAST(1000000 AS BIGINT) AS p FROM rt),
       |$steps
       |SELECT state AS event_type, CAST(p AS DOUBLE) / 1e6 AS steady_prob
       |FROM pi$ChainIters ORDER BY event_type""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "sketch_kmv_intersect" -> sketchKmvIntersect,
    "events_markov_steady" -> eventsMarkovSteady
  )

  val oracles: Map[String, String] = Map(
    "sketch_kmv_intersect" -> sketchKmvIntersectOracle,
    "events_markov_steady" -> eventsMarkovSteadyOracle
  )
}
