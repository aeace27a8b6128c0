package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 38: leakage-safe group k-fold assignment (folds respect
  * near-duplicate clusters, so no eval fold ever contains a near-copy
  * of a training document) and the binary-segmentation changepoint
  * estimate (argmax of the centered CUSUM statistic — WHERE a series'
  * mean shifted, complementing events_cusum's "did it drift" alarm).
  */
object Wave38 {

  // ---- sample_group_kfold: cluster-aware cross-validation folds ------

  /** Group 5-fold assignment where the group is the near-dup component
    * (dedup_components' materialized cluster table): a document's fold
    * is md5(group-representative) mod 5, so every member of a dup
    * cluster — and every singleton — lands in EXACTLY one fold. This
    * is the eval-integrity fix for the classic leak where a paraphrase
    * of a training document sits in the validation fold and inflates
    * the score. Reads the cached component table (one extra broadcast-
    * sized left join at this fixture; hash-partitioned at scale), one
    * aggregate. The zero-spanning property is structural (fold is a
    * function of the group), and the spec additionally proves it by
    * replaying cluster membership. */
  private val sampleGroupKfold: Q = (s, dir) => {
    val comp = Wave3.queries("dedup_components")(s, dir)
      .select(col("doc_id"), col("component"))
    val grp = Tables.load(s, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("grp"))
    grp
      .withColumn("fold",
        Hashing.md5Bucket(col("grp").cast("string").cast("binary"), 5))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"), countDistinct("grp").as("n_groups"))
      .orderBy("fold")
  }

  private val sampleGroupKfoldOracle =
    s"""WITH comp AS (${Wave3.oracles("dedup_components")}),
       |g AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS grp
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |f AS (
       |  SELECT doc_id, grp,
       |    CAST(concat('0x', substr(md5(CAST(grp AS VARCHAR)), 1, 15)) AS BIGINT) % 5
       |      AS fold
       |  FROM g)
       |SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT grp) AS BIGINT) AS n_groups
       |FROM f GROUP BY fold ORDER BY fold""".stripMargin

  // ---- events_changepoint: binary-segmentation mean shift ------------

  /** Changepoint per event type by binary segmentation's first split:
    * τ = argmax over t ∈ [1, n−1] of |n·cum_t − t·S_n| (the centered
    * CUSUM statistic scaled by n — kept in exact DECIMAL(38,0) so the
    * argmax never rides float error), with pre/post means of the split
    * it induces. Rank and prefix sum both come from the two-phase
    * range-partition kernels — a hot event type never serializes onto
    * one task — and the argmax is one max(struct) aggregate with a
    * deterministic earliest-τ tie-break. The "WHERE did the level
    * shift" read that turns events_cusum's alarm into an action. */
  private val eventsChangepoint: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"), col("event_id"), col("ts"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
    val ord = Seq(col("ts").asc, col("event_id").asc)
    // rank, group size, running sum AND group total in ONE fused kernel
    // pass (guide §2.4): the r9 form paid two full kernel passes (rank,
    // then prefix sum) plus a separate group-total aggregate and its
    // broadcast join — all four columns derive from the same
    // (partition × group) offset table
    val cum = Ranks.perGroupRankAndPrefixSum(ev, Seq("event_type"), ord,
      col("v"), "t", "n", "cum", "sn", ConfScope.shufflePartitions(s))
    val stat = cum
      .filter(col("t") < col("n"))
      .withColumn("g",
        abs(col("cum").cast(DecimalType(38, 0)) * col("n") -
          col("t").cast(DecimalType(38, 0)) * col("sn")))
    stat
      .groupBy("event_type")
      .agg(max(struct(col("g"), (-col("t")).as("negt"), col("n").as("n"),
        col("cum").as("cumt"), col("sn").as("snt"))).as("m"))
      .select(col("event_type"),
        col("m.n").as("n"),
        (-col("m.negt")).as("tau"),
        round(col("m.cumt").cast("double") / (-col("m.negt")).cast("double")
          / 1e6, 6).as("pre_mean"),
        round((col("m.snt") - col("m.cumt")).cast("double") /
          (col("m.n") - (-col("m.negt"))).cast("double") / 1e6, 6).as("post_mean"))
      .withColumn("delta", round(col("post_mean") - col("pre_mean"), 6))
      .orderBy("event_type")
  }

  private val eventsChangepointOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id, ts,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events),
      |c AS (
      |  SELECT event_type, event_id,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
      |    CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    CAST(SUM(v) OVER (PARTITION BY event_type) AS BIGINT) AS sn
      |  FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
      |g AS (
      |  SELECT *, ABS(CAST(cum AS HUGEINT) * n - CAST(t AS HUGEINT) * sn) AS stat
      |  FROM c WHERE t < n),
      |best AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY stat DESC, t ASC) AS rk
      |  FROM g)
      |SELECT event_type, n, t AS tau,
      |  round(CAST(cum AS DOUBLE) / t / 1e6, 6) AS pre_mean,
      |  round(CAST(sn - cum AS DOUBLE) / (n - t) / 1e6, 6) AS post_mean,
      |  round(round(CAST(sn - cum AS DOUBLE) / (n - t) / 1e6, 6)
      |    - round(CAST(cum AS DOUBLE) / t / 1e6, 6), 6) AS delta
      |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "sample_group_kfold" -> sampleGroupKfold,
    "events_changepoint" -> eventsChangepoint
  )

  val oracles: Map[String, String] = Map(
    "sample_group_kfold" -> sampleGroupKfoldOracle,
    "events_changepoint" -> eventsChangepointOracle
  )
}
