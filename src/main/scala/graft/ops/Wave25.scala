package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 25: filtered vector search (ANN under a metadata
  * predicate — the retrieval shape every RAG stack with access control
  * or facet filters runs), lag-k autocorrelation of the daily series
  * (the seasonality/persistence diagnostic), and the reproducible shard
  * manifest (the data-card artifact a training run records).
  */
object Wave25 {

  // ---- sim_ann_filtered: ANN under a metadata predicate --------------

  /** Filtered ANN: top-10 by cosine among vectors with label = 3 only
    * (the query vector's own label is 2 — a genuine cross-label
    * search). PRE-filter strategy: the label predicate applies AT THE
    * SCAN, before bucketing, so the index work is proportional to the
    * filtered corpus — the right side of the pre/post-filter tradeoff
    * when the predicate is selective and pushed down (the planner
    * shows it in PushedFilters). Recall under filtering is recovered
    * by multi-probing radius-1 cells (filtered cells are sparser, so
    * the probe set widens). The whole pipeline rides Wave9's
    * engine-portable md5 plane bank — hash-checked end to end. */
  private val simAnnFiltered: Q = (s, dir) => {
    val masks = 0 +: (0 until 4).map(1 << _)
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    def dot(tb: Int, p: Int): Column =
      aggregate(zip_with(col("v"), typedLit(Wave9.lshW(tb)(p)), (x, y) => x * y),
        lit(0.0), (a, x) => a + x)
    def bucket(tb: Int): Column =
      (0 until 4).map(p => when(dot(tb, p) >= 0, lit(1 << p)).otherwise(lit(0)))
        .reduce(_ + _)
    val filtered = e.filter(col("label") === 3 && col("vec_id") =!= 0)
    val buckets = filtered.select(col("vec_id"),
      posexplode(array((0 until 8).map(bucket): _*)).as(Seq("table", "bucket")))
    val qCells = e.filter(col("vec_id") === 0)
      .select(posexplode(array((0 until 8).map(bucket): _*)).as(Seq("qt", "qb0")))
      .select(col("qt"), explode(typedLit(masks)).as("mask"), col("qb0"))
      .select(col("qt"), col("qb0").bitwiseXOR(col("mask")).as("qb"))
      .distinct()
    val candIds = buckets
      .join(broadcast(qCells), col("table") === col("qt") && col("bucket") === col("qb"))
      .select("vec_id").distinct()
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    filtered.join(candIds, "vec_id").crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(10)
  }

  private val simAnnFilteredOracle: String = {
    val masks = 0 +: (0 until 4).map(1 << _)
    val bCols = (0 until 8).map(tb => s"${Wave9.duckBucketSql(tb)} AS b$tb")
      .mkString(",\n  ")
    val orPred = (0 until 8).map { tb =>
      val cells = masks.map(m => s"xor(qb.b$tb, $m)").mkString(", ")
      s"x.b$tb IN ($cells)"
    }.mkString(" OR ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS MATERIALIZED (SELECT vec_id,
       |  $bCols
       |  FROM e WHERE label = 3 AND vec_id <> 0),
       |qb AS (SELECT vec_id,
       |  $bCols
       |  FROM e WHERE vec_id = 0),
       |cand AS (SELECT DISTINCT x.vec_id FROM b x, qb WHERE ($orPred)),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id, ROUND(list_aggregate(list_transform(list_zip(v, qv), x -> x[1] * x[2]), 'sum')
       |  / (SQRT(list_aggregate(list_transform(v, x -> x*x), 'sum')) * SQRT(list_aggregate(list_transform(qv, x -> x*x), 'sum'))), 6) AS cos
       |FROM e JOIN cand USING (vec_id) CROSS JOIN q
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  // ---- profile_autocorr: lag-k autocorrelation of the daily series ---

  /** Lag-1..7 autocorrelation of daily total value per event type:
    * r_k = sum(dev_t * dev_{t+k}) / sum(dev^2) over calendar-day pairs
    * where both days exist. The daily rollup is one aggregation (the
    * series is date-bounded — model-sized); deviations use the exact
    * floor-mean (CUSUM's convention) so every product is an exact
    * integer, DECIMAL(38,0)-summed; r_k is one rounded division. The
    * lag join keys on (type, dayidx + k) — co-partitioned, no window. */
  private val profileAutocorr: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .select(col("event_type"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("dayidx"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v"))
      .groupBy("event_type", "dayidx").agg(sum("v").as("tot"))
    val mu = daily.groupBy("event_type")
      .agg(expr("CAST(SUM(tot) DIV COUNT(1) AS BIGINT)").as("mu"))
    val dev = daily.join(broadcast(mu), "event_type")
      .select(col("event_type"), col("dayidx"), (col("tot") - col("mu")).as("dev"))
    // cast BEFORE the multiply: dev is a LONG daily-total deviation
    // (micro-units), so dev² overflows long past |dev| ~ 3e9 — hit at
    // sf0.1 (ANSI throws; found by the r10 full-surface sf0.1 oracle
    // run). The decimal product is bit-identical where long didn't
    // overflow, so small-SF hashes are unchanged.
    val den = dev.groupBy("event_type")
      .agg(sum(col("dev").cast("decimal(38,0)") * col("dev")).as("ss"))
    val lags = dev.withColumn("k", explode(lit((1 to 7).toArray)))
    val pairs = lags.alias("a")
      .join(dev.alias("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.dayidx") === col("a.dayidx") + col("a.k"))
      .groupBy(col("a.event_type").as("event_type"), col("a.k").as("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a.dev").cast("decimal(38,0)") * col("b.dev")).as("sp"))
    pairs.join(broadcast(den), "event_type")
      .select(col("event_type"), col("k").cast("bigint").as("k"), col("n_pairs"),
        round(col("sp").cast("double") / col("ss").cast("double"), 6).as("r"))
      .orderBy("event_type", "k")
  }

  private val profileAutocorrOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS dayidx,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS tot
      |  FROM events GROUP BY 1, 2),
      |mu AS (SELECT event_type, CAST(SUM(tot) // COUNT(*) AS BIGINT) AS mu
      |       FROM daily GROUP BY 1),
      |dev AS (SELECT d.event_type, d.dayidx, d.tot - m.mu AS dev
      |        FROM daily d JOIN mu m USING (event_type)),
      |den AS (SELECT event_type, SUM(CAST(dev AS HUGEINT) * dev) AS ss
      |        FROM dev GROUP BY 1),
      |ks AS (SELECT unnest(range(1, 8)) AS k),
      |pairs AS (
      |  SELECT a.event_type, k.k, CAST(count(*) AS BIGINT) AS n_pairs,
      |    SUM(CAST(a.dev AS HUGEINT) * b.dev) AS sp
      |  FROM dev a CROSS JOIN ks k
      |  JOIN dev b ON b.event_type = a.event_type AND b.dayidx = a.dayidx + k.k
      |  GROUP BY 1, 2)
      |SELECT p.event_type, CAST(p.k AS BIGINT) AS k, p.n_pairs,
      |  round(CAST(p.sp AS DOUBLE) / CAST(d.ss AS DOUBLE), 6) AS r
      |FROM pairs p JOIN den d USING (event_type)
      |ORDER BY event_type, k""".stripMargin

  // ---- corpus_manifest: the reproducible shard data card -------------

  /** Per-shard manifest of the training layout shuffle_global produces:
    * document count, token mass, char mass, and an ORDER-INDEPENDENT
    * content checksum (sum of 60-bit md5 content hashes, exact in
    * DECIMAL — commutative, so shard-internal read order can't change
    * it). Re-running the pipeline on the same corpus reproduces the
    * manifest bit-for-bit; any upstream drift (a changed doc, a lost
    * doc) flips the checksum. One narrow map + one aggregation. */
  private val corpusManifest: Q = (s, dir) => {
    val h = md5(col("doc_id").cast("string").cast("binary"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        pmod(Hashing.md5HexLong(h), lit(8)).as("shard"),
        Hashing.md5Long(col("text").cast("binary")).as("chash"),
        ((col("n_chars") + 3) / lit(4)).cast("long").as("toks_est"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks_est").as("tokens_est"),
        sum("n_chars").as("chars"),
        sum(col("chash").cast("decimal(38,0)")).cast("decimal(38,0)")
          .cast("string").as("content_sum"))
      .orderBy("shard")
  }

  private val corpusManifestOracle =
    """SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM((n_chars + 3) // 4) AS BIGINT) AS tokens_est,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars,
      |  CAST(SUM(CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS HUGEINT)) AS VARCHAR) AS content_sum
      |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin

  val queries: Map[String, Q] = Map(
    "sim_ann_filtered" -> simAnnFiltered,
    "profile_autocorr" -> profileAutocorr,
    "corpus_manifest" -> corpusManifest
  )

  val oracles: Map[String, String] = Map(
    "sim_ann_filtered" -> simAnnFilteredOracle,
    "profile_autocorr" -> profileAutocorrOracle,
    "corpus_manifest" -> corpusManifestOracle
  )
}
