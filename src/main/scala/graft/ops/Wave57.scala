package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 57: perceptual-hash media dedup + motif discovery —
  * the aHash (average-hash) near-duplicate pipeline over the multimodal
  * payload column (hash → banded bucketing → Hamming confirm: exactly
  * how 100 TB image-dedup runs, with the pixel histogram stood in by
  * the payload's symbol histogram since the container ships no codecs),
  * and nearest-pair motif discovery over the daily value series (the
  * matrix-profile read at calendar granularity).
  */
object Wave57 {

  // ---- multimodal_phash: banded average-hash near-dup -----------------

  /** Average-hash near-duplicate REPORT over the media payload
    * (documents.text standing in for decoded media, as in
    * ops/Multimodal): 64-bucket symbol histogram per payload, hash
    * bit i = bucket_i > mean (the aHash rule, decided in EXACT
    * integers: 64·cnt > total), 64-bit hash packed from four 16-bit
    * bands. The pair search runs on DISTINCT hashes — identical
    * payhashes collapse to one class row first (media corpora are
    * dominated by exact-duplicate classes; this is what makes the
    * search sublinear in pairs), then classes band-join (agree on ≥ 1
    * full 16-bit band — pigeonhole-complete for Hamming ≤ 3, standard
    * LSH recall for 4..6) and the Hamming ≤ 6 confirm is exact.
    * Output is the model-sized dedup report: per Hamming distance,
    * how many hash-class pairs and how many underlying DOC pairs
    * (class-size products; distance 0 = within-class pairs) — the
    * artifact a dedup policy decision actually consumes. */
  private val multimodalPhash: Q = (s, dir) => {
    val chars = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .select(col("doc_id"), pmod(ascii(col("ch")), lit(64)).as("bk"))
    val hist = chars.groupBy("doc_id", "bk").agg(count(lit(1)).as("c"))
    val tot = hist.groupBy("doc_id").agg(sum("c").as("tc"))
    val bits = hist.join(tot, "doc_id")
      .filter(col("c") * 64 > col("tc"))
      .select(col("doc_id"), col("bk"))
    val hash = bits
      .groupBy("doc_id")
      .agg(sum(expr("shiftleft(cast(1 as bigint), bk)")).as("ph"))
    // hash classes: one row per distinct hash, with its doc count
    val classes = hash.groupBy("ph").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val bands = classes.select(col("ph"), col("n"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bv", expr("shiftright(ph, 16 * band) & 65535"))
      .filter(col("bv") =!= 0)
    val candPairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.ph") < col("b.ph"))
      .select(col("a.ph").as("h1"), col("a.n").as("n1"),
        col("b.ph").as("h2"), col("b.n").as("n2")).distinct()
      .withColumn("hamming", expr("bit_count(h1 ^ h2)").cast("long"))
      .filter(col("hamming") <= 6)
    val cross = candPairs.groupBy("hamming")
      .agg(count(lit(1)).as("n_class_pairs"),
        sum(col("n1") * col("n2")).as("n_doc_pairs"))
    val within = classes.filter(col("n") >= 2)
      .agg(count(lit(1)).as("n_class_pairs"),
        sum(expr("n * (n - 1) div 2")).as("n_doc_pairs"))
      .select(lit(0L).as("hamming"), col("n_class_pairs"),
        coalesce(col("n_doc_pairs"), lit(0L)).as("n_doc_pairs"))
    within.union(
        cross.select(col("hamming"), col("n_class_pairs"), col("n_doc_pairs")))
      .orderBy("hamming")
  }

  private val multimodalPhashOracle =
    """WITH chars AS MATERIALIZED (
      |  SELECT doc_id, ord(ch) % 64 AS bk
      |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
      |  WHERE ch <> ''),
      |hist AS (SELECT doc_id, bk, CAST(count(*) AS BIGINT) AS c FROM chars GROUP BY 1, 2),
      |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tc FROM hist GROUP BY 1),
      |bits AS (
      |  SELECT h.doc_id, h.bk FROM hist h JOIN tot USING (doc_id)
      |  WHERE h.c * 64 > tot.tc),
      |hash AS (
      |  SELECT doc_id, CAST(SUM(1::BIGINT << bk) AS BIGINT) AS ph
      |  FROM bits GROUP BY 1),
      |classes AS MATERIALIZED (
      |  SELECT ph, CAST(count(*) AS BIGINT) AS n FROM hash GROUP BY 1),
      |bands AS MATERIALIZED (
      |  SELECT ph, n, band, (ph >> (16 * band)) & 65535 AS bv
      |  FROM classes CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
      |  WHERE (ph >> (16 * band)) & 65535 <> 0),
      |cand AS (
      |  SELECT DISTINCT a.ph AS h1, a.n AS n1, b.ph AS h2, b.n AS n2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.ph < b.ph),
      |cross_d AS (
      |  SELECT CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming,
      |    CAST(count(*) AS BIGINT) AS n_class_pairs,
      |    CAST(SUM(n1 * n2) AS BIGINT) AS n_doc_pairs
      |  FROM cand WHERE bit_count(xor(h1, h2)) <= 6
      |  GROUP BY 1),
      |within AS (
      |  SELECT CAST(0 AS BIGINT) AS hamming,
      |    CAST(count(*) AS BIGINT) AS n_class_pairs,
      |    CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS n_doc_pairs
      |  FROM classes WHERE n >= 2)
      |SELECT * FROM within
      |UNION ALL SELECT * FROM cross_d
      |ORDER BY hamming""".stripMargin

  // ---- timeseries_motif: nearest pair of weekly windows ---------------

  /** Motif discovery on the daily total-value series: the 5 closest
    * NON-OVERLAPPING pairs of 7-day windows by exact squared Euclidean
    * distance on cent-quantized daily sums (gap days count as 0 via an
    * explicit calendar spine). One data-sized pass builds the daily
    * table; windows and pairs live on the CALENDAR-sized spine (cost
    * ∝ days², offsets ≤ 7 — independent of row count, the matrix-
    * profile bound), joined per offset so distances are one grouped
    * sum of integer squares. */
  private val timeseriesMotif: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .groupBy(expr("floor(unix_timestamp(ts) / 86400)").cast("long").as("day"))
      .agg(sum(expr("cast(round(value * 100) as long)")).as("cents"))
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val cal = bounds.select(explode(expr("sequence(d0, d1)")).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("v"))
      .crossJoin(broadcast(bounds))
    // element rows: window i (start day), offset k in 0..6, value v(i+k)
    val e = cal
      .select(col("day"), col("v"), col("d0"), col("d1"),
        explode(expr("sequence(0, 6)")).as("k"))
      .withColumn("i", col("day") - col("k"))
      .filter(col("i") >= col("d0") && col("i") <= col("d1") - 6)
      .select(col("i"), col("k"), col("v"))
    e.as("a").join(e.as("b"),
        col("a.k") === col("b.k") && col("b.i") - col("a.i") >= 7)
      .groupBy(col("a.i").as("w1"), col("b.i").as("w2"))
      .agg(sum((col("a.v") - col("b.v")) * (col("a.v") - col("b.v"))).as("d2c"))
      .select(col("w1"), col("w2"),
        (col("d2c").cast("double") / 1e4).as("dist2"))
      .orderBy(col("dist2"), col("w1"), col("w2"))
      .limit(5)
  }

  private val timeseriesMotifOracle =
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
      |cal AS (
      |  SELECT s.day, COALESCE(daily.cents, 0) AS v
      |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds) s
      |  LEFT JOIN daily ON daily.day = s.day),
      |e AS MATERIALIZED (
      |  SELECT cal.day - k.k AS i, k.k, cal.v
      |  FROM cal CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) k, bounds
      |  WHERE cal.day - k.k >= bounds.d0 AND cal.day - k.k <= bounds.d1 - 6)
      |SELECT a.i AS w1, b.i AS w2,
      |  CAST(SUM((a.v - b.v) * (a.v - b.v)) AS DOUBLE) / 1e4 AS dist2
      |FROM e a JOIN e b ON a.k = b.k AND b.i - a.i >= 7
      |GROUP BY 1, 2
      |ORDER BY SUM((a.v - b.v) * (a.v - b.v)), w1, w2
      |LIMIT 5""".stripMargin

  val queries: Map[String, Q] = Map(
    "multimodal_phash" -> multimodalPhash,
    "timeseries_motif" -> timeseriesMotif
  )

  val oracles: Map[String, String] = Map(
    "multimodal_phash" -> multimodalPhashOracle,
    "timeseries_motif" -> timeseriesMotifOracle
  )
}
