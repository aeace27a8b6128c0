package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-9 wave 97: three LLM-pipeline operators new to the surface —
  * a REAL-codec audio decode path (the WAV twin of round-8's ImageIO
  * milestone: synthesize PCM16 audio, encode+decode through
  * `javax.sound.sampled`, feature-extract from the DECODED samples so
  * any codec corruption diverges the oracle hash), a Kirchenbauer-style
  * green-list watermark detector (the statistical test every
  * provenance-aware data pipeline runs on suspected model output), and
  * Bradley–Terry preference ratings (the aggregation step between
  * pairwise preference mining — wave 95 — and a reward model).
  */
object Wave97 {

  // ---- multimodal_decode_audio: real WAV codec roundtrip --------------

  /** Samples per synthetic clip (mono PCM16 @ 8 kHz). */
  val AudioN = 1024

  /** Deterministic PCM sample formula, portable to DuckDB: two md5-seeded
    * integer oscillators mixed mod 2^16, centered to signed 16-bit. All
    * intermediates < 2^47, so BIGINT-safe on both engines. */
  private[graft] def audioSample(h1: Long, h2: Long, tt: Long): Long =
    ((h1 + 1) * (tt + 7) + (h2 + 1) * tt * tt) % 65536L - 32768L

  /** Per-doc audio features, all exact integers except the IEEE-identical
    * floor(sqrt) RMS. b0..b7 = |v| div 4096 histogram (bin 7 absorbs the
    * single |v| = 32768 extreme). */
  case class AudioFeatures(doc_id: Long, n_samples: Int, sum_abs: Long,
      peak: Long, zero_cross: Long, rms_floor: Long,
      b0: Long, b1: Long, b2: Long, b3: Long,
      b4: Long, b5: Long, b6: Long, b7: Long)

  /** Synthesize the clip's PCM16 little-endian frames. */
  private[graft] def pcmBytes(h1: Long, h2: Long): Array[Byte] = {
    val out = new Array[Byte](AudioN * 2)
    var i = 0
    while (i < AudioN) {
      val v = audioSample(h1, h2, i.toLong).toInt
      out(2 * i) = (v & 0xff).toByte
      out(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** REAL encode: PCM frames through the JRE's WAV writer. */
  private[graft] def wavBytes(h1: Long, h2: Long): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcmBytes(h1, h2)), fmt, AudioN.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL decode: WAV container parsed by `AudioSystem`, frames read
    * back to signed samples. Lossless PCM is the contract — the oracle
    * replays features from the FORMULA, so a codec that flips one
    * sample diverges the hash (the image-op pattern, Multimodal). */
  private[graft] def decodeWav(wav: Array[Byte]): Array[Long] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val f = ais.getFormat
    require(f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian,
      s"unexpected decoded format: $f")
    val bytes = ais.readAllBytes()
    val n = bytes.length / 2
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1).toInt << 8)).toShort.toLong
      i += 1
    }
    out
  }

  private[graft] def featuresOf(docId: Long, samples: Array[Long]): AudioFeatures = {
    var sumAbs = 0L; var sumSq = 0L; var peak = 0L; var zc = 0L
    val bins = new Array[Long](8)
    var i = 0
    while (i < samples.length) {
      val v = samples(i)
      val a = math.abs(v)
      sumAbs += a; sumSq += a * a
      if (a > peak) peak = a
      if (i >= 1 && (v < 0) != (samples(i - 1) < 0)) zc += 1
      bins(math.min(a / 4096, 7L).toInt) += 1
      i += 1
    }
    val rms = math.floor(math.sqrt((sumSq / samples.length).toDouble)).toLong
    AudioFeatures(docId, samples.length, sumAbs, peak, zc, rms,
      bins(0), bins(1), bins(2), bins(3), bins(4), bins(5), bins(6), bins(7))
  }

  /** Encode + decode + feature-extract, fused in one narrow
    * mapPartitions pass per doc id — no payload ever shuffles, and the
    * per-clip work is embarrassingly parallel at any scale. Parallelism
    * comes from the SCAN's splits: every clip costs identical fixed work
    * (1024 samples), so scan-aligned distribution is already even and
    * the r9 round-robin `repartition(shuffle.partitions)` here paid an
    * exchange + sort-before-repartition of the typed rows for nothing
    * (r11 A/B: 2.5-2.9 s warm with it, 0.9-1.0 s without; the codec
    * itself measures ~70 ms for all 500 sf0.1 clips single-threaded). */
  private val multimodalDecodeAudio: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        Hashing.md5Long(concat(col("doc_id").cast("string"), lit("#audio"))
          .cast("binary")).as("hv"))
      .select(col("doc_id"), pmod(col("hv"), lit(65536L)).as("h1"),
        pmod(expr("hv div 65536"), lit(65536L)).as("h2"))
      .as[(Long, Long, Long)]
      .mapPartitions(_.map { case (id, h1, h2) =>
        featuresOf(id, decodeWav(wavBytes(h1, h2)))
      })
      .toDF()
      .orderBy("doc_id")
  }

  private val multimodalDecodeAudioOracle: String = {
    def bin(b: Int) =
      s"CAST(SUM(CASE WHEN LEAST(abs(v) // 4096, 7) = $b THEN 1 ELSE 0 END) AS BIGINT) AS b$b"
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
       |      '#audio')), 1, 15)) AS BIGINT) AS hv
       |  FROM documents),
       |p AS (SELECT doc_id, hv % 65536 AS h1, (hv // 65536) % 65536 AS h2
       |  FROM h),
       |s AS (
       |  SELECT doc_id, h1, h2, t,
       |    ((h1 + 1) * (t + 7) + (h2 + 1) * t * t) % 65536 - 32768 AS v
       |  FROM p, (SELECT unnest(generate_series(0, ${AudioN - 1})) AS t))
       |SELECT doc_id,
       |  CAST(count(*) AS INT) AS n_samples,
       |  CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
       |  MAX(abs(v)) AS peak,
       |  SUM(CASE WHEN t >= 1 AND ((v < 0) <>
       |    (((h1 + 1) * (t + 6) + (h2 + 1) * (t - 1) * (t - 1)) % 65536
       |      - 32768 < 0)) THEN 1 ELSE 0 END)::BIGINT AS zero_cross,
       |  CAST(FLOOR(sqrt(CAST(SUM(abs(v) * abs(v)) // count(*) AS DOUBLE)))
       |    AS BIGINT) AS rms_floor,
       |  ${(0 to 7).map(bin).mkString(",\n  ")}
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- text_watermark_detect: green-list z-test ------------------------

  /** Kirchenbauer-style watermark detector, γ = 1/2: token t is GREEN
    * given its predecessor iff md5(prev '#wm#' cur) is even — the
    * context-seeded green list a watermarking sampler would bias
    * toward. Per doc: scored bigrams, green count, one-proportion
    * z = (2g − n)/√n, and the z ≥ 2 suspicion flag (the fixture is
    * unwatermarked, so flags fire at the ~2.3% false-positive rate the
    * threshold implies — the DISTRIBUTION is the contract). Scales as
    * one narrow pass + a doc-keyed aggregate; no vocabulary state. */
  private val textWatermarkDetect: Q = (s, dir) => {
    val tok = Tables.load(s, dir, "documents")
      .select(col("doc_id"), posexplode(LlmPipeline.tokens(col("text"))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "w")
    val prev = lag(col("w"), 1).over(
      Window.partitionBy("doc_id").orderBy("p"))
    tok.withColumn("prev", prev)
      .filter(col("prev").isNotNull)
      .withColumn("green",
        Hashing.md5Bucket(
          concat(col("prev"), lit("#wm#"), col("w")).cast("binary"), 2) === 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("green"), 1L).otherwise(0L)).as("n_green"))
      .withColumn("z", (col("n_green") * 2L - col("n_scored")).cast("double") /
        sqrt(col("n_scored").cast("double")))
      .withColumn("suspect", col("z") >= 2.0)
      .orderBy("doc_id")
  }

  private val textWatermarkDetectOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${LlmPipeline.duckTokens}) AS w,
       |    generate_subscripts(${LlmPipeline.duckTokens}, 1) AS p
       |  FROM documents),
       |pr AS (
       |  SELECT doc_id, w,
       |    LAG(w) OVER (PARTITION BY doc_id ORDER BY p) AS prev
       |  FROM tok),
       |g AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
       |    CAST(SUM(CASE WHEN CAST(concat('0x', substr(md5(concat(prev,
       |      '#wm#', w)), 1, 15)) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_green
       |  FROM pr WHERE prev IS NOT NULL GROUP BY doc_id)
       |SELECT doc_id, n_scored, n_green,
       |  CAST(2 * n_green - n_scored AS DOUBLE) /
       |    sqrt(CAST(n_scored AS DOUBLE)) AS z,
       |  CAST(2 * n_green - n_scored AS DOUBLE) /
       |    sqrt(CAST(n_scored AS DOUBLE)) >= 2.0 AS suspect
       |FROM g ORDER BY doc_id""".stripMargin

  // ---- eval_bradley_terry: preference-pair ratings ---------------------

  private val BtIters = 10
  private val BtScale = 1000000000000L // 1e12 contribution grid

  /** Bradley–Terry source ratings from deterministic pairwise matches:
    * within each language, ADJACENT docs (by doc_id) play a match
    * between their sources, the longer token stream wins (ties void) —
    * #matches = #docs, one lead() window, never all-pairs. The
    * source×source win matrix is MODEL-SIZED (≤ sources², collected to
    * the driver — the r7 model-state pattern) and [[BtIters]]
    * minorize-maximize updates run in integer micro-ratings with 1e12
    * contribution quantization, so both engines replay the SAME
    * fixed-point: p_i ← W_i·1e12 div Σ_j (n_ij·1e12 div (p_i + p_j)).
    * The oracle unrolls the identical iterations as CTEs (symmetric
    * constant — fixture-pin ledger class "symmetric"). */
  private val evalBradleyTerry: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        size(LlmPipeline.tokens(col("text"))).cast("long").as("sc"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val matches = docs
      .withColumn("n_src", lead(col("source"), 1).over(w))
      .withColumn("n_sc", lead(col("sc"), 1).over(w))
      .filter(col("n_src").isNotNull && col("sc") =!= col("n_sc") &&
        col("source") =!= col("n_src"))
      .select(
        when(col("sc") > col("n_sc"), col("source")).otherwise(col("n_src"))
          .as("winner"),
        when(col("sc") > col("n_sc"), col("n_src")).otherwise(col("source"))
          .as("loser"))
      .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // driver-held model state: sources² win matrix
    val srcs = matches.flatMap(m => Seq(m._1, m._2)).distinct.sorted
    val wins: Map[String, Long] =
      srcs.map(s0 => s0 -> matches.filter(_._1 == s0).map(_._3).sum).toMap
    val games: Map[(String, String), Long] =
      matches.groupBy(m => if (m._1 < m._2) (m._1, m._2) else (m._2, m._1))
        .map { case (k, ms) => k -> ms.map(_._3).sum }
    def nOf(a: String, b: String): Long =
      games.getOrElse(if (a < b) (a, b) else (b, a), 0L)
    // BigInt MM update (the r7 model-state convention): n_ij and wins
    // scale with document count, so n_ij·1e12 wraps a plain Long past
    // ~9.2e6 matches per pair — silently, since this is driver-side
    // arithmetic with no ANSI guard. BigInt division truncates toward
    // zero exactly like Long `/` and DuckDB HUGEINT `//` on these
    // non-negative operands, so the fixed-point replay is unchanged.
    var r: Map[String, BigInt] = srcs.map(_ -> BigInt(1000000L)).toMap
    for (_ <- 1 to BtIters) {
      r = srcs.map { i =>
        val d = srcs.filter(j => j != i && nOf(i, j) > 0)
          .map(j => BigInt(nOf(i, j)) * BtScale / (r(i) + r(j))).sum
        i -> (if (d == 0) r(i) else BigInt(wins(i)) * BtScale / d)
      }.toMap
    }
    srcs.map(s0 => (s0,
        srcs.filter(_ != s0).map(j => nOf(s0, j)).sum,
        wins(s0), r(s0).toDouble / 1e6))
      .toSeq.toDF("source", "games", "wins", "rating")
      .orderBy("source")
  }

  private val evalBradleyTerryOracle: String = {
    def iter(k: Int): String = {
      val prev = if (k == 1) "r0" else s"r${k - 1}"
      s"""r$k AS MATERIALIZED (
         |  SELECT w.src,
         |    CASE WHEN SUM(CAST(g.n AS HUGEINT) * $BtScale // (ri.r + rj.r)) = 0
         |      THEN MAX(ri.r)
         |      ELSE CAST(MAX(w.wins) AS HUGEINT) * $BtScale
         |        // SUM(CAST(g.n AS HUGEINT) * $BtScale // (ri.r + rj.r))
         |    END AS r
         |  FROM wtot w
         |  JOIN gpair g ON g.a = w.src
         |  JOIN $prev ri ON ri.src = g.a
         |  JOIN $prev rj ON rj.src = g.b
         |  GROUP BY w.src)""".stripMargin
    }
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, lang, source,
       |    CAST(len(${LlmPipeline.duckTokens}) AS BIGINT) AS sc
       |  FROM documents),
       |m0 AS (
       |  SELECT source, sc,
       |    LEAD(source) OVER (PARTITION BY lang ORDER BY doc_id) AS n_src,
       |    LEAD(sc) OVER (PARTITION BY lang ORDER BY doc_id) AS n_sc
       |  FROM d),
       |mt AS MATERIALIZED (
       |  SELECT CASE WHEN sc > n_sc THEN source ELSE n_src END AS winner,
       |    CASE WHEN sc > n_sc THEN n_src ELSE source END AS loser
       |  FROM m0 WHERE n_src IS NOT NULL AND sc <> n_sc AND source <> n_src),
       |mw AS MATERIALIZED (SELECT winner, loser, CAST(count(*) AS BIGINT) AS n
       |  FROM mt GROUP BY 1, 2),
       |gpair AS MATERIALIZED (
       |  SELECT a, b, SUM(n) AS n FROM (
       |    SELECT winner AS a, loser AS b, n FROM mw
       |    UNION ALL SELECT loser, winner, n FROM mw) GROUP BY 1, 2),
       |wtot AS MATERIALIZED (
       |  SELECT s.src, COALESCE(w.n, 0) AS wins FROM
       |    (SELECT DISTINCT a AS src FROM gpair) s LEFT JOIN
       |    (SELECT winner AS src, SUM(n) AS n FROM mw GROUP BY 1) w
       |    USING (src)),
       |r0 AS MATERIALIZED (SELECT src, CAST(1000000 AS HUGEINT) AS r FROM wtot),
       |${(1 to BtIters).map(iter).mkString(",\n")}
       |SELECT w.src AS source,
       |  CAST((SELECT SUM(n) FROM gpair g WHERE g.a = w.src) AS BIGINT)
       |    AS games,
       |  CAST(w.wins AS BIGINT) AS wins, CAST(rr.r AS DOUBLE) / 1e6 AS rating
       |FROM wtot w JOIN r$BtIters rr ON rr.src = w.src
       |ORDER BY source""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "multimodal_decode_audio" -> multimodalDecodeAudio,
    "text_watermark_detect" -> textWatermarkDetect,
    "eval_bradley_terry" -> evalBradleyTerry)

  val oracles: Map[String, String] = Map(
    "multimodal_decode_audio" -> multimodalDecodeAudioOracle,
    "text_watermark_detect" -> textWatermarkDetectOracle,
    "eval_bradley_terry" -> evalBradleyTerryOracle)
}
